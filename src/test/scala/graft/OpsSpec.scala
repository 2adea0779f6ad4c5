package graft

import graft.ops.{AsofJoin, Chunking, Dedup, Graph, Multimodal, Retrieval, Similarity, TextStats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the [EXT] operators, including the approximate↔exact
  * relationships the DuckDB oracle can't express: MinHash/LSH recall vs
  * exact Jaccard, ANN recall vs exact top-k, SimHash self-consistency.
  *
  * Note on log noise: every `WindowExec: No Partition Defined` warning
  * in this suite's run comes from a documented oracle/spec RANK TWIN
  * (fixture-sized frames ranked globally to mirror the DuckDB oracle's
  * total order) — the production operators use the partitioned or
  * window-free forms; ScaleSpec audits that. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("4")
  val dir = "/root/testdata/sf0.01" // 500 docs incl. planted near-dup pairs

  lazy val docs = Tables.documents(spark, dir)
  lazy val emb = Tables.embeddings(spark, dir)

  // x149's full-oracle validity rests on these pins running the SAME
  // dials the gated query serves — one shared constant, zero drift
  val lshDials = Dedup.lshProductionDials

  test("minhash-LSH finds every exact-Jaccard>=0.5 pair (planted dups)") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang",
        lshDials.n, lshDials.jaccardThreshold)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 5, s"expected planted near-dup pairs, got $exact")
    val approx = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = lshDials.n, nHashes = lshDials.nHashes, bands = lshDials.bands,
        threshold = lshDials.lshThreshold)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(approx),
      s"missed pairs: ${exact -- approx} (approx found ${approx.size})")
  }

  test("LSH scale path == exact path end-to-end: verify, clusters, retention") {
    import spark.implicits._
    // the production chain: LSH candidates → exact verify → CC → keep-one
    val cands = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = lshDials.n, nHashes = lshDials.nHashes, bands = lshDials.bands,
      threshold = lshDials.lshThreshold)
    val verified = Dedup.verifyPairsJaccard(docs, "doc_id", "text", "lang",
      cands, n = lshDials.n, threshold = lshDials.jaccardThreshold)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang",
      lshDials.n, lshDials.jaccardThreshold)
    // verified edges equal the exact quadratic path's edges, values included
    val vRows = verified.orderBy("a_id", "b_id")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    val eRows = exact.orderBy("a_id", "b_id")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(vRows == eRows, s"verify diverged from exact: $vRows vs $eRows")
    // and the full retention set equals the exact path's retention set
    val comp = Dedup.connectedComponents(docs.select("doc_id"), "doc_id",
      verified.select("a_id", "b_id"))
    val keptScale = Dedup.keepClusterRepresentatives(docs, "doc_id", comp)
      .select("doc_id").as[Long].collect().toSet
    val compExact = Dedup.connectedComponents(docs.select("doc_id"), "doc_id",
      exact.select("a_id", "b_id"))
    val keptExact = Dedup.keepClusterRepresentatives(docs, "doc_id", compExact)
      .select("doc_id").as[Long].collect().toSet
    assert(keptScale == keptExact,
      s"retention diverged: only-scale=${keptScale -- keptExact} only-exact=${keptExact -- keptScale}")
    assert(keptScale.size < docs.count(), "expected at least one dup removed")
  }

  test("near-dup dedup joins a pair at exactly Jaccard 0.5, which MinHash-LSH misses") {
    import spark.implicits._
    // 11 words each, apart in the 6th: 9 distinct trigrams each, 6 shared
    val docs = Seq(
      (82L, "hash merge data window column join spark big key part customer", "en"),
      (150L, "hash merge data window column fast spark big key part customer", "en"),
      (7L, "a third document that shares no trigram with either", "en"))
      .toDF("doc_id", "text", "lang")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 3, 0.5)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(exact == Seq((82L, 150L, 6L, 9L, 9L, 0.5)))
    // no band of the pair's signatures agrees, whatever the estimate cut
    assert(Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, threshold = 0.0).isEmpty)
    val kept = Dedup.nearDupDedup(docs, "doc_id", "text", blockCol = "lang")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(7L, 82L))
    graft.ops.Caches.releaseAll()
  }

  test("dedup-rate ladder: dials ≡ independent chains; tightening τ only drops") {
    val taus = Seq(0.5, 0.8)
    val ladder = Dedup.dedupRateLadder(docs, "doc_id", "text", "lang", 3, taus)
      .orderBy("tau_permille").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ladder.map(_._1).toSeq == Seq(500, 800))
    assert(ladder(0)._2 > 0 && ladder(0)._3 > 0,
      "fixture must contain planted dup pairs at the loosest dial")
    // threshold sets nest: tightening τ can only drop pairs/removables
    assert(ladder(0)._2 >= ladder(1)._2 && ladder(0)._4 >= ladder(1)._4)
    // each dial row equals an INDEPENDENT pair build + components chain
    val nDocs = docs.count()
    taus.zipWithIndex.foreach { case (t, i) =>
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 3, t)
      val comp = Dedup.connectedComponents(docs.select("doc_id"), "doc_id",
        pairs.select("a_id", "b_id"))
      val sizes = comp.groupBy("cluster_id").count()
      val expect = (math.round(t * 1000).toInt, pairs.count(),
        sizes.filter(col("count") >= 2).count(), nDocs - sizes.count())
      assert(ladder(i) == expect, s"dial $t: ${ladder(i)} vs $expect")
    }
  }

  test("minhash signature estimates Jaccard within 0.25 of exact") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 3, 0.5)
      .select(col("a_id"), col("b_id"), col("jac"))
    val est = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.0)
    val joined = exact.join(est, Seq("a_id", "b_id"))
      .select(abs(col("jac") - col("est_jac"))).collect().map(_.getDouble(0))
    assert(joined.nonEmpty && joined.forall(_ <= 0.25),
      s"estimate errors: ${joined.mkString(",")}")
  }

  test("simhash: near-identical docs collide, hamming bounded") {
    import spark.implicits._
    // The planted trigram-Jaccard≥0.8 pairs sit at hamming 1..7 of the
    // 63-bit simhash; 8-chunk blocking guarantees recall through hamming 7 (pigeonhole bound).
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 7)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 3, 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val found = pairs.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.intersect(found) == exact,
      s"simhash missed high-sim pairs: ${exact -- found}")
    assert(pairs.collect().forall(_.getAs[Int]("hamming") <= 7))
  }

  test("block dedup: cross-doc boilerplate drops once, unique content survives in order") {
    import spark.implicits._
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ") // one 8-token block at blockTokens=8
    val planted = Seq(
      (1L, s"$boiler u1 u2 u3 u4 u5 u6 u7 u8"),   // first occurrence: keeps both blocks
      (2L, s"$boiler v1 v2 v3 v4 v5 v6 v7 v8"),   // boilerplate block drops, unique stays
      (3L, boiler)                                  // ONLY the boilerplate: doc drops out
    ).toDF("doc_id", "text")
    val got = Dedup.blockDedup(planted, "doc_id", "text", blockTokens = 8)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, s"$boiler u1 u2 u3 u4 u5 u6 u7 u8", 2L),
      (2L, "v1 v2 v3 v4 v5 v6 v7 v8", 1L)))
    // reassembly order: a doc with 3 blocks keeps them in original order
    val multi = Seq((7L, ((1 to 24).map(i => s"w$i")).mkString(" "))).toDF("doc_id", "text")
    val back = Dedup.blockDedup(multi, "doc_id", "text", blockTokens = 8)
      .as[(Long, String, Long)].collect().head
    assert(back == ((7L, (1 to 24).map(i => s"w$i").mkString(" "), 3L)))
  }

  test("native minhash signatures == HOF-composed, both families, incl. null grams") {
    import spark.implicits._
    val grams = docs.withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(array_distinct(transform(sequence(lit(1), size(col("toks")) - 2),
        i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1),
          element_at(col("toks"), i + 2)))).as("g"))
    val real = grams.select(
      Dedup.minhashSignature(col("g"), 64).as("nf"),
      Dedup.minhashSignatureComposed(col("g"), 64).as("cf"),
      Dedup.portableMinhashSignature(col("g"), 64).as("np"),
      Dedup.portableMinhashSignatureComposed(col("g"), 64).as("cp"))
    assert(real.filter(col("nf") =!= col("cf") || col("np") =!= col("cp")).count() == 0)
    val edge = Seq((1L, Seq[String]("a b c", null)), (2L, Seq.empty[String]))
      .toDF("id", "g")
    val both = edge.select(
      Dedup.minhashSignature(col("g"), 8).as("nf"),
      Dedup.minhashSignatureComposed(col("g"), 8).as("cf"),
      Dedup.portableMinhashSignature(col("g"), 8).as("np"),
      Dedup.portableMinhashSignatureComposed(col("g"), 8).as("cp")).collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"fast family diverged: $r")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3), s"portable family diverged: $r")
    }
  }

  test("native simhash63 == HOF-composed simhash63 bit-for-bit (incl. null tokens)") {
    import spark.implicits._
    val real = docs.select(
      Dedup.simhash63(graft.ops.TextStats.tokens(col("text"))).as("native"),
      Dedup.simhash63Composed(graft.ops.TextStats.tokens(col("text"))).as("composed"))
    assert(real.filter(col("native") =!= col("composed")).count() == 0)
    val edge = Seq(
      (1L, Seq[String]("a", null, "b")), // null token votes -1 everywhere
      (2L, Seq.empty[String])            // empty → sig 0
    ).toDF("id", "toks")
    val both = edge.select(Dedup.simhash63(col("toks")).as("n"),
        Dedup.simhash63Composed(col("toks")).as("c")).collect()
    assert(both.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("simhash wide chunks (4x16-bit): identical pairs within the guaranteed radius") {
    import spark.implicits._
    // at hamming <= 3 both 8x8 and 4x16 blocking are EXACT (pigeonhole
    // holds for each), so the chunk width must not change the result —
    // only the candidate fan-in (the corpus-scale dial)
    def pairSet(bits: Int) =
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, chunkBits = bits)
        .select("a_id", "b_id", "hamming").as[(Long, Long, Int)].collect().toSet
    val narrow = pairSet(8)
    val wide = pairSet(16)
    assert(narrow == wide, s"diff: ${narrow.diff(wide)} / ${wide.diff(narrow)}")
    assert(intercept[IllegalArgumentException](
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 4, chunkBits = 16))
      .getMessage.contains("4-chunk blocking"))
  }

  test("ANN top-k recall >= 0.6 vs exact top-k, and never false-positives scores") {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val exact = Similarity.topKCosine(rest, "embedding", "vec_id", q, 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = Similarity.annTopKCosine(rest, "embedding", "vec_id", q, 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val recall = ann.keySet.intersect(exact.keySet).size.toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall $recall too low")
    // scores of common ids must be identical (same exact rescoring)
    ann.keySet.intersect(exact.keySet).foreach(id => assert(ann(id) == exact(id)))
  }

  test("banded ANN probe: planted >=0.95-cosine neighbors all retrieved, scores exact") {
    import spark.implicits._
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    // five near-copies of the query (one component nudged 1% → cos ≈
    // 0.9999): the S-curve puts a single 8-bit band collision at ≈ 0.96
    // and any-of-16 at ≈ 1 − 1e-23 — deterministic planes, cannot flake
    val planted = (1 to 5).map { i =>
      (1000000L + i, q.updated(i, q(i) + 0.01 * (q(i).abs + 1e-3)))
    }
    val corpus = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .union(planted.toDF("vec_id", "embedding"))
    val got = Similarity.annTopKCosineBanded(corpus, "embedding", "vec_id", q, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    planted.foreach { case (id, _) =>
      assert(got.contains(id), s"banded probe missed planted neighbor $id; got ${got.keySet}")
      assert(got(id) >= 0.999, s"planted neighbor $id rescored ${got(id)}")
    }
    // rescoring is exact: every returned score equals the brute-force score
    val exact = Similarity.topKCosine(corpus, "embedding", "vec_id", q, 1000000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (id, s) => assert(s == exact(id), s"score drift for $id") }
  }

  test("batch ANN serving equals the single-query banded probe for every query") {
    val all = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val queries = all.filter(col("vec_id") % 50 === 0)
    val corpus = all.filter(col("vec_id") % 50 =!= 0)
    val batch = Similarity.annProbeBandedAll(corpus, queries,
        "embedding", "vec_id", "vec_id", k = 5)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    assert(batch.nonEmpty)
    val idx = Similarity.annBuildBandIndex(corpus, "embedding", "vec_id")
    queries.collect().foreach { qr =>
      val qid = qr.getLong(0)
      val single = Similarity.annProbeBanded(corpus, idx, "embedding", "vec_id",
          qr.getSeq[Double](1), k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch.getOrElse(qid, Seq.empty) == single,
        s"query $qid: batch path ${batch.get(qid)} != single-probe path $single")
    }
  }

  test("banded ANN probe: wrong-dims query fails loudly before any job") {
    val e = intercept[IllegalArgumentException] {
      Similarity.annProbeBanded(emb, Similarity.annBuildBandIndex(
          emb.filter(col("vec_id") =!= 0), "embedding", "vec_id"),
        "embedding", "vec_id", Seq(1.0, 2.0), k = 5)
    }
    assert(e.getMessage.contains("2-dim query"))
  }

  test("IVF top-k: scores exact on candidates, recall bounded below") {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val exact = Similarity.topKCosine(rest, "embedding", "vec_id", q, 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = Similarity.ivfTopKCosine(rest, "embedding", "vec_id", q, 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ivf.size == 20)
    val recall = ivf.keySet.intersect(exact.keySet).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall $recall (nProbe=4/16 on diffuse random data)")
    ivf.keySet.intersect(exact.keySet).foreach(id => assert(ivf(id) == exact(id)))
  }

  test("two-phase ANN: signatures persisted to parquet then probed == one-shot ANN") {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigs")
    try {
      Similarity.annBuildSignatures(rest, "embedding", "vec_id")
        .write.mode("overwrite").parquet(s"$tmp/sigs")
      val probed = Similarity.annProbe(spark.read.parquet(s"$tmp/sigs"),
        "embedding", "vec_id", q, 20).collect().map(r => (r.getLong(0), r.getDouble(1)))
      val oneShot = Similarity.annTopKCosine(rest, "embedding", "vec_id", q, 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(probed.toSeq == oneShot.toSeq)
    } finally graft.util.Fs.deleteTree(tmp)
  }

  test("annProbe fails loudly on a dims-mismatched index, even when every " +
       "row would fail the Hamming prefilter") {
    import spark.implicits._
    // a stored index of 8-dim vectors probed with a 4-dim query: the guard
    // must raise BEFORE the prefilter can silently drop the mismatched rows
    val idx = Similarity.annBuildSignatures(
      Seq((1L, Array.fill(8)(1.0)), (2L, Array.fill(8)(-1.0)))
        .toDF("vec_id", "embedding"), "embedding", "vec_id", nBits = 16, dims = 8)
    val e = intercept[Exception] {
      Similarity.annProbe(idx, "embedding", "vec_id",
        Seq(1.0, 2.0, 3.0, 4.0), k = 5).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("annProbe: 4-dim query")), msgs(e).mkString(" | "))
  }

  test("k-means-trained IVF: recall bounded, scores exact on candidates") {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val exact = Similarity.topKCosine(rest, "embedding", "vec_id", q, 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (cents, assigned) = Similarity.ivfBuildKmeans(rest, "embedding", "vec_id")
    val ivf = Similarity.ivfProbe(cents, assigned, "vec_id", q, 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ivf.size == 20)
    val recall = ivf.keySet.intersect(exact.keySet).size.toDouble / exact.size
    assert(recall >= 0.2, s"trained-IVF recall $recall")
    ivf.keySet.intersect(exact.keySet).foreach(id => assert(ivf(id) == exact(id)))
  }

  test("two-phase IVF: index persisted to parquet then probed == one-shot IVF") {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf")
    try {
      val (centroids, assigned) = Similarity.ivfBuild(rest, "embedding", "vec_id")
      centroids.write.mode("overwrite").parquet(s"$tmp/centroids")
      assigned.write.mode("overwrite").parquet(s"$tmp/assigned")
      val probed = Similarity.ivfProbe(
        spark.read.parquet(s"$tmp/centroids"), spark.read.parquet(s"$tmp/assigned"),
        "vec_id", q, 20).collect().map(r => (r.getLong(0), r.getDouble(1)))
      val oneShot = Similarity.ivfTopKCosine(rest, "embedding", "vec_id", q, 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(probed.toSeq == oneShot.toSeq)
    } finally graft.util.Fs.deleteTree(tmp)
  }

  test("LSH-blocked cosine pairs are a subset of exact pairs") {
    import spark.implicits._
    val exact = Similarity.exactCosinePairs(emb, "embedding", "vec_id", 0.45)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val blocked = Similarity.cosineNearDupPairs(emb, "embedding", "vec_id", 0.45)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(blocked.subsetOf(exact))
  }

  test("semanticDedup keeps exactly the cluster representatives + singletons") {
    import spark.implicits._
    val kept = Similarity.semanticDedup(emb, "embedding", "vec_id", 0.45)
      .select("vec_id").as[Long].collect().toSet
    val comp = Dedup.connectedComponents(emb.select(col("vec_id")), "vec_id",
      Similarity.cosineNearDupPairs(emb, "embedding", "vec_id", 0.45)
        .select("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val reps = comp.filter { case (id, c) => id == c }.map(_._1).toSet
    assert(kept == reps)
    assert(kept.size == comp.length - comp.count { case (id, c) => id != c })
  }

  test("banded LSH recall: planted near-identical vectors are ALL caught") {
    import spark.implicits._
    // copy of each original with one component nudged 1% → cos ≈ 0.9999;
    // at that similarity a single band collides w.p. ≈ 0.96 and any of 16
    // w.p. ≈ 1 − 1e-23 — deterministic planes, so this cannot flake
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Seq[Double])].collect()
    val planted = base.flatMap { case (id, v) =>
      Seq((id, v), (id + 1000000L, v.updated(0, v.head + 0.01 * (v.head.abs + 1e-3))))
    }.toSeq.toDF("vec_id", "embedding")
    val found = Similarity.cosineNearDupPairs(planted, "embedding", "vec_id", 0.99)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val missing = base.map { case (id, _) => (id, id + 1000000L) }
      .filterNot(found.contains)
    assert(missing.isEmpty, s"banded LSH missed planted near-dups: $missing")
  }

  test("two-family OR banding: squares the miss rate at moderate cosine, plan stays equi-join") {
    import spark.implicits._
    // 60 planted pairs at cosine ≈ 0.8 — the moderate-similarity regime
    // where ONE 16×8 family's S-curve measurably misses (expected recall
    // ≈ 0.94 ⇒ ~4 misses on 60) and the two-family OR should catch
    // everything (miss rate squares to ~0.4%). Planes AND fixture are
    // deterministic, so the observed sets cannot flake.
    val rnd = new scala.util.Random(7)
    def normed(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val rows = (0 until 60).flatMap { i =>
      val v = normed(Array.fill(64)(rnd.nextGaussian()))
      val u = Array.fill(64)(rnd.nextGaussian())
      val proj = (u zip v).map { case (a, b) => a * b }.sum
      val w = normed((u zip v).map { case (a, b) => a - proj * b })
      val v2 = (v zip w).map { case (a, b) => 0.8 * a + 0.6 * b }
      Seq((i + 1L, v.toSeq), (i + 1001L, v2.toSeq))
    }
    val df = rows.toDF("vec_id", "embedding").repartition(4)
    val planted = (0 until 60).map(i => (i + 1L, i + 1001L)).toSet
    def pairs(found: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      found.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val one = pairs(Similarity.cosineNearDupPairs(df, "embedding", "vec_id", 0.75))
    val union = pairs(Similarity.cosineNearDupPairsOr(df, "embedding", "vec_id", 0.75))
    // OR-construction is a strict widening: every single-family pair survives
    assert(one.subsetOf(union), s"union lost pairs: ${one -- union}")
    val missedOne = planted -- one
    val missedUnion = planted -- union
    assert(missedOne.nonEmpty,
      "fixture no longer exercises the single-family miss regime — lower the planted cosine")
    assert(missedUnion.isEmpty,
      s"two-family OR missed planted pairs: $missedUnion (one family missed ${missedOne.size})")
    // still the banded equi-join plan — no cartesian anywhere
    val plan = Similarity.cosineNearDupPairsOr(df, "embedding", "vec_id", 0.75)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"OR-construction plan regressed to cartesian:\n$plan")
  }

  test("group MinHash-union sketch estimates source Jaccard within 0.2 of exact") {
    import spark.implicits._
    val sketches = Dedup.groupMinhashSketch(docs, "source", "text")
    val est = Dedup.sketchJaccardPairs(sketches, "source")
      .as[(String, String, Double)].collect()
      .map { case (a, b, e) => (a, b) -> e }.toMap
    val tri = Dedup.ngrams(docs.select(col("source"), col("text")), "text", 3)
      .select(col("source"), col("g")).distinct().collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    val sources = tri.keys.toSeq.sorted
    val errs = for {
      a <- sources; b <- sources if a < b
      inter = tri(a).intersect(tri(b)).size.toDouble
      exact = inter / (tri(a).size + tri(b).size - inter)
    } yield math.abs(est((a, b)) - exact)
    assert(errs.nonEmpty && errs.forall(_ <= 0.2),
      s"sketch errors: ${errs.filter(_ > 0.2).mkString(",")}")
  }

  test("non-portable (xxhash64) sketch family: same groups, same estimator quality") {
    import spark.implicits._
    val fast = Dedup.groupMinhashSketch(docs, "source", "text", portable = false)
    val portable = Dedup.groupMinhashSketch(docs, "source", "text")
    // identical group sets — the toggle changes only the hash family
    assert(fast.select("source").as[String].collect().sorted.toSeq ==
      portable.select("source").as[String].collect().sorted.toSeq)
    // the families are distinct (different sketches) yet both valid
    // estimators: every pairwise estimate is a Jaccard in [0, 1]
    val est = Dedup.sketchJaccardPairs(fast, "source")
      .as[(String, String, Double)].collect()
    assert(est.nonEmpty && est.forall { case (_, _, e) => e >= 0.0 && e <= 1.0 })
    val fastSketch = fast.orderBy("source").as[(String, Seq[Long])].collect()
    val portSketch = portable.orderBy("source").as[(String, Seq[Long])].collect()
    assert(fastSketch.map(_._2).toSeq != portSketch.map(_._2).toSeq,
      "families must differ (portable md5-affine vs xxhash64)")
  }

  test("as-of join picks the latest right version at-or-before each left row") {
    import spark.implicits._
    val left = Seq(
      (1L, "k1", 10L, "e10"), // before any version → nulls
      (2L, "k1", 20L, "e20"), // exactly at v20 → v20 (<= semantics)
      (3L, "k1", 35L, "e35"), // between v30 and v40 → v30
      (4L, "k1", 99L, "e99"), // after all → v40
      (5L, "k2", 50L, "e50")  // key with no versions at all → nulls
    ).toDF("event_id", "k", "ts", "tag")
    val right = Seq(
      ("k1", 20L, "v20"), ("k1", 30L, "v30"), ("k1", 40L, "v40")
    ).toDF("k", "vts", "version")
    val got = AsofJoin.asofLeft(left, right, "k", "ts", "vts",
        rightCols = Seq("vts", "version"))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(4)).map(_.toString).orNull,
        r.getString(5)))
    assert(got.toSeq == Seq(
      (1L, null, null),
      (2L, "20", "v20"),
      (3L, "30", "v30"),
      (4L, "40", "v40"),
      (5L, null, null)), s"got ${got.toSeq}")
  }

  test("connected components: planted clusters, chains, and singletons resolve to min-id") {
    import spark.implicits._
    val verts = (1L to 10L).toDF("id")
    // components: {1,2,3,4} as a chain (multi-round convergence),
    // {5,6}, {8,9,10} as a vee, singleton {7}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (9L, 8L), (9L, 10L))
      .toDF("a_id", "b_id")
    val comp = Dedup.connectedComponents(verts, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L, 9L -> 8L, 10L -> 8L)
    assert(comp == expected, s"got $comp")
  }

  test("keepClusterRepresentatives retains one doc per near-dup component") {
    import spark.implicits._
    val docRows = Seq((1L, "a"), (2L, "a dup"), (3L, "b"), (4L, "c")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
    val comp = Dedup.connectedComponents(docRows.select("doc_id"), "doc_id", pairs)
    val kept = Dedup.keepClusterRepresentatives(docRows, "doc_id", comp)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("fingerprint is whitespace/case-canonical") {
    import spark.implicits._
    val df = Seq(("a", "Hello  World"), ("b", "hello world"), ("c", "different"))
      .toDF("id", "text")
    val fps = df.select(col("id"), TextStats.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fps("a") == fps("b") && fps("a") != fps("c"))
  }

  test("langGuess picks the lang with most stopword hits") {
    import spark.implicits._
    val df = Seq(
      ("the cat of a house is it", "en"),
      ("el perro de la casa es un", "es"),
      ("der hund und die katze ist", "de"),
      ("xyzzy qwerty", "und")).toDF("text", "expected")
    val got = df.withColumn("g", TextStats.langGuess(col("text"))).collect()
    got.foreach(r => assert(r.getAs[String]("g") == r.getAs[String]("expected"),
      s"text='${r.getString(0)}'"))
  }

  test("chunking: strides cover every token, overlap repeats the tail, short docs chunk whole") {
    import spark.implicits._
    val doc = (1 to 100).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "a b c"), (3L, "")).toDF("doc_id", "text")
    val chunks = Chunking.chunk(df, "doc_id", "text", chunkTokens = 50, overlap = 10)
      .orderBy("doc_id", "chunk_idx").collect()
    val d1 = chunks.filter(_.getLong(0) == 1L).map(r => r.getString(2).split(" "))
    // starts at 1, 41, 81 → 3 chunks; chunk 0 full, chunk 2 short (20 toks)
    assert(d1.length == 3 && d1(0).length == 50 && d1(1).length == 50 && d1(2).length == 20)
    assert(d1(0).head == "t1" && d1(1).head == "t41" && d1(2).head == "t81")
    // overlap: last 10 of chunk 0 == first 10 of chunk 1
    assert(d1(0).takeRight(10).toSeq == d1(1).take(10).toSeq)
    // full coverage: union of chunk tokens is the whole doc
    assert(d1.flatten.toSet == (1 to 100).map(i => s"t$i").toSet)
    // short doc → one whole chunk; empty doc → no rows
    assert(chunks.filter(_.getLong(0) == 2L).map(_.getString(2)).toSeq == Seq("a b c"))
    assert(!chunks.exists(_.getLong(0) == 3L))
  }

  test("packChunks: packs fill to capacity, never split chunks, cover every chunk") {
    import spark.implicits._
    // 10 chunks of 100 tokens in one shard, capacity 256 → packs of
    // [100,100,100]=300 (crosses 256 at chunk 3), [100,100,100], ...
    val chunks = (0 until 10).map(i => ("s1", 1L, i, 100)).toDF(
      "source", "doc_id", "chunk_idx", "n_chunk_tokens")
    val packed = Chunking.packChunks(chunks, "source", "n_chunk_tokens",
        capacity = 256, orderCols = Seq("doc_id", "chunk_idx"))
      .orderBy("chunk_idx").collect()
    val packOf = packed.map(r => r.getAs[Int]("chunk_idx") -> r.getAs[Long]("pack_id")).toMap
    // chunk i joins pack floor(100*i/256): 0,0,0,1,1,1(@500..600?)...
    (0 until 10).foreach { i =>
      assert(packOf(i) == (100L * i) / 256,
        s"chunk $i in pack ${packOf(i)}, want ${(100L * i) / 256}")
    }
    assert(packed.length == 10) // no chunk dropped or duplicated
    // shards pack independently
    val two = chunks.union(chunks.withColumn("source", lit("s2")))
    val p2 = Chunking.packChunks(two, "source", "n_chunk_tokens", 256,
      Seq("doc_id", "chunk_idx"))
    assert(p2.groupBy("source", "pack_id").count()
      .filter(col("source") === "s2").count() == 4)
  }

  test("packChunksStrict: never exceeds capacity, covers every chunk, monotone packs") {
    import spark.implicits._
    // 100-token chunks, capacity 256: the cumsum form overruns pack 0 to
    // 300; strict must close at 200 and open pack 1.
    val chunks = (0 until 10).map(i => ("s1", 1L, i, 100)).toDF(
      "source", "doc_id", "chunk_idx", "n_chunk_tokens")
    val packed = Chunking.packChunksStrict(chunks, "source", "n_chunk_tokens",
        capacity = 256, orderCols = Seq("doc_id", "chunk_idx"))
      .orderBy("chunk_idx").collect()
    assert(packed.length == 10) // no chunk dropped or duplicated
    val packOf = packed.map(r => r.getAs[Int]("chunk_idx") -> r.getAs[Long]("pack_id"))
    // next-fit with uniform 100s: exactly 2 per pack
    packOf.foreach { case (i, p) => assert(p == i / 2, s"chunk $i in pack $p") }
    // the strict law on a ragged fixture: no pack's total exceeds capacity
    val ragged = Seq(200, 100, 30, 60, 250, 10, 5, 256, 1).zipWithIndex
      .map { case (t, i) => ("s1", 1L, i, t) }
      .toDF("source", "doc_id", "chunk_idx", "n_chunk_tokens")
    val rp = Chunking.packChunksStrict(ragged, "source", "n_chunk_tokens",
        capacity = 256, orderCols = Seq("doc_id", "chunk_idx"))
    val totals = rp.groupBy("pack_id")
      .agg(sum(col("n_chunk_tokens")).as("t")).collect()
      .map(r => r.getAs[Long]("pack_id") -> r.getAs[Long]("t")).toMap
    assert(totals.values.forall(_ <= 256), s"overrun pack in $totals")
    // pack ids are contiguous from 0 and monotone in chunk order
    val inOrder = rp.orderBy("chunk_idx").select("pack_id").as[Long].collect()
    assert(inOrder.head == 0L)
    inOrder.sliding(2).foreach { w =>
      assert(w(1) == w(0) || w(1) == w(0) + 1,
        s"non-monotone packs ${w(0)} -> ${w(1)}")
    }
    // an oversize chunk occupies a pack alone; neighbors are unaffected
    val over = Seq(("s1", 1L, 0, 100), ("s1", 1L, 1, 500), ("s1", 1L, 2, 100))
      .toDF("source", "doc_id", "chunk_idx", "n_chunk_tokens")
    val op = Chunking.packChunksStrict(over, "source", "n_chunk_tokens",
        capacity = 256, orderCols = Seq("doc_id", "chunk_idx"))
      .orderBy("chunk_idx").select("pack_id").as[Long].collect()
    assert(op.sameElements(Array(0L, 1L, 2L)), op.mkString(","))
    // shards pack independently (same ids in a second shard, same packs)
    val two = chunks.union(chunks.withColumn("source", lit("s2")))
    val p2 = Chunking.packChunksStrict(two, "source", "n_chunk_tokens", 256,
      Seq("doc_id", "chunk_idx"))
    assert(p2.groupBy("source", "pack_id").count()
      .filter(col("source") === "s2").count() == 5)
    // a ZERO-token first chunk (a symbol-free chunk under an id-count
    // token column — x137's lane) still opens pack 0, never the invalid
    // seed bin -1; zero-token followers join the open pack
    val zlead = Seq(("s1", 1L, 0, 0), ("s1", 1L, 1, 0), ("s1", 1L, 2, 100))
      .toDF("source", "doc_id", "chunk_idx", "n_chunk_tokens")
    val zp = Chunking.packChunksStrict(zlead, "source", "n_chunk_tokens",
        capacity = 256, orderCols = Seq("doc_id", "chunk_idx"))
      .orderBy("chunk_idx").select("pack_id").as[Long].collect()
    assert(zp.sameElements(Array(0L, 0L, 0L)),
      s"zero-token lead must open pack 0, got ${zp.mkString(",")}")
  }

  test("packChunksStrictFold: resumed fold ≡ one fold over the concatenation") {
    import spark.implicits._
    val all = ((0 until 20).map(i => ("s1", 1L, i, (i * 37) % 120 + 5)) ++
        (0 until 10).map(i => ("s2", 2L, i, (i * 53) % 200 + 10)))
      .toDF("source", "doc_id", "chunk_idx", "n_chunk_tokens")
    def asn(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "chunk_idx", "pack_id").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getAs[Long]("pack_id")).toMap
    val wholeFold = Chunking.packChunksStrictFold(all, "source",
      "n_chunk_tokens", 256, Seq("doc_id", "chunk_idx"))
    val whole = asn(Chunking.packAssignments(wholeFold))
    val wholeState = Chunking.packFoldState(wholeFold, "source").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("pack_fill"),
        r.getAs[Long]("pack_bin"))).toMap
    for (split <- Seq(3, 11, 15)) {
      // batch 2 includes chunk_idx >= split; s2 is ABSENT from batch 2
      // when split >= 10 (its state must carry via packStateMerge)
      val b1 = all.filter(col("chunk_idx") < split)
      val b2 = all.filter(col("chunk_idx") >= split)
      val f1 = Chunking.packChunksStrictFold(b1, "source",
        "n_chunk_tokens", 256, Seq("doc_id", "chunk_idx"))
      val st1 = Chunking.packFoldState(f1, "source")
      val f2 = Chunking.packChunksStrictFold(b2, "source",
        "n_chunk_tokens", 256, Seq("doc_id", "chunk_idx"), state = st1)
      val got = asn(Chunking.packAssignments(f1)) ++
        asn(Chunking.packAssignments(f2))
      assert(got == whole, s"split=$split diverges from the whole fold")
      val endState = Chunking.packStateMerge(st1,
          Chunking.packFoldState(f2, "source"), "source")
        .collect().map(r => r.getString(0) -> (r.getAs[Long]("pack_fill"),
          r.getAs[Long]("pack_bin"))).toMap
      assert(endState == wholeState, s"split=$split state diverges")
    }
  }

  test("hashKeepFraction approximates its rate and is deterministic") {
    import spark.implicits._
    val ids = (1L to 4000L).toDF("id")
    Seq(0.25, 0.75).foreach { rate =>
      val kept = ids.filter(Chunking.hashKeepFraction(col("id"), rate)).count()
      val got = kept.toDouble / 4000
      assert(math.abs(got - rate) < 0.05, s"rate=$rate kept=$got")
    }
    assert(ids.filter(Chunking.hashKeepFraction(col("id"), 1.0)).count() == 4000)
    assert(ids.filter(Chunking.hashKeepFraction(col("id"), 0.0)).count() == 0)
    val a = ids.filter(Chunking.hashKeepFraction(col("id"), 0.3))
      .as[Long].collect().toSet
    val b = ids.filter(Chunking.hashKeepFraction(col("id"), 0.3))
      .as[Long].collect().toSet
    assert(a == b && a.nonEmpty)
    // monotone: raising the rate only adds rows, never swaps them
    val c = ids.filter(Chunking.hashKeepFraction(col("id"), 0.6))
      .as[Long].collect().toSet
    assert(a.subsetOf(c))
  }

  test("contaminatedDocs flags exactly the docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro text then the quick brown fox jumps over the lazy dog tonight and more"),
      (2L, "the quick brown fox jumps over a sleepy cat instead right now"), // 8-gram broken
      (3L, "completely unrelated words with no overlap at all whatsoever today")
    ).toDF("doc_id", "text")
    val got = Dedup.contaminatedDocs(corpus, bench, "doc_id", "text", n = 8)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(1L), s"got $got")
    // doc 1 contains the benchmark's full 10-token text → 3 shared 8-grams
    assert(got(1L) == 3, s"got ${got(1L)} shared grams")
  }

  test("hash sampling is deterministic and stratified sampling is exactly-k") {
    import spark.implicits._
    val s1 = docs.filter(Chunking.hashSample(col("doc_id"))).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val s2 = docs.filter(Chunking.hashSample(col("doc_id"))).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2 && s1.nonEmpty && s1.size < docs.count())
    val strat = Chunking.stratifiedFixedSample(docs, "lang", "doc_id", 10)
    val perLang = strat.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val langSizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    langSizes.foreach { case (lang, n) =>
      assert(perLang(lang) == math.min(10L, n), s"$lang: ${perLang(lang)}")
    }
  }

  test("PII redaction scrubs emails and digit runs, leaves clean text alone") {
    import spark.implicits._
    val df = Seq(
      (1L, "contact me at jane.doe+x@mail.example.org today"),
      (2L, "card 12345678 maybe, pin 12345 stays"),
      (3L, "plain text, no pii")).toDF("doc_id", "text")
    val red = df.select(col("doc_id"), TextStats.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(1L) == "contact me at <EMAIL> today")
    assert(red(2L) == "card <NUM> maybe, pin 12345 stays")
    assert(red(3L) == "plain text, no pii")
  }

  test("HLL sketch union estimates total distinct within 5% of exact") {
    val exact = docs.select(countDistinct(col("source"))).head().getLong(0)
    val est = docs.groupBy("lang").agg(hll_sketch_agg(col("source")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("e"))
      .head().getLong(0)
    assert(math.abs(est - exact) <= math.max(1L, (exact * 0.05).toLong),
      s"est=$est exact=$exact")
  }

  test("decodeAll propagates null payloads as null decode columns") {
    import spark.implicits._
    val media = Seq(
      (1L, "image", Option(Array[Byte](1, 2, 3))),
      (2L, "audio", Option.empty[Array[Byte]])).toDF("media_id", "modality", "payload")
    val out = Multimodal.decodeAll(media).orderBy("media_id").collect()
    assert(out(0).getInt(2) == 3)
    assert(out(1).isNullAt(2) && out(1).isNullAt(3) && out(1).isNullAt(4))
  }

  test("multimodal decode stub preserves bytes and frames deterministically") {
    val media = Multimodal.fromDocuments(docs.limit(50))
    val decoded = Multimodal.decodeAll(media)
    val row = decoded.orderBy("media_id").head()
    val d2 = Multimodal.decodeAll(media).orderBy("media_id").head()
    assert(row == d2) // deterministic
    assert(decoded.filter(col("n_bytes") <= 0).count() == 0)
  }

  test("frame sampling slices binary payloads without decode") {
    val media = Multimodal.fromDocuments(docs.limit(10))
    val slices = Multimodal.sampleSlices(media, sliceLen = 64, everyK = 2)
    val withLen = slices.withColumn("l", octet_length(col("slice")))
    assert(withLen.filter(col("l") > 64).count() == 0)
    assert(slices.count() > 0)
    // every media row contributes its slice 0
    assert(slices.filter(col("slice_idx") === 0).count() == 10)
  }

  test("session_window boundary: events EXACTLY gap apart merge (q35 oracle parity)") {
    // Pins the semantics the q35 DuckDB oracle assumes: Spark merges two
    // events spaced exactly `gap` apart into one session ending at
    // last_ts + gap, i.e. a session breaks only when the inter-event gap
    // is STRICTLY greater than `gap` — matching the oracle's `> INTERVAL`.
    import spark.implicits._
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1),
      (java.sql.Timestamp.valueOf("2024-01-01 06:00:00"), 1), // == gap → merge
      (java.sql.Timestamp.valueOf("2024-01-01 12:00:01"), 1)  // > gap → break
    ).toDF("ts", "user_id")
    val sessions = df
      .groupBy(session_window(col("ts"), "6 hours").as("win"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("win.start"))
      .select(col("win.start").cast("string"), col("win.end").cast("string"), col("n"))
      .collect()
    assert(sessions.length == 2, s"expected 2 sessions, got ${sessions.mkString(";")}")
    assert(sessions(0).getString(0) == "2024-01-01 00:00:00" &&
           sessions(0).getString(1) == "2024-01-01 12:00:00" &&
           sessions(0).getLong(2) == 2, s"merged session wrong: ${sessions(0)}")
    assert(sessions(1).getLong(2) == 1)
  }

  test("bloom-prefiltered join: exact result, big side actually pruned") {
    import graft.ops.BloomJoin
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_name")
    val orders = Tables.orders(spark, dir)
    val plain = orders.join(cust, orders("o_custkey") === cust("c_custkey"))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val bloomed = BloomJoin.bloomPrefilteredJoin(
        orders, "o_custkey", cust, "c_custkey", expectedItems = 10000L)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(bloomed == plain, s"bloom join diverged: ${bloomed.size} vs ${plain.size}")

    // the prefilter alone must pass every match and prune most non-matches
    val bytes = BloomJoin.buildFilterBytes(cust, col("c_custkey"), 10000L, 0.01)
    val pre = orders.filter(BloomJoin.mightContain(spark, bytes, col("o_custkey")))
    val preCnt = pre.count()
    val total = orders.count()
    val matchCnt = orders.join(cust, orders("o_custkey") === cust("c_custkey")).count()
    assert(preCnt >= matchCnt, "bloom filter dropped a true match")
    assert(preCnt < total, s"bloom filter pruned nothing ($preCnt of $total)")
    // fpp 1%: survivors beyond true matches should be a small fraction
    assert(preCnt - matchCnt <= (total * 0.05).toLong,
      s"false-positive survivors too high: ${preCnt - matchCnt} of $total")
    // probe is Spark's codegen'd expression, visible in the plan
    val planStr = pre.queryExecution.executedPlan.toString
    assert(planStr.contains("might_contain"), s"no bloom probe in plan:\n$planStr")
  }

  test("int8 quantization: column path bit-equals the driver-side twin") {
    val rows = Similarity.quantizeInt8(emb, "embedding", "vec_id")
      .orderBy("vec_id").limit(25)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq, r.getLong(2)))
    val floats = emb.orderBy("vec_id").limit(25)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(rows.length == 25)
    rows.foreach { case (id, qvec, qnorm) =>
      val (lq, ln) = Similarity.quantizeInt8Local(floats(id))
      assert(qvec == lq.toSeq, s"qvec mismatch for $id")
      assert(qnorm == ln, s"qnorm mismatch for $id: $qnorm vs $ln")
      assert(qvec.forall(x => x >= -127 && x <= 127), s"out-of-range int8 for $id")
      assert(qvec.exists(x => x == 127L || x == -127L),
        s"amax component of $id should quantize to ±127")
    }
  }

  test("quantized top-k: exact rescoring, high recall, small quantized error") {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val exact = Similarity.topKCosine(rest, "embedding", "vec_id", q, 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val quant = Similarity.quantizedTopKCosine(rest, "embedding", "vec_id", q, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(quant.length == 20)
    // int8 on 64 dims distorts cosine by well under 2%: every returned
    // quantized score must sit next to its exact float score
    quant.foreach { case (id, qcos, cos) =>
      assert(math.abs(qcos - cos) <= 0.02, s"quantized drift for $id: $qcos vs $cos")
    }
    val ids = quant.map(_._1).toSet
    val recall = ids.intersect(exact.keySet).size.toDouble / exact.size
    assert(recall >= 0.8, s"quantized recall $recall too low")
    // final scores are the float scores — identical where ids overlap
    quant.foreach { case (id, _, cos) =>
      exact.get(id).foreach(e => assert(cos == e, s"rescore drift for $id")) }
  }

  test("bigram LM: repetitive doc scores more fluent, held-out falls to smoothing floor") {
    import spark.implicits._
    import graft.ops.LangModel
    val fixture = Seq(
      (1L, "a b a b a b a b a b"),  // one dominant transition → low NLL
      (2L, "q w e r t y u i o p"),  // every transition unique → higher NLL
      (3L, "solo")                  // < 2 words → no transitions
    ).toDF("doc_id", "text")
    val lm = LangModel.trainBigramLm(fixture, "doc_id", "text")
    assert(lm.vocabSize == 13, s"vocab ${lm.vocabSize}")
    val out = LangModel.perplexityScore(fixture, "doc_id", "text", lm)
      .orderBy("doc_id").collect()
    val nll = out.map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    assert(out(0).getLong(1) == 9L && out(1).getLong(1) == 9L)
    assert(nll(1L) < nll(2L),
      s"repetitive doc must be more fluent: ${nll(1L)} vs ${nll(2L)}")
    assert(out(2).getLong(1) == 0L && out(2).isNullAt(2) && out(2).isNullAt(3))
    // held-out doc of entirely unseen words: every transition bottoms out
    // at the smoothing floor p = 1/V → nll = ln(V) exactly
    val held = LangModel.perplexityScore(
      Seq((9L, "zz yy xx")).toDF("doc_id", "text"), "doc_id", "text", lm)
      .collect().head
    assert(held.getLong(1) == 2L)
    assert(math.abs(held.getDouble(2) - math.log(13)) < 1e-5,
      s"smoothing floor: ${held.getDouble(2)} vs ln(13)=${math.log(13)}")
    // ppl is exp(nll) up to the two rounding points
    assert(math.abs(held.getDouble(3) - math.exp(held.getDouble(2))) < 1e-4)
  }

  test("bigram LM self-scoring on the corpus: finite, ppl==exp(nll), ranking sane") {
    import graft.ops.LangModel
    val out = LangModel.perplexityScoreSelf(docs, "doc_id", "text").collect()
    assert(out.length == docs.count())
    out.filter(_.getLong(1) > 0).foreach { r =>
      val (nll, ppl) = (r.getDouble(2), r.getDouble(3))
      assert(nll > 0 && !nll.isNaN && ppl > 1,
        s"doc ${r.getLong(0)}: nll=$nll ppl=$ppl")
      assert(math.abs(ppl - math.exp(nll)) / ppl < 1e-4,
        s"ppl/exp(nll) drift for doc ${r.getLong(0)}")
    }
  }

  test("vocab coverage: exact on a planted distribution, monotone, window-free plan") {
    import spark.implicits._
    // 10 a's, 5 b's, 3 c's, 2 d's → top-1 = 0.5, top-2 = 0.75, top-4 = 1.0
    val fixture = Seq((1L, ("a " * 10 + "b " * 5 + "c " * 3 + "d " * 2).trim))
      .toDF("doc_id", "text")
    val out = TextStats.vocabCoverage(fixture, "text", ks = Seq(1, 2, 4, 100))
      .orderBy("k")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1, 1L, 0.5), (2, 2L, 0.75), (4, 4L, 1.0), (100, 4L, 1.0)),
      s"got ${out.toSeq}")
    // corpus curve: monotone non-decreasing, ends at 1.0 for k >= vocab
    val corpus = TextStats.vocabCoverage(docs, "text").orderBy("k")
      .collect().map(_.getDouble(2))
    assert(corpus.sameElements(corpus.sorted), s"not monotone: ${corpus.toSeq}")
    // the top-K cut must be a TakeOrderedAndProject over the vocab table,
    // never a global window sort
    val plan = TextStats.vocabCoverage(docs, "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("temperature mix: smallest group keeps all, kept shares flatten toward sqrt") {
    val out = Chunking.temperatureMix(docs, "lang", "doc_id")
      .groupBy("lang")
      .agg(max(col("ng")).as("ng"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("nk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 5)
    val nmin = out.map(_._2).min
    out.foreach { case (lang, ng, nk) =>
      if (ng == nmin) assert(nk == ng, s"$lang: smallest group must keep all")
      else {
        val expect = math.sqrt(nmin.toDouble / ng)
        val got = nk.toDouble / ng
        // md5 sampling at these group sizes: generous tolerance, but the
        // rate must clearly track sqrt(nmin/ng), not 1 and not nmin/ng
        assert(math.abs(got - expect) < 0.15,
          s"$lang: kept ratio $got far from sqrt rate $expect")
      }
    }
    // flattening: kept max/min share ratio must shrink vs the original
    val origSkew = out.map(_._2).max.toDouble / nmin
    val keptMin = out.map(_._3).min
    val keptSkew = out.map(_._3).max.toDouble / math.max(keptMin, 1L)
    assert(keptSkew < origSkew, s"no flattening: $keptSkew vs $origSkew")
  }

  test("span decontamination: benchmark overlap excised, clean text untouched") {
    import spark.implicits._
    val bench = Seq((0L, "q1 q2 q3 q4 q5 q6 q7 q8")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro words lead in q1 q2 q3 q4 q5 q6 q7 q8 outro words"),
      (2L, "totally unrelated content with no benchmark overlap at all"),
      (3L, "q1 q2 q3 q4 q5 q6 q7 q8")                  // pure benchmark copy
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminateSpans(corpus, bench, "doc_id", "text", 8)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, "intro words lead in outro words", 14L, 6L)), s"got ${out(0)}")
    assert(out(1)._2 == "totally unrelated content with no benchmark overlap at all"
      && out(1)._4 == 9L, s"got ${out(1)}")
    assert(out(2) == ((3L, "", 8L, 0L)), s"got ${out(2)}")
  }

  test("distribution drift: KL >= 0, identical slices equal, planted drift ranks highest") {
    import spark.implicits._
    import graft.ops.LangModel
    val fixture = Seq(
      ("s1", "a b a b a b"), ("s1", "b a b a"),
      ("s2", "a b a b a b"), ("s2", "b a b a"),   // same distribution as s1
      ("s3", "z z z z z z z z z z")               // disjoint vocabulary
    ).toDF("source", "text")
    val out = LangModel.distributionDrift(fixture, "source", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // smoothed slice/corpus distributions are proper, so KL >= 0 (Gibbs)
    out.values.foreach(kl => assert(kl >= 0, s"negative KL in $out"))
    assert(out("s1") == out("s2"), s"identical slices must tie: $out")
    assert(out("s3") > out("s1") + 0.1, s"planted drift must dominate: $out")
    // and on the real corpus: every source produces a finite non-negative row
    val corpus = LangModel.distributionDrift(docs, "source", "text").collect()
    assert(corpus.length == 20)
    corpus.foreach(r => assert(r.getDouble(2) >= 0 && !r.getDouble(2).isNaN))
  }

  test("PQ split-store probe == single-frame probe (written-index shape)") {
    import spark.implicits._
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val cb = Similarity.pqBuildCodebook(rest, "embedding", "vec_id")
    val encoded = Similarity.pqEncode(rest, "embedding", "vec_id", cb)
    val single = Similarity.pqProbe(encoded, "vec_id", q, cb, k = 20)
      .as[(Long, Double, Double)].collect().toSeq
    // split form: the codes frame carries (id, codes) ONLY; vectors come
    // from the primary store at rescore time
    val split = Similarity.pqProbeSplit(encoded.select("vec_id", "codes"),
        rest, "vec_id", "embedding", q, cb, k = 20)
      .as[(Long, Double, Double)].collect().toSeq
    assert(split == single, s"split probe diverged: $split vs $single")
  }

  test("PQ: codes bounded, rerank distances exact, recall above the coarse-quantizer floor") {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val cb = Similarity.pqBuildCodebook(rest, "embedding", "vec_id")
    assert(cb.length == 16 && cb.forall(_.length == 64))
    val codes = Similarity.pqEncode(rest, "embedding", "vec_id", cb)
      .select(col("vec_id"), col("codes")).collect()
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 8 && cs.forall(c => c >= 0 && c < 16),
        s"bad codes for ${r.getLong(0)}: $cs")
    }
    val got = Similarity.pqTopK(rest, "embedding", "vec_id", q, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.length == 20)
    // the reranked l2 must equal the brute-force exact L2 for those ids
    val exact = rest
      .withColumn("l2", round(graft.functions.VectorFunctions.l2sq(
        col("embedding"), lit(q.toArray)), 6))
      .select(col("vec_id"), col("l2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (id, l2) =>
      assert(l2 == exact(id), s"rerank drift for $id: $l2 vs ${exact(id)}") }
    // coarse 16-sample codebook on diffuse random data: recall is modest
    // by nature (measured 0.4 at sf0.01); pin a floor well above chance
    val exactTop = exact.toSeq.sortBy { case (id, l2) => (l2, id) }
      .take(20).map(_._1).toSet
    val recall = got.map(_._1).count(exactTop.contains) / 20.0
    assert(recall >= 0.25, s"PQ recall $recall below floor")
  }

  test("trained PQ: recall >= 0.7 on planted cluster structure, rerank exact") {
    import spark.implicits._
    // 16 well-separated cluster centers, 20 members each + the query near
    // center 3 — the regime PQ serves in production (embeddings cluster;
    // the md5 sample's 16 arbitrary rows don't adapt to that, Lloyd does)
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(16, 64)(rnd.nextDouble() * 4.0 - 2.0)
    val rows = for (g <- 0 until 16; i <- 0 until 20) yield {
      val id = (g * 20 + i + 1).toLong
      (id, centers(g).map(c => c + rnd.nextDouble() * 0.1 - 0.05).toSeq)
    }
    val fixture = rows.toDF("vec_id", "embedding").repartition(4)
    val q = centers(3).map(c => c + 0.01).toSeq
    val exact = fixture
      .withColumn("l2", round(graft.functions.VectorFunctions.l2sq(
        col("embedding"), lit(q.toArray)), 6))
      .select(col("vec_id"), col("l2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exactTop = exact.toSeq.sortBy { case (id, l2) => (l2, id) }
      .take(20).map(_._1).toSet
    val got = Similarity.pqTopKTrained(fixture, "embedding", "vec_id", q, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    // reranked l2 stays brute-force exact (training changes candidates only)
    got.foreach { case (id, l2) =>
      assert(l2 == exact(id), s"rerank drift for $id: $l2 vs ${exact(id)}") }
    val recall = got.map(_._1).count(exactTop.contains) / 20.0
    assert(recall >= 0.7, s"trained-PQ recall $recall below floor")
  }

  test("trained PQ codebook: deterministic under repartitioning, empty cells keep init") {
    import spark.implicits._
    // determinism: the fixed-point means make the model independent of
    // partitioning / aggregation order — bit-identical, not approximately
    val base = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val cb1 = Similarity.pqTrainCodebook(base, "embedding", "vec_id")
    val cb2 = Similarity.pqTrainCodebook(base.repartition(13), "embedding", "vec_id")
    assert(cb1.length == 16 && cb1.forall(_.length == 64))
    (cb1 zip cb2).zipWithIndex.foreach { case ((a, b), k) =>
      assert(a.sameElements(b), s"codebook row $k differs across partitionings") }
    // empty-cell rule: a corpus of one repeated 6-dp-representable vector
    // assigns every subspace to one code; all other cells COALESCE to
    // their init subvector, and the populated cell's fixed-point mean of
    // identical 6-dp values is the value itself — so trained == init
    val uni = (1L to 24L).map(id => (id, Seq.fill(64)(0.125))).toDF("vec_id", "embedding")
    val init = Similarity.pqBuildCodebook(uni, "embedding", "vec_id")
    val trained = Similarity.pqTrainCodebook(uni, "embedding", "vec_id")
    (trained zip init).zipWithIndex.foreach { case ((t, i), k) =>
      assert(t.sameElements(i), s"uniform-corpus codebook row $k drifted from init") }
  }

  test("batch BM25 serving: every per-query slice equals the single-query bm25TopK") {
    import spark.implicits._
    val qs = Seq(
      (1L, Seq("hash", "join")),
      (2L, Seq("spark", "vector")),
      (3L, Seq("data", "filter", "stream")),
      (4L, Seq("cache", "data"))).toDF("q_id", "terms")
    val served = graft.ops.Retrieval.bm25ServeAll(docs, "doc_id", "text",
        qs, "q_id", "terms", k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
      .groupBy(_._1)
    // the per-(doc, term) score is query-independent, so each query's
    // slice must reproduce the single-query path bit for bit
    for ((qid, terms) <- Seq(1L -> Seq("hash", "join"),
                             2L -> Seq("spark", "vector"),
                             3L -> Seq("data", "filter", "stream"),
                             4L -> Seq("cache", "data"))) {
      val single = graft.ops.Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSeq
      val slice = served(qid).sortBy(_._2)
        .map(r => (r._3, r._4, r._5, r._6)).toSeq
      assert(slice == single, s"query $qid slice diverged from bm25TopK")
    }
    // the dead term contributes nothing: q4 must score on 'data' alone
    assert(served(4L).forall(_._4 == 1L), "q4 rows must match exactly one term")
    graft.ops.Caches.releaseAll()
  }

  test("BM25 model: merge(build(a), build(b)) ≡ build(a∪b) component-wise; indexed serve ≡ scan serve") {
    import spark.implicits._
    import graft.ops.Retrieval
    val a = docs.filter(col("doc_id") % 7 =!= 0)
    val b = docs.filter(col("doc_id") % 7 === 0)
    val merged = Retrieval.bm25MergeModels(
      Retrieval.bm25BuildModel(a, "doc_id", "text"),
      Retrieval.bm25BuildModel(b, "doc_id", "text"))
    val full = Retrieval.bm25BuildModel(docs, "doc_id", "text")
    // ADDITION LAW, component by component (exact integers everywhere)
    def postingsSet(m: Retrieval.Bm25Model) = m.postings.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    assert(postingsSet(merged) == postingsSet(full), "postings diverged")
    def dfMap(m: Retrieval.Bm25Model) = m.df.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfMap(merged) == dfMap(full), "df diverged")
    def statsRow(m: Retrieval.Bm25Model) = m.stats.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(statsRow(merged) == statsRow(full), "stats diverged")
    // SERVE LAW: the merged model serves exactly what the corpus-scan
    // path serves (x81's oracle proves the same vs DuckDB; this pins the
    // in-engine equivalence including rank tie-breaks)
    val qs = Seq((1L, Seq("hash", "join")), (3L, Seq("data", "filter", "stream")))
      .toDF("q_id", "terms")
    val served = Retrieval.bm25ServeAllIndexed(merged, "doc_id", qs,
        "q_id", "terms", k = 10)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).toSeq
    graft.ops.Caches.releaseAll()
    val direct = Retrieval.bm25ServeAll(docs, "doc_id", "text", qs,
        "q_id", "terms", k = 10)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).toSeq
    assert(served == direct, "indexed serve diverged from the scan serve")
    graft.ops.Caches.releaseAll()
  }

  test("BM25 compaction: compacted tree ≡ rebuilt model; single-term delta rewrites ≤ 1 bucket per store") {
    import spark.implicits._
    import graft.ops.Retrieval
    val treeA = java.nio.file.Files.createTempDirectory("bm25_cA_").toString
    val treeB = java.nio.file.Files.createTempDirectory("bm25_cB_").toString
    try {
      // equivalence: static 6/7 written, 1/7 compacted in → read-back
      // components equal the rebuilt whole-corpus model exactly
      Retrieval.bm25WriteModel(Retrieval.bm25BuildModel(
        docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text"), treeA)
      Retrieval.bm25Compact(spark, treeA,
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
      val full = Retrieval.bm25BuildModel(docs, "doc_id", "text")
      val gotP = spark.read.parquet(s"$treeA/postings")
        .select("doc_id", "dl", "w", "tf").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
      val expP = full.postings.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
      assert(gotP == expP, "compacted postings diverged from the rebuilt model")
      val gotDf = spark.read.parquet(s"$treeA/df").select("w", "df").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val expDf = full.df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(gotDf == expDf, "compacted df diverged")
      // stats rows are batch-keyed (base + one per fold) and AGGREGATE
      // to the rebuilt model's totals
      def statTotals(path: String): (Long, Long) = {
        val r = spark.read.parquet(s"$path/stats")
          .agg(sum(col("nd")), sum(col("ntok"))).head()
        (r.getLong(0), r.getLong(1))
      }
      val expS = full.stats.head()
      assert(statTotals(treeA) == ((expS.getLong(0), expS.getLong(1))),
        "compacted stats diverged")
      // replay safety: foreachBatch is at-least-once — re-folding the
      // SAME delta must be a no-op (postings dedupe on (doc, term), df
      // re-derives from them, the stats row overwrites its own
      // content-derived batch key instead of double-adding)
      Retrieval.bm25Compact(spark, treeA,
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
      val replayP = spark.read.parquet(s"$treeA/postings")
        .select("doc_id", "dl", "w", "tf").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      assert(replayP.length == expP.size && replayP.toSet == expP,
        "replayed compaction duplicated postings")
      assert(statTotals(treeA) == ((expS.getLong(0), expS.getLong(1))),
        "replayed compaction double-added stats")
      // locality: a single-NEW-term delta doc touches exactly one bucket
      // in postings and df; untouched bucket dirs keep their files
      Retrieval.bm25WriteModel(Retrieval.bm25BuildModel(docs, "doc_id",
        "text"), treeB)
      def cellFiles(sub: String): Map[String, Set[String]] = {
        val root = new java.io.File(s"$treeB/$sub")
        root.listFiles().filter(_.isDirectory).map(d =>
          d.getName -> d.listFiles().map(_.getName)
            .filter(_.endsWith(".parquet")).toSet).toMap
      }
      val (beforeP, beforeDf) = (cellFiles("postings"), cellFiles("df"))
      Retrieval.bm25Compact(spark, treeB,
        Seq((999999L, "zzzqx")).toDF("doc_id", "text"), "doc_id", "text")
      val (afterP, afterDf) = (cellFiles("postings"), cellFiles("df"))
      val changedP = beforeP.keySet.filter(c => beforeP(c) != afterP.getOrElse(c, Set.empty))
      val changedDf = beforeDf.keySet.filter(c => beforeDf(c) != afterDf.getOrElse(c, Set.empty))
      assert(changedP.size <= 1, s"one-term delta rewrote postings buckets: $changedP")
      assert(changedDf.size <= 1, s"one-term delta rewrote df buckets: $changedDf")
      // loud disjoint-docs contract (VERDICT r16): re-shipping an
      // EXISTING doc with CHANGED text must raise before any write —
      // only exact replays (asserted idempotent above) may overlap
      val reShip = docs.filter(col("doc_id") % 7 === 0).limit(1)
        .select(col("doc_id"), concat(col("text"), lit(" changedzz")).as("text"))
      val ex = intercept[IllegalArgumentException] {
        Retrieval.bm25Compact(spark, treeB, reShip, "doc_id", "text")
      }
      assert(ex.getMessage.contains("CHANGED content"),
        s"changed re-ship must fail the contract check: ${ex.getMessage}")
    } finally {
      graft.util.Fs.deleteTree(java.nio.file.Paths.get(treeA))
      graft.util.Fs.deleteTree(java.nio.file.Paths.get(treeB))
    }
  }

  test("winnowing written index: compacted tree ≡ one-shot fingerprints; one-fp delta rewrites ≤ 1 bucket") {
    import spark.implicits._
    val treeA = java.nio.file.Files.createTempDirectory("wn_cA_").toString
    val treeB = java.nio.file.Files.createTempDirectory("wn_cB_").toString
    try {
      // equivalence: 6/7 written, 1/7 compacted in → the read-back rows
      // equal the one-shot fingerprint frame over everything, and the
      // served report equals the in-memory x141 path exactly
      Dedup.winnowingWriteIndex(Dedup.winnowingFingerprints(
          docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text"),
        "doc_id", treeA, nBuckets = 16)
      Dedup.winnowingCompact(spark, treeA,
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", nBuckets = 16)
      val got = spark.read.parquet(treeA).select("doc_id", "fp").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exp = Dedup.winnowingFingerprints(docs, "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == exp, "compacted tree diverged from one-shot fingerprints")
      val served = Dedup.winnowingServeTree(spark, treeA, "doc_id")
        .orderBy("a_id", "b_id").as[(Long, Long, Long)].collect().toSeq
      val direct = Dedup.winnowingOverlapPairs(docs, "doc_id", "text")
        .orderBy("a_id", "b_id").as[(Long, Long, Long)].collect().toSeq
      assert(served == direct, "tree serve diverged from the in-memory path")
      graft.ops.Caches.releaseAll()
      // replay safety: foreachBatch is at-least-once — a failure between
      // the overwrite and the checkpoint commit re-runs the batch, so
      // re-folding the SAME delta must be a no-op (the union dedupes on
      // (id, fp)), not inflate rows or the served shared_fps counts
      Dedup.winnowingCompact(spark, treeA,
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", nBuckets = 16)
      assert(spark.read.parquet(treeA).count() == exp.size.toLong,
        "replayed compaction duplicated (doc, fp) rows")
      val served2 = Dedup.winnowingServeTree(spark, treeA, "doc_id")
        .orderBy("a_id", "b_id").as[(Long, Long, Long)].collect().toSeq
      assert(served2 == direct, "replayed compaction inflated shared_fps")
      graft.ops.Caches.releaseAll()
      // locality: a 5-token delta doc (2 gram hashes < w → exactly one
      // fingerprint) touches exactly one bucket; untouched bucket dirs
      // keep their files
      Dedup.winnowingWriteIndex(Dedup.winnowingFingerprints(
        docs, "doc_id", "text"), "doc_id", treeB, nBuckets = 16)
      def cellFiles(): Map[String, Set[String]] = {
        val root = new java.io.File(treeB)
        root.listFiles().filter(_.isDirectory).map(d =>
          d.getName -> d.listFiles().map(_.getName)
            .filter(_.endsWith(".parquet")).toSet).toMap
      }
      val before = cellFiles()
      Dedup.winnowingCompact(spark, treeB,
        Seq((999999L, "qq ww ee rr tt")).toDF("doc_id", "text"),
        "doc_id", "text", nBuckets = 16)
      val after = cellFiles()
      val changed = (before.keySet ++ after.keySet).filter(c =>
        before.getOrElse(c, Set.empty[String]) !=
          after.getOrElse(c, Set.empty[String]))
      assert(changed.size <= 1, s"one-fp delta rewrote buckets: $changed")
    } finally {
      graft.util.Fs.deleteTree(java.nio.file.Paths.get(treeA))
      graft.util.Fs.deleteTree(java.nio.file.Paths.get(treeB))
      graft.ops.Caches.releaseAll()
    }
  }

  test("winnowing probe: pruned-bucket df equals full-index df for every queried fp") {
    // The x152 seek's stop cut uses the INDEX-side df computed over the
    // PRUNED scan (Dedup.winnowingProbeTree). That is only well-defined
    // because a fingerprint's index rows all live in its own bucket,
    // which the probe reads whenever that fingerprint is queried — pin
    // the invariant on the x152 fixture shape instead of arguing it in
    // prose: df-over-pruned-buckets == df-over-full-index for EVERY
    // queried fingerprint.
    val tree = java.nio.file.Files.createTempDirectory("wn_df_").toString
    try {
      val nB = 16
      Dedup.winnowingWriteIndex(
        Dedup.winnowingFingerprints(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text"),
        "doc_id", tree, nBuckets = nB)
      val qfps = Dedup.winnowingFingerprints(
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
        .select("fp").distinct().collect().map(_.getLong(0)).toSet
      val full = spark.read.parquet(tree).groupBy("fp").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val buckets = qfps.map(fp => java.lang.Math.floorMod(fp, nB.toLong))
      val pruned = spark.read.parquet(tree)
        .withColumn("fpb", col("fpb").cast("long"))
        .filter(col("fpb").isin(buckets.toSeq.map(Long.box): _*))
        .groupBy("fp").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val shared = qfps.filter(full.contains)
      assert(shared.nonEmpty, "fixture must share fingerprints with the index")
      qfps.foreach { fp =>
        assert(pruned.getOrElse(fp, 0L) == full.getOrElse(fp, 0L),
          s"fp $fp: pruned df ${pruned.get(fp)} != full df ${full.get(fp)}")
      }
    } finally {
      graft.util.Fs.deleteTree(java.nio.file.Paths.get(tree))
      graft.ops.Caches.releaseAll()
    }
  }

  test("batch hybrid serving: every per-query slice equals the single-query hybridTopK") {
    import spark.implicits._
    val qdef = Seq(
      (1L, Seq("hash", "join"), 0L),
      (2L, Seq("spark", "vector"), 50L),
      (4L, Seq("cache", "data"), 150L)).toDF("q_id", "terms", "src_vec")
    val qs = qdef.join(emb.select(col("vec_id").as("src_vec"),
      col("embedding").cast("array<double>").as("qv")), "src_vec")
    val served = graft.ops.Retrieval.hybridServeAll(docs, emb, "doc_id",
        "text", "embedding", "vec_id", qs, "q_id", "terms", "qv",
        kCand = 100, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Int]),
        Option(r.get(4)).map(_.asInstanceOf[Int]), r.getLong(6)))
      .groupBy(_._1)
    for ((qid, terms, src) <- Seq((1L, Seq("hash", "join"), 0L),
                                  (2L, Seq("spark", "vector"), 50L),
                                  (4L, Seq("cache", "data"), 150L))) {
      val qv = emb.filter(col("vec_id") === src)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val single = graft.ops.Retrieval.hybridTopK(docs, emb, "doc_id",
          "text", "embedding", "vec_id", terms, qv, kCand = 100, k = 10)
        .collect()
        .map(r => (r.getLong(0),
          Option(r.get(1)).map(_.asInstanceOf[Int]),
          Option(r.get(2)).map(_.asInstanceOf[Int]), r.getLong(4)))
        .toSeq
      val slice = served(qid).sortBy(_._2).map(r => (r._3, r._4, r._5, r._6)).toSeq
      assert(slice == single, s"query $qid slice diverged from hybridTopK")
    }
    graft.ops.Caches.releaseAll()
  }

  test("hybrid seek serving ≡ in-memory ANN-composed hybrid (written trees are exact)") {
    import spark.implicits._
    import graft.ops.{Retrieval, Similarity => Sim}
    val qdef = Seq(
      (1L, Seq("hash", "join"), 0L),
      (3L, Seq("data", "filter", "stream"), 100L),
      (4L, Seq("cache", "data"), 150L)).toDF("q_id", "terms", "src_vec")
    val qs = qdef.join(emb.select(col("vec_id").as("src_vec"),
      col("embedding")), "src_vec")
    val corpus = emb.filter(col("vec_id") % 50 =!= 0)
    val (cents, assigned) = Sim.ivfBuild(corpus, "embedding", "vec_id")
    val cb = Sim.pqBuildCodebook(corpus, "embedding", "vec_id")
    val encoded = Sim.ivfPqEncode(assigned, "vec_id", cb)
    val bm25Tree = java.nio.file.Files.createTempDirectory("hyb_bm25_").toString
    val annTree = java.nio.file.Files.createTempDirectory("hyb_ann_").toString
    try {
      Retrieval.bm25WriteModel(Retrieval.bm25BuildModel(docs, "doc_id",
        "text"), bm25Tree)
      encoded.select("vec_id", "centroid_id", "codes")
        .write.mode("overwrite").partitionBy("centroid_id").parquet(annTree)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("q_id", "rank").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            Option(r.get(3)), Option(r.get(4)), r.getLong(6))).toSeq
      val inMem = rows(Retrieval.hybridServeAllAnn(docs, "doc_id", "text",
        cents, encoded, corpus, "embedding", "vec_id", qs, "q_id", "terms",
        cb, kCand = 100, k = 10))
      val seek = rows(Retrieval.hybridServeAllSeek(spark, bm25Tree, annTree,
        "doc_id", cents, corpus, "embedding", "vec_id", qs, "q_id", "terms",
        cb, kCand = 100, k = 10))
      assert(seek == inMem, "seek serving diverged from the in-memory hybrid")
      // the BYTE-PACKED tree serves identically (x88's law: pack/unpack
      // is an exact integer bijection)
      val annPacked = java.nio.file.Files.createTempDirectory("hyb_annp_").toString
      try {
        Sim.ivfPqEncodePacked(assigned, "vec_id", cb)
          .select("vec_id", "centroid_id", "codes8")
          .write.mode("overwrite").partitionBy("centroid_id").parquet(annPacked)
        val packed = rows(Retrieval.hybridServeAllSeek(spark, bm25Tree,
          annPacked, "doc_id", cents, corpus, "embedding", "vec_id", qs,
          "q_id", "terms", cb, kCand = 100, k = 10, packed = true))
        assert(packed == inMem, "packed tree diverged from the unpacked serve")
      } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(annPacked))
      graft.ops.Caches.releaseAll()
    } finally {
      graft.util.Fs.deleteTree(java.nio.file.Paths.get(bm25Tree))
      graft.util.Fs.deleteTree(java.nio.file.Paths.get(annTree))
    }
  }

  test("random projection: local-twin bit parity, repartition invariance, recall ladder") {
    import graft.ops.Similarity
    val corpus = emb.filter(col("vec_id") =!= 0)
    val proj = Similarity.randomProject(corpus, "embedding", "vec_id", 16)
    val inPlan = proj.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // the driver twin reproduces the column fold bit-for-bit on every row
    corpus.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().foreach { r =>
        val expect = Similarity.randomProjectLocal(r.getSeq[Double](1), 16)
        assert(inPlan(r.getLong(0)) == expect,
          s"row ${r.getLong(0)}: twin diverged from the column fold")
      }
    // partitioning cannot move a coordinate (per-row, plan-literal matrix)
    val rp = Similarity.randomProject(corpus.repartition(7), "embedding",
        "vec_id", 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(rp == inPlan, "projection must be partitioning-invariant")
    // recall ladder vs the original-space exact top-20 — this corpus is
    // near-uniform (no cluster contrast), the JL worst case for neighbor
    // recall; measured 0.15 / 0.25 / 0.35 at 8 / 16 / 32 dims. Pin a
    // conservative floor + monotonicity so a broken matrix or fold shows
    // up as recall collapse, not noise.
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val exact = Similarity.topKCosine(corpus, "embedding", "vec_id", qv, 20)
      .collect().map(_.getLong(0)).toSet
    val recalls = Seq(8, 16, 32).map { d =>
      val got = Similarity.topKCosine(
          Similarity.randomProject(corpus, "embedding", "vec_id", d),
          "proj", "vec_id", Similarity.randomProjectLocal(qv, d), 20)
        .collect().map(_.getLong(0)).toSet
      (got & exact).size / 20.0
    }
    assert(recalls(1) >= 0.15, s"recall@20 at 16 dims collapsed: $recalls")
    assert(recalls(2) >= recalls(0),
      s"recall must not degrade with more dims: $recalls")
    graft.ops.Caches.releaseAll()
  }

  test("projected IVF: results subset-of-corpus with exact original scores; recall vs full-dim IVF") {
    import graft.ops.Similarity
    val rest = emb.filter(col("vec_id") =!= 0)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val got = Similarity.projectedIvfTopK(rest, "embedding", "vec_id", qv,
        k = 20).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == 20)
    // served scores are EXACT original-space cosines (the rerank
    // contract): every (id, score) matches the brute-force scan's value
    val brute = Similarity.topKCosine(rest, "embedding", "vec_id", qv,
        rest.count().toInt)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (id, s) =>
      assert(brute(id) == s, s"id $id served $s, exact is ${brute(id)}")
    }
    // recall floor vs the exact top-20 — the projected cells cost 4×
    // less per dot; on this near-uniform corpus (the JL worst case)
    // recall tracks the full-dim IVF's ballpark rather than collapsing
    val exact = Similarity.topKCosine(rest, "embedding", "vec_id", qv, 20)
      .collect().map(_.getLong(0)).toSet
    val recall = (got.keySet & exact).size / 20.0
    assert(recall >= 0.10, s"projected-IVF recall collapsed: $recall")
    graft.ops.Caches.releaseAll()
  }

  test("delta kNN graph ≡ frozen-model rebuild over the union, row for row") {
    import graft.ops.Similarity
    val static0 = emb.filter(col("vec_id") % 7 =!= 0)
    val delta0 = emb.filter(col("vec_id") % 7 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("src_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val got = rows(Similarity.knnGraphCellsDelta(static0, delta0,
      "embedding", "vec_id", k = 5))
    graft.ops.Caches.releaseAll()
    // the rebuild twin: the SAME frozen model (cells trained on the
    // static split), candidates and ranks over the whole union — what a
    // batch build would produce if it kept the maintained model
    val (cents, _) = Similarity.ivfBuildKmeans(static0, "embedding",
      "vec_id", Similarity.autoCellCount(static0), 2)
    val vecs = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("__v"))
    val rebuilt = rows(Similarity.knnGraphCandidatesWithCents(emb,
        "embedding", "vec_id", cents, 5, 16, 4, 64)
      .join(vecs.withColumnsRenamed(Map("vec_id" -> "src_id", "__v" -> "__sv")), "src_id")
      .join(vecs.withColumnsRenamed(Map("vec_id" -> "nbr_id", "__v" -> "__nv")), "nbr_id")
      .withColumn("cos_sim", round(graft.functions.VectorFunctions.cosine(
        col("__sv"), col("__nv")), 6))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("src_id")
          .orderBy(col("cos_sim").desc, col("nbr_id").asc)))
      .filter(col("rank") <= 5)
      .select(col("src_id"), col("nbr_id"), col("cos_sim"), col("rank")))
    assert(got == rebuilt,
      s"delta graph diverged from the frozen-model rebuild " +
        s"(got ${got.size} rows, rebuild ${rebuilt.size})")
    graft.ops.Caches.releaseAll()
  }

  test("kNN graph compaction: tree read-back ≡ delta operator (1-vector and full delta)") {
    import graft.ops.Similarity
    val static0 = emb.filter(col("vec_id") % 7 =!= 0)
    val delta0 = emb.filter(col("vec_id") % 7 === 0)
    val tree = java.nio.file.Files.createTempDirectory("knn_compact_").toString
    try {
      Similarity.knnGraphCells(static0, "embedding", "vec_id", k = 5)
        .withColumn("sb", pmod(col("src_id"), lit(16L)))
        .repartition(col("sb"))
        .sortWithinPartitions(col("sb"), col("src_id"), col("rank"))
        .write.mode("overwrite").partitionBy("sb").parquet(tree)
      graft.ops.Caches.releaseAll()
      def bucketFiles(): Map[String, Set[String]] = {
        val root = new java.io.File(tree)
        root.listFiles().filter(_.isDirectory).map(d =>
          d.getName -> d.listFiles().map(_.getName)
            .filter(_.endsWith(".parquet")).toSet).toMap
      }
      val before = bucketFiles()
      assert(before.nonEmpty)
      // a SINGLE-vector delta: the read-back equals the delta operator
      // on the same 1-vector arrival (bucket-count locality is NOT the
      // claim — one arrival legitimately band-collides with ~β of its
      // probed cells' members, so affected sources span many buckets;
      // the saving is recompute VOLUME: stored-k ∪ Δ-touching pairs,
      // never the static candidate set)
      val one = delta0.orderBy("vec_id").limit(1)
      Similarity.knnGraphCompact(spark, tree, static0, one,
        "embedding", "vec_id", k = 5)
      graft.ops.Caches.releaseAll()
      def rows0(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("src_id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
      assert(rows0(spark.read.parquet(tree)
          .select(col("src_id"), col("nbr_id"), col("cos_sim"), col("rank"))) ==
        rows0(Similarity.knnGraphCellsDelta(static0, one, "embedding",
          "vec_id", k = 5)),
        "1-vector compaction diverged from the delta operator")
      graft.ops.Caches.releaseAll()
      // full-delta compaction: read-back ≡ the delta operator's output
      graft.util.Fs.deleteTree(java.nio.file.Paths.get(tree))
      Similarity.knnGraphCells(static0, "embedding", "vec_id", k = 5)
        .withColumn("sb", pmod(col("src_id"), lit(16L)))
        .repartition(col("sb"))
        .sortWithinPartitions(col("sb"), col("src_id"), col("rank"))
        .write.mode("overwrite").partitionBy("sb").parquet(tree)
      graft.ops.Caches.releaseAll()
      Similarity.knnGraphCompact(spark, tree, static0, delta0,
        "embedding", "vec_id", k = 5)
      graft.ops.Caches.releaseAll()
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("src_id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
      val readBack = rows(spark.read.parquet(tree)
        .select(col("src_id"), col("nbr_id"), col("cos_sim"), col("rank")))
      val viaDelta = rows(Similarity.knnGraphCellsDelta(static0, delta0,
        "embedding", "vec_id", k = 5))
      assert(readBack == viaDelta,
        "compacted tree diverged from the delta operator")
      graft.ops.Caches.releaseAll()
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tree))
  }

  test("assignProjected append law: assignment distributes over union under a frozen model") {
    import graft.ops.Similarity
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") =!= 0)
    val proj = graft.ops.Caches.localCheckpointTracked(
      Similarity.randomProject(corpus, "embedding", "vec_id", 16))
    val cents = proj
      .select(col("vec_id").as("centroid_id"), col("proj").as("cv"))
      .orderBy(md5(col("centroid_id").cast("string")).asc, col("centroid_id").asc)
      .limit(16)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the s15 law: the row is a pure per-row function of the frozen
    // model, so assigning the parts and unioning equals assigning the
    // whole — append-only maintenance needs no compaction
    val whole = rows(Similarity.assignProjected(corpus, "embedding",
      "vec_id", cents, outDims = 16))
    val partA = rows(Similarity.assignProjected(
      corpus.filter(col("vec_id") % 7 =!= 0), "embedding", "vec_id",
      cents, outDims = 16))
    val partB = rows(Similarity.assignProjected(
      corpus.filter(col("vec_id") % 7 === 0), "embedding", "vec_id",
      cents, outDims = 16))
    assert(partA.keySet.intersect(partB.keySet).isEmpty)
    assert(partA ++ partB == whole,
      "split assignment diverged from the whole-corpus assignment")
    graft.ops.Caches.releaseAll()
  }

  test("k-means|| init: partition-invariant, candidate budget, full coverage") {
    import graft.ops.Similarity
    val rest = emb.filter(col("vec_id") =!= 0)
    val (cents, assigned) = Similarity.ivfBuildKmeansParallel(rest,
      "embedding", "vec_id", nLists = 16, l = 16, rounds = 2)
    val c1 = cents.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(c1.size <= 16, s"more centroids than nLists: ${c1.size}")
    assert(c1.size >= 8, s"suspiciously few surviving cells: ${c1.size}")
    // every corpus row lands in exactly one returned cell
    assert(assigned.count() == rest.count())
    assert(assigned.select("centroid_id").distinct().count() <= c1.size)
    graft.ops.Caches.releaseAll()
    // partitioning cannot move the training: the seed, the u·φ < l·2³²·d²
    // selections, the weights and the weighted means are all exact
    // integer/md5 arithmetic
    val (cents2, _) = Similarity.ivfBuildKmeansParallel(rest.repartition(7),
      "embedding", "vec_id", nLists = 16, l = 16, rounds = 2)
    val c2 = cents2.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(c2 == c1, "k-means|| must be partitioning-invariant")
    graft.ops.Caches.releaseAll()
    // oversampling keeps ~l per round: the candidate pool that the Lloyd
    // stage saw is bounded (1 seed + ~2l, far below corpus size) — probe
    // it via the internal chain re-run at the weights stage
    val tiny = Similarity.ivfBuildKmeansParallel(rest, "embedding",
      "vec_id", nLists = 4, l = 4, rounds = 3)
    assert(tiny._1.count() <= 4)
    graft.ops.Caches.releaseAll()
  }

  test("hierarchical IVF assignment: nSuper=1 ≡ flat; routed agreement bounded; deterministic") {
    val rest = emb.filter(col("vec_id") =!= 0)
    val (cents, flatAssigned) = Similarity.ivfBuild(rest, "embedding", "vec_id")
    val flat = flatAssigned.select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // LAW: one super-cell contains every centroid, so the second-level
    // argmax ranges over all of them — identical to the flat fold
    val one = Similarity.assignNearestHier(rest, "embedding", "vec_id", cents, 1)
      .select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == flat, "nSuper=1 must reproduce the flat assignment exactly")
    // routed (nSuper=4): boundary rows may re-route — most must agree
    val hier = Similarity.assignNearestHier(rest, "embedding", "vec_id", cents, 4)
      .select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hier.keySet == flat.keySet, "hier assignment must cover every row")
    val agree = flat.count { case (id, c) => hier(id) == c }.toDouble / flat.size
    assert(agree >= 0.5,
      f"routed assignment agrees on $agree%.2f of rows — routing is broken, not approximate")
    // determinism: partitioning cannot move a single assignment
    val again = Similarity.assignNearestHier(rest.repartition(7), "embedding",
        "vec_id", cents, 4)
      .select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == hier, "hier assignment depends on partitioning")
  }

  test("IVFPQ compaction: manifest addition law; compacted tree ≡ rebuilt index; untouched cells' files untouched") {
    val rest = emb.filter(col("vec_id") =!= 0)
    val (cents, assigned) = Similarity.ivfBuild(rest, "embedding", "vec_id")
    val cb = Similarity.pqBuildCodebook(rest, "embedding", "vec_id")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val staticIdx = Similarity.ivfPqEncode(
      assigned.filter(col("vec_id") % 7 =!= 0), "vec_id", cb)
      .select("vec_id", "centroid_id", "codes")
    val deltaIdx = Similarity.ivfPqEncode(
      assigned.filter(col("vec_id") % 7 === 0), "vec_id", cb)
      .select("vec_id", "centroid_id", "codes")
    val fullIdx = Similarity.ivfPqEncode(assigned, "vec_id", cb)
      .select("vec_id", "centroid_id", "codes")
    type Man = Map[Long, (Long, Long, Long, Long)]
    def man(df: org.apache.spark.sql.DataFrame): Man =
      Similarity.ivfPqManifest(df, "vec_id").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toMap
    // ADDITION LAW: per-cell counts/checksums add, id bounds fold —
    // independent writers' manifests merge to the whole tree's
    val (sM, dM, fM) = (man(staticIdx), man(deltaIdx), man(fullIdx))
    val merged: Man = (sM.keySet ++ dM.keySet).map { c =>
      (sM.get(c), dM.get(c)) match {
        case (Some((n1, lo1, hi1, k1)), Some((n2, lo2, hi2, k2))) =>
          c -> (n1 + n2, math.min(lo1, lo2), math.max(hi1, hi2), k1 + k2)
        case (Some(m1), None) => c -> m1
        case (None, Some(m2)) => c -> m2
        case _ => fail("unreachable")
      }
    }.toMap
    assert(merged == fM, "static ⊕ delta manifests must merge to the full manifest")
    val idxDir = java.nio.file.Files.createTempDirectory("compact_").toString
    try {
      staticIdx.write.mode("overwrite").partitionBy("centroid_id").parquet(idxDir)
      // single-row delta first: only ITS cell may be rewritten
      def cellFiles(): Map[String, Set[String]] = {
        val root = new java.io.File(idxDir)
        root.listFiles().filter(_.isDirectory).map(d =>
          d.getName -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet).toMap
      }
      val before = cellFiles()
      val one = rest.filter(col("vec_id") === 7) // 7 % 7 == 0: not in static
      assert(one.count() == 1)
      Similarity.ivfPqCompact(idxDir, cents, one, "embedding", "vec_id", cb)
      val after = cellFiles()
      val changed = before.keySet.filter(c => before(c) != after.getOrElse(c, Set.empty))
      assert(changed.size <= 1,
        s"single-row delta rewrote ${changed.size} cells: $changed")
      // rest of the delta (compaction merges DISJOINT deltas — vec 7 is
      // already in the tree): compacted manifest == the rebuilt
      // index's, and probing the tree == probing the rebuilt index
      val manAfter = Similarity.ivfPqCompact(idxDir, cents,
        rest.filter(col("vec_id") % 7 === 0 && col("vec_id") =!= 7),
        "embedding", "vec_id", cb)
      assert(manAfter.collect().map(r => r.getLong(0) -> (r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toMap == fM,
        "compacted manifest must equal the rebuilt index's")
      val probeTree = Similarity.ivfPqProbe(cents,
          spark.read.parquet(idxDir), rest, "embedding", "vec_id", q, cb,
          k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      val probeRebuilt = Similarity.ivfPqProbe(cents, fullIdx, rest,
          "embedding", "vec_id", q, cb, k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      assert(probeTree == probeRebuilt,
        "probe over the compacted tree diverged from the rebuilt index")
      // replay safety: foreachBatch is at-least-once — re-folding the
      // SAME delta must be a no-op (the union dedupes on the vector id),
      // not inflate per-cell n_rows/checksum in the manifest
      val manReplay = Similarity.ivfPqCompact(idxDir, cents,
        rest.filter(col("vec_id") % 7 === 0 && col("vec_id") =!= 7),
        "embedding", "vec_id", cb)
      assert(manReplay.collect().map(r => r.getLong(0) -> (r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toMap == fM,
        "replayed compaction changed the manifest")
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(idxDir))
  }

  test("hier assignment map-fold ≡ r9 full-fold reference (bit equality)") {
    // VERDICT r9 What's-wrong #1: the production fold iterates ONLY the
    // routed super's children via element_at(map, __sup). This reference
    // rebuilds the r9 form — the full k-element array with the score
    // gated under when(child-of-chosen-super) — inline; identical argmax
    // + tie rules mean the two must agree on every row (so the x74
    // oracle is untouched by the rewrite).
    import graft.functions.VectorFunctions
    val rest = emb.filter(col("vec_id") =!= 0)
    val (cents, _) = Similarity.ivfBuild(rest, "embedding", "vec_id")
    val nSuper = 4
    def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      VectorFunctions.dot(a, b) / (VectorFunctions.norm(a) * VectorFunctions.norm(b))
    val supArr = cents
      .orderBy(md5(col("centroid_id").cast("string")).asc, col("centroid_id").asc)
      .limit(nSuper)
      .select(col("centroid_id").as("super_id"), col("cv").as("sv"))
      .agg(collect_list(struct(col("super_id"), col("sv"))).as("ss"))
    def argmaxSuper(vec: org.apache.spark.sql.Column) = aggregate(col("ss"),
      struct(lit(Double.NegativeInfinity).as("s"), lit(Long.MaxValue).as("sid")),
      (acc, c) => {
        val sc = cos(vec, c.getField("sv"))
        when(sc > acc.getField("s") ||
             (sc === acc.getField("s") && c.getField("super_id") < acc.getField("sid")),
          struct(sc.as("s"), c.getField("super_id").cast("long").as("sid")))
          .otherwise(acc)
      },
      acc => acc.getField("sid"))
    val centArr = cents.crossJoin(broadcast(supArr))
      .withColumn("super_id", argmaxSuper(col("cv")))
      .agg(collect_list(struct(col("centroid_id"), col("cv"), col("super_id")))
        .as("cents"))
    val bestChildRef = aggregate(col("cents"),
      struct(lit(Double.NegativeInfinity).as("s"), lit(Long.MaxValue).as("cid")),
      (acc, c) => when(c.getField("super_id") === col("__sup"), {
        val sc = cos(col("vec"), c.getField("cv"))
        when(sc > acc.getField("s") ||
             (sc === acc.getField("s") && c.getField("centroid_id") < acc.getField("cid")),
          struct(sc.as("s"), c.getField("centroid_id").cast("long").as("cid")))
          .otherwise(acc)
      }).otherwise(acc),
      acc => acc.getField("cid"))
    val ref = rest
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      .crossJoin(broadcast(supArr)).crossJoin(broadcast(centArr))
      .withColumn("__sup", argmaxSuper(col("vec")))
      .withColumn("centroid_id", bestChildRef)
      .select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Similarity.assignNearestHier(rest, "embedding", "vec_id", cents, nSuper)
      .select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref, "map-based fold diverged from the full-fold reference")
  }

  test("delta-maintained IVFPQ: probe ≡ rebuilt-index probe at three split points") {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val (cents, assigned) = Similarity.ivfBuild(rest, "embedding", "vec_id")
    val cb = Similarity.pqBuildCodebook(rest, "embedding", "vec_id")
    val rebuilt = Similarity.ivfPqProbe(cents,
      Similarity.ivfPqEncode(assigned, "vec_id", cb),
      rest, "embedding", "vec_id", q, cb, k = 20).collect().toSeq
    // cell ids and codes are pure per-row functions of the frozen model,
    // so where the arrival boundary falls cannot appear in the result
    for (m <- Seq(3, 7, 13)) {
      val staticIdx = Similarity.ivfPqEncode(
        assigned.filter(col("vec_id") % m =!= 0), "vec_id", cb)
      val delta = rest.filter(col("vec_id") % m === 0)
      val got = Similarity.ivfPqProbeDelta(cents, staticIdx, delta, rest,
        "embedding", "vec_id", q, cb, k = 20).collect().toSeq
      assert(got == rebuilt, s"delta probe at split mod $m diverged from rebuild")
    }
  }

  test("byte-packed PQ codes: probe parity with the plain index, m-byte wire contract") {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val rest = emb.filter(col("vec_id") =!= 0)
    val (cents, assigned) = Similarity.ivfBuild(rest, "embedding", "vec_id")
    // K=256 trained codebook — the byte-code regime the packing targets
    val cb = Similarity.pqTrainCodebook(rest, "embedding", "vec_id",
      nCentroids = 256, iters = 1)
    val plainDir = java.nio.file.Files.createTempDirectory("pq_plain_").toString
    val packedDir = java.nio.file.Files.createTempDirectory("pq_packed_").toString
    try {
      Similarity.ivfPqEncode(assigned, "vec_id", cb)
        .select("vec_id", "centroid_id", "codes")
        .write.mode("overwrite").parquet(plainDir)
      Similarity.ivfPqEncodePacked(assigned, "vec_id", cb)
        .write.mode("overwrite").parquet(packedDir)
      // parity: the packed probe replays the plain probe exactly
      val plain = Similarity.ivfPqProbe(cents, spark.read.parquet(plainDir),
        rest, "embedding", "vec_id", q, cb, k = 20).collect().toSeq
      val packed = Similarity.ivfPqProbePacked(cents, spark.read.parquet(packedDir),
        rest, "embedding", "vec_id", q, cb, k = 20).collect().toSeq
      assert(packed == plain, "packed probe diverged from the plain index")
      // batch serving parity over the same two written indexes
      val queries = rest.filter(col("vec_id") % 50 === 0)
      val servePlain = Similarity.ivfPqServeAll(cents,
          spark.read.parquet(plainDir), rest, "embedding", "vec_id",
          queries, "vec_id", cb, k = 5)
        .orderBy("q_id", "rank").collect().toSeq
      val servePacked = Similarity.ivfPqServeAllPacked(cents,
          spark.read.parquet(packedDir), rest, "embedding", "vec_id",
          queries, "vec_id", cb, k = 5)
        .orderBy("q_id", "rank").collect().toSeq
      assert(servePacked == servePlain,
        "packed batch serving diverged from the plain index")
      // and pack∘unpack is the identity on the codes themselves
      val roundTrip = Similarity.ivfPqEncodePacked(assigned, "vec_id", cb)
        .withColumn("back", Similarity.pqUnpackCodes(col("codes8")))
        .join(Similarity.ivfPqEncode(assigned, "vec_id", cb)
          .select(col("vec_id"), col("codes")), "vec_id")
        .filter(col("back") =!= col("codes")).count()
      assert(roundTrip == 0, s"$roundTrip rows changed codes through pack/unpack")
      // the wire contract: exactly m bytes per vector, no per-element
      // structure (at this fixture size parquet's dictionary encoding
      // hides the on-disk delta; the packed win is the scan/memory
      // representation — 8 fixed bytes vs a 32 B array with offsets)
      val lens = spark.read.parquet(packedDir)
        .select(length(col("codes8"))).distinct().collect().map(_.getInt(0))
      assert(lens.toSeq == Seq(8), s"codes8 must be exactly m=8 bytes: ${lens.toSeq}")
    } finally {
      graft.util.Fs.deleteTree(java.nio.file.Paths.get(plainDir))
      graft.util.Fs.deleteTree(java.nio.file.Paths.get(packedDir))
    }
  }

  test("IVFPQ family on planted clusters: residual encoding beats raw, rerank exact") {
    import spark.implicits._
    // same planted geometry as the trained-PQ test: 16 clusters the IVF
    // cells should capture, so residuals are small displacements — the
    // regime where residual PQ's accuracy advantage exists by design
    val rnd = new scala.util.Random(43)
    val centers = Array.fill(16, 64)(rnd.nextDouble() * 4.0 - 2.0)
    val rows = for (g <- 0 until 16; i <- 0 until 20) yield {
      val id = (g * 20 + i + 1).toLong
      (id, centers(g).map(c => c + rnd.nextDouble() * 0.1 - 0.05).toSeq)
    }
    val fixture = rows.toDF("vec_id", "embedding").repartition(4)
    val qv = centers(5).map(c => c + 0.01).toSeq
    val exact = fixture
      .withColumn("l2", round(graft.functions.VectorFunctions.l2sq(
        col("embedding"), lit(qv.toArray)), 6))
      .select(col("vec_id"), col("l2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exactTop = exact.toSeq.sortBy { case (id, l2) => (l2, id) }
      .take(20).map(_._1).toSet
    def run(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val raw = run(Similarity.ivfPqTopK(fixture, "embedding", "vec_id", qv, k = 20))
    val res = run(Similarity.ivfPqResidualTopK(fixture, "embedding", "vec_id", qv, k = 20))
    // rerank distances stay brute-force exact on both paths
    (raw ++ res).foreach { case (id, l2) =>
      assert(l2 == exact(id), s"rerank drift for $id: $l2 vs ${exact(id)}") }
    val rawRecall = raw.map(_._1).count(exactTop.contains) / 20.0
    val resRecall = res.map(_._1).count(exactTop.contains) / 20.0
    assert(resRecall >= 0.7, s"residual IVFPQ recall $resRecall below floor")
    assert(resRecall >= rawRecall,
      s"residual ($resRecall) should not trail raw-vector PQ ($rawRecall) on clustered data")
    // fully-trained composition (x71): k-means cells + trained codebook —
    // must clear the same floor and not trail the sampled composition
    val trained = run(Similarity.ivfPqTopKTrained(fixture, "embedding",
      "vec_id", qv, k = 20))
    trained.foreach { case (id, l2) =>
      assert(l2 == exact(id), s"rerank drift for $id: $l2 vs ${exact(id)}") }
    val trainedRecall = trained.map(_._1).count(exactTop.contains) / 20.0
    assert(trainedRecall >= 0.7, s"trained IVFPQ recall $trainedRecall below floor")
    assert(trainedRecall >= rawRecall,
      s"trained ($trainedRecall) should not trail sampled ($rawRecall) on clustered data")
  }

  test("incremental dedup: cross-side matches flagged, internal dups out of scope") {
    val out = Dedup.incrementalNearDupFilter(
        docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
        "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out.size == 100)
    // the sf0.01 planted pairs crossing the 400 boundary: 92<->450, 267<->413
    assert(out(450L) == ((false, 92L)), s"450 -> ${out(450L)}")
    assert(out(413L) == ((false, 267L)), s"413 -> ${out(413L)}")
    // 458<->462 are near-dups WITHIN the batch — not corpus matches
    assert(out(458L)._1 && out(462L)._1, "batch-internal dup wrongly flagged")
    assert(out.values.count(!_._1) == 2, "exactly two corpus matches expected")
  }

  test("ridge probe: exact-linear data recovered exactly at lambda=0, shrunk under penalty") {
    import spark.implicits._
    import graft.ops.LinearProbe
    val feats = Seq((3L, 7L), (10L, 2L), (25L, 40L), (8L, 8L), (50L, 1L), (2L, 30L))
      .map { case (a, b) => (a, b, 3L + 2 * a + 5 * b) }
      .toDF("f1", "f2", "y")
    val m0 = LinearProbe.ridgeFit(feats, col("f1"), col("f2"), col("y"), lambda = 0L)
    // consistent system + exact integer Cramer: d_i = beta_i * dA exactly,
    // and all determinants sit under 2^53 — the doubles are EXACT
    assert(m0.b0 == 3.0 && m0.b1 == 2.0 && m0.b2 == 5.0,
      s"exact fit expected, got (${m0.b0}, ${m0.b1}, ${m0.b2})")
    val mBig = LinearProbe.ridgeFit(feats, col("f1"), col("f2"), col("y"),
      lambda = 1000000L)
    assert(math.abs(mBig.b1) < 2.0 && math.abs(mBig.b2) < 5.0,
      s"penalty must shrink weights: (${mBig.b1}, ${mBig.b2})")
  }

  test("ridge quality probe on the corpus: one summary row, near-perfect fit") {
    import graft.ops.LinearProbe
    val row = LinearProbe.qualityProbe(docs, "text", "n_chars").collect().head
    assert(row.getLong(0) == docs.count())
    // word-salad text: n_chars = alpha chars + (words-1) separators, so
    // the 2-feature probe should explain essentially all variance
    assert(row.getDouble(4) >= 0.99, s"r2 = ${row.getDouble(4)}")
  }

  test("substring dedup: later copies lose covered spans, first occurrence intact") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "a b c d e f g h i j"),            // first occurrence of a..h
      (2L, "x y a b c d e f g h"),            // same 8-word run at offset 3
      (3L, "a b c d e f g h i j"),            // exact copy → fully covered
      (4L, "short doc only")                  // < window → untouched
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstringDedup(fixture, "doc_id", "text", windowWords = 8)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, "a b c d e f g h i j", 10L, 10L)), s"got ${out(0)}")
    assert(out(1) == ((2L, "x y", 10L, 2L)), s"got ${out(1)}")
    assert(out(2) == ((3L, "", 10L, 0L)), s"got ${out(2)}")
    assert(out(3) == ((4L, "short doc only", 3L, 3L)), s"got ${out(3)}")
  }

  test("duplication score: symmetric across copies, partial overlap fractional") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y a b c d e f g h"),   // 1 of 3 windows duplicated
      (3L, "a b c d e f g h i j"),   // exact copy of 1
      (4L, "short doc only")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicationScore(fixture, "doc_id", "text", windowWords = 8)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    // unlike the scrub (which spares first occurrences), the SCORE is
    // symmetric: doc 1 and its copy doc 3 are equally non-novel
    assert(out(0) == ((1L, 3L, 3L, 1.0)), s"got ${out(0)}")
    assert(out(1) == ((2L, 3L, 1L, 0.333333)), s"got ${out(1)}")
    assert(out(2) == ((3L, 3L, 3L, 1.0)), s"got ${out(2)}")
    assert(out(3)._2 == 0L && out(3)._3 == 0L && out(3)._4.isNaN, s"got ${out(3)}")
  }

  test("substring dedup on the corpus: removal happens, monotone, reassembly honest") {
    val out = Dedup.exactSubstringDedup(docs, "doc_id", "text", windowWords = 8)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == docs.count())
    // the corpus has planted near-dups: something must actually be removed
    assert(rows.exists { case (_, _, nw, nk) => nk < nw }, "no spans removed")
    rows.foreach { case (id, clean, nw, nk) =>
      assert(nk <= nw, s"doc $id kept more words than it had")
      val words = if (clean.isEmpty) 0L else clean.split(" ", -1).length.toLong
      assert(words == nk, s"doc $id: clean_text has $words words, n_kept $nk")
    }
  }

  test("DSIR: target-vocabulary docs win the selection exactly (planted)") {
    import graft.ops.Dsir
    import spark.implicits._
    // 10 docs speaking the target vocabulary, 30 speaking a disjoint one;
    // keep fraction 1/4 of 40 = 10 — selection must be exactly the
    // target-like docs
    val tgtVocab = (0 until 20).map(i => s"tgt$i")
    val rawDocs = ((0L until 10L).map(i =>
      (i, (0 until 12).map(j => tgtVocab((i.toInt + j) % 20)).mkString(" "))) ++
      (10L until 40L).map(i =>
        (i, (0 until 12).map(j => s"noise${(i + j) % 25}").mkString(" ")))).toDF("id", "text")
    val target = (100L until 110L).map(i =>
      (i, (0 until 15).map(j => tgtVocab((i.toInt + j) % 20)).mkString(" "))).toDF("id", "text")
    val kept = Dsir.dsirSelect(rawDocs, target, "id", "text")
      .filter(col("kept")).select("id").as[Long].collect().toSet
    assert(kept == (0L until 10L).toSet, s"selected $kept")
  }

  test("DSIR: weights deterministic under repartitioning, keep count exact") {
    import graft.ops.Dsir
    val a = Dsir.dsirSelect(docs, docs.filter(col("lang") === "en"),
      "doc_id", "text").orderBy("doc_id").collect().toSeq
    val b = Dsir.dsirSelect(docs.repartition(7), docs.filter(col("lang") === "en")
      .repartition(3), "doc_id", "text").orderBy("doc_id").collect().toSeq
    assert(a == b, "DSIR output depends on partitioning")
    val m = docs.count()
    val keptN = a.count(_.getBoolean(3))
    assert(keptN == (m * 1 + 3) / 4, s"kept $keptN of $m")
  }

  test("DSIR threshold cut ≡ rank cut at the k-th weight; plan carries no window") {
    import graft.ops.Dsir
    import spark.implicits._
    val target = docs.filter(col("lang") === "en")
    // the k-th and (k+1)-th exact weights under the rank form's order
    val weights = Dsir.importanceWeights(docs, target, "doc_id", "text")
      .orderBy(col("wfix").desc, col("doc_id").asc)
      .select("doc_id", "wfix").as[(Long, Long)].collect()
    val k = ((weights.length * 1 + 3) / 4).toInt
    val (kth, next) = (weights(k - 1)._2, weights(k)._2)
    // the equivalence law needs an untied boundary — holds on this
    // corpus (weights are large exact sums); a tie would make the
    // threshold form keep strictly more, which is its documented shape
    assert(kth > next, s"fixture boundary tied at $kth — pick another k")
    val rankKeep = Dsir.dsirSelect(docs, target, "doc_id", "text")
      .filter(col("kept")).select("doc_id").as[Long].collect().toSet
    val thrDf = Dsir.dsirSelectThreshold(docs, target, "doc_id", "text",
      thresholdFix = kth)
    val thrKeep = thrDf.filter(col("kept")).select("doc_id")
      .as[Long].collect().toSet
    assert(thrKeep == rankKeep,
      s"threshold cut at k-th weight $kth diverged from the rank cut")
    // the scale property the swap exists for: no window anywhere — the
    // rank form's global single-partition row_number is gone
    // (the only single-partition stage left is the scalar token total's
    // one-row aggregate — model-sized, not corpus-width)
    val plan = thrDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"threshold select must be window-free:\n$plan")
  }

  test("DSIR x150 dial dead-band: every exact weight sits ≥1000×n_tokens from 0") {
    import graft.ops.Dsir
    import spark.implicits._
    // The gated x150 dial is thresholdFix = 0. A 1-ulp cross-engine
    // libm difference in ln() shifts one grid cell's lr_fix by ±1,
    // i.e. a document's wfix by at most its token count — so the gate
    // is engine-robust iff no attainable sum sits within that jitter
    // of the threshold (the dsirSelectThreshold DIAL RULE). Pin a
    // 1000× safety margin on the gate fixture; loud-fail if the data
    // ever parks a document near the boundary.
    val w = Dsir.importanceWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text")
      .select("wfix", "n_tokens").as[(Long, Long)].collect()
    assert(w.nonEmpty)
    w.foreach { case (wfix, n) =>
      assert(math.abs(wfix) >= 1000L * n,
        s"wfix=$wfix is within the jitter dead-band of threshold 0 (n_tokens=$n)")
    }
  }

  test("repetition signals: planted repeats, tie-break, overlap mass, floors") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "x y x y x y"),       // top2 "x y"x3: 9/11; top3 tie -> "x y x": 10/11
      (2L, "one"),               // too short for every n-gram: all zeros
      (3L, "w w w w w w w w"),   // degenerate repeat: overlap mass pushes >1
      (4L, (0 until 20).map(i => f"w$i%02d").mkString(" "))  // unique: clean
    ).toDF("doc_id", "text")
    val out = graft.ops.TextStats.repetitionSignals(fixture, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(out(0) == ((1L, 0.818182, 0.909091, 0.0, true)), s"got ${out(0)}")
    assert(out(1) == ((2L, 0.0, 0.0, 0.0, false)), s"got ${out(1)}")
    assert(out(2) == ((3L, 1.4, 2.0, 1.8, true)), s"got ${out(2)}")
    assert(out(3)._5 == false && out(3)._4 == 0.0, s"got ${out(3)}")
  }

  test("CMS: shard grids merge to the whole-corpus grid; estimates never undercount") {
    import graft.ops.Cms
    import spark.implicits._
    val grid = Cms.cmsBuild(docs, "text")
    // bounded state: at most depth x width touched cells
    assert(grid.count() <= 4 * 256)
    // re-aggregation law: grids built per shard, merged by cell-wise
    // addition, equal the whole-corpus grid exactly
    val merged = Cms.cmsBuild(docs.filter(col("doc_id") % 2 === 0), "text")
      .unionByName(Cms.cmsBuild(docs.filter(col("doc_id") % 2 =!= 0), "text"))
      .groupBy("r", "cell").agg(sum(col("c")).as("c"))
    val diff = grid.join(merged, Seq("r", "cell"), "full")
      .filter(grid("c") =!= merged("c") || grid("c").isNull || merged("c").isNull)
    assert(diff.count() == 0, "sharded grids did not merge to the whole grid")
    // over-estimate guarantee over the ENTIRE vocabulary, not just top-k
    val vocab = docs.select(explode(graft.ops.TextStats.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("true_c"))
    val under = Cms.cmsEstimate(grid, vocab.select("w"), "w")
      .join(vocab, "w").filter(col("est_count") < col("true_c"))
    assert(under.count() == 0, "CMS under-counted a word")
  }

  test("histogram quantiles: shard merge law, error < bucket width, clamping") {
    import graft.ops.HistQuantile
    import spark.implicits._
    val (lo, hi, bk) = (0L, 600L, 64)
    val whole = HistQuantile.histBuild(docs, "lang", "n_chars", lo, hi, bk)
    val merged = HistQuantile.histBuild(
        docs.filter(col("doc_id") % 2 === 0), "lang", "n_chars", lo, hi, bk)
      .unionByName(HistQuantile.histBuild(
        docs.filter(col("doc_id") % 2 =!= 0), "lang", "n_chars", lo, hi, bk))
      .groupBy("grp", "b").agg(sum(col("c")).as("c"))
    val diff = whole.as("w").join(merged.as("m"), Seq("grp", "b"), "full")
      .filter(col("w.c") =!= col("m.c") || col("w.c").isNull || col("m.c").isNull)
    assert(diff.count() == 0, "sharded histograms did not merge to the whole")
    // estimate within one bucket width of the exact rank-based quantile
    val width = (hi - lo).toDouble / bk
    val est = HistQuantile.quantileReport(docs, "lang", "n_chars", lo, hi, bk)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val w50 = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("n_chars")
    val ranked = docs.select(col("lang"), col("n_chars"))
      .withColumn("rn", row_number().over(w50))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")))
    def exactAt(numer: Int, denom: Int) = ranked
      .filter(col("rn") === floor((col("n") * numer + lit(denom - 1)) / denom))
      .select("lang", "n_chars").as[(String, Long)].collect().toMap
    val (e50, e90) = (exactAt(1, 2), exactAt(9, 10))
    est.foreach { case (lang, (p50, p90)) =>
      assert(math.abs(p50 - e50(lang)) <= width,
        s"$lang p50 est $p50 vs exact ${e50(lang)}")
      assert(math.abs(p90 - e90(lang)) <= width,
        s"$lang p90 est $p90 vs exact ${e90(lang)}")
    }
    // out-of-range values clamp to edge bins rather than crash or vanish
    val edgy = Seq(("a", -50L), ("a", 0L), ("a", 999L)).toDF("g", "v")
    val eb = HistQuantile.histBuild(edgy, "g", "v", lo, hi, bk)
      .orderBy("b").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(eb.toSeq == Seq((0L, 2L), (63L, 1L)), s"got ${eb.toSeq}")
  }

  test("DSIR: bucket table is complete and smoothed (unseen buckets floored)") {
    import graft.ops.Dsir
    import spark.implicits._
    // 3 tokens can hit at most 3 of 64 buckets; the other 61 rows must
    // still exist at the smoothing floor floor(ln(1/(n+64))*1e12)
    val tiny = Seq((1L, "a b c")).toDF("id", "text")
    val lp = Dsir.bucketLogProbs(tiny, "text").collect()
    assert(lp.length == 64, s"expected 64 bucket rows, got ${lp.length}")
    val floorFix = math.floor(math.log(1.0 / (3 + 64)) * 1e12).toLong
    val unseen = lp.count(_.getLong(1) == floorFix)
    assert(unseen >= 61, s"expected >=61 floor buckets, got $unseen")
  }

  test("BM25: tf monotone, rare-term dominance, length normalization, match-only") {
    import graft.ops.Retrieval
    import spark.implicits._
    // fillers carry neither term, so df(common)=6 < N/2 and df(rare)=2 —
    // both idfs positive (df > N/2 flips Robertson idf negative, the
    // faithful BM25 quirk, which would invert every monotonicity below)
    val fixture = (Seq(
      (1L, "common rare pad pad pad pad"),        // both terms, short
      (2L, "common rare pad pad pad pad pad pad pad pad pad pad"), // both, long
      (3L, "common common common pad pad pad"),   // tf=3 of common only
      (4L, "common pad pad pad pad pad"),         // tf=1 of common only
      (5L, "nothing here matches at all ever"),   // no query term
      (6L, "common pad pad pad pad pad"),
      (7L, "common pad pad pad pad pad")
    ) ++ (10L until 28L).map(i => (i, "filler filler filler filler filler filler")))
      .toDF("id", "text")
    val out = Retrieval.bm25TopK(fixture, "id", "text",
        Seq("common", "rare"), k = 30)
      .select("id", "n_terms", "bm25")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(!out.contains(5L), "doc with no query term must not surface")
    assert(out(1L)._1 == 2 && out(4L)._1 == 1, "n_terms miscounted")
    // rare term dominates: doc 1 (common+rare) far above doc 4 (common)
    assert(out(1L)._2 > out(4L)._2, s"rare-term doc should win: $out")
    // tf monotone at same length: doc 3 (tf=3) > doc 4 (tf=1)
    assert(out(3L)._2 > out(4L)._2, s"higher tf should score higher: $out")
    // length normalization: doc 1 (6 tokens) > doc 2 (12 tokens), same terms
    assert(out(1L)._2 > out(2L)._2, s"shorter doc should score higher: $out")
  }

  test("two-phase top-k ≡ single-window rank, hot keys and ties included") {
    import spark.implicits._
    // key 1: hot (600 rows, heavy score ties); key 2: all-tie scores;
    // key 3: fewer rows than k — every edge the salted cut must preserve
    val rows = (1 to 600).map(i => (1L, i.toLong, (i % 7).toLong)) ++
      (1 to 30).map(i => (2L, i.toLong, 5L)) ++
      (1 to 4).map(i => (3L, i.toLong, i.toLong))
    val df = rows.toDF("q_id", "id", "score").repartition(13)
    val order = Seq(col("score").desc, col("id").asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(order: _*)
    val single = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("q_id", "rank", "id", "score")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    for (nSalt <- Seq(1, 3, 8)) {
      val two = graft.ops.TopK.rankTopK(df, "q_id", col("id"), order, 10,
          "rank", nSalt)
        .select("q_id", "rank", "id", "score")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(two == single, s"two-phase (nSalt=$nSalt) diverged from the window")
    }
  }

  test("hybridTopK text pre-cut: top-kCand ranks equal the uncut window's") {
    // the pre-cut limits on the SAME total order the window ranks by, so
    // the surviving rows and their ranks must be identical to ranking
    // the full match set first — checked on COMMON terms (big match set)
    val terms = Seq("data", "cache")
    val scored = graft.ops.Retrieval.bm25Scored(docs, "doc_id", "text", terms)
    val order = Seq(col("score_fix").desc, col("doc_id").asc)
    val w = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
    val uncut = scored.withColumn("text_rank", row_number().over(w))
      .filter(col("text_rank") <= 100)
      .select("doc_id", "text_rank")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._2).toSeq
    val cut = scored.orderBy(order: _*).limit(100)
      .withColumn("text_rank", row_number().over(w))
      .select("doc_id", "text_rank")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._2).toSeq
    assert(uncut.nonEmpty && cut == uncut,
      s"pre-cut ranking diverged (${cut.size} vs ${uncut.size} rows)")
  }

  test("ANN-composed hybrid: fusion ≡ driver-side RRF of its two component rank lists") {
    import spark.implicits._
    val qdef = Seq(
      (1L, Seq("hash", "join"), 0L),
      (4L, Seq("cache", "data"), 150L)).toDF("q_id", "terms", "src_vec")
    val qs = qdef.join(emb.select(col("vec_id").as("src_vec"),
      col("embedding")), "src_vec")
    val corpus = emb.filter(col("vec_id") % 50 =!= 0)
    val (cents, assigned) = Similarity.ivfBuild(corpus, "embedding", "vec_id")
    val cb = Similarity.pqBuildCodebook(corpus, "embedding", "vec_id")
    val index = Similarity.ivfPqEncode(assigned, "vec_id", cb)
    val kCand = 30
    val got = graft.ops.Retrieval.hybridServeAllAnn(docs, "doc_id", "text",
        cents, index, corpus, "embedding", "vec_id", qs, "q_id", "terms",
        cb, kCand = kCand, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Int]),
        Option(r.get(4)).map(_.asInstanceOf[Int]), r.getLong(6)))
      .sortBy(t => (t._1, t._2)).toSeq
    graft.ops.Caches.releaseAll()
    // independent reference: fuse the two COMPONENT operators' rank
    // lists driver-side with the exact integer RRF
    val tr = graft.ops.Retrieval.bm25ServeAll(docs, "doc_id", "text",
        qdef.select("q_id", "terms"), "q_id", "terms", k = kCand)
      .select("q_id", "doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    graft.ops.Caches.releaseAll()
    val vr = Similarity.ivfPqServeAll(cents, index, corpus, "embedding",
        "vec_id", qs, "q_id", cb, k = kCand)
      .select("q_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    def fix(r: Option[Int]): Long =
      r.map(x => math.floor(1e12 / (x.toDouble + 60.0)).toLong).getOrElse(0L)
    val expected = (tr.keySet ++ vr.keySet).toSeq
      .map { case (q, id) =>
        val (t, v) = (tr.get((q, id)), vr.get((q, id)))
        (q, id, t, v, fix(t) + fix(v))
      }
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy(r => (-r._5, r._2)).take(10).zipWithIndex
          .map { case ((_, id, t, v, f), i) => (q, i + 1, id, t, v, f) }
      }
      .sortBy(t => (t._1, t._2))
    assert(got == expected, "composed fusion diverged from component RRF")
    graft.ops.Caches.releaseAll()
  }

  test("hybrid RRF: both-list docs beat one-list docs; ranks surface; deterministic") {
    import graft.ops.Retrieval
    val terms = Seq("hash", "join", "spark", "vector")
    val d = docs.filter(col("doc_id") =!= 0)
    val e = emb.filter(col("vec_id") =!= 0)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val out = Retrieval.hybridTopK(d, e, "doc_id", "text", "embedding",
      "vec_id", terms, q, kCand = 100, k = 10).collect()
    assert(out.length == 10)
    // fused score must equal the two ranks' RRF terms exactly
    out.foreach { r =>
      val t = Option(r.get(1)).map(_.asInstanceOf[Int])
      val v = Option(r.get(2)).map(_.asInstanceOf[Int])
      assert(t.isDefined || v.isDefined, s"row with neither rank: $r")
      val fix = t.map(x => math.floor(1e12 / (x + 60.0)).toLong).getOrElse(0L) +
        v.map(x => math.floor(1e12 / (x + 60.0)).toLong).getOrElse(0L)
      assert(math.abs(r.getDouble(3) - fix / 1e12) < 1e-6,
        s"rrf drifted from ranks: $r")
    }
    // a doc on both lists at rank r beats any doc on one list at rank >= r
    val both = out.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
    assert(both.nonEmpty, "expected at least one doc surfaced by both lists")
    // determinism under repartitioning
    val out2 = Retrieval.hybridTopK(d.repartition(7), e.repartition(5),
      "doc_id", "text", "embedding", "vec_id", terms, q, 100, 10).collect()
    assert(out.map(_.toString).toSeq == out2.map(_.toString).toSeq,
      "hybrid output depends on partitioning")
  }

  test("shard export: written shards agree with the manifest; re-aggregation law") {
    import graft.ops.Export
    val tmp = java.nio.file.Files.createTempDirectory("graft_export_").toString
    try {
      Export.exportShards(docs, "doc_id", tmp, nShards = 8)
      val manifest = Export.shardManifest(docs, "doc_id", "text", 8)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(manifest.values.map(_._1).sum == docs.count(), "manifest loses docs")
      // the written tree reloads to exactly the manifest's per-shard counts
      // and id bounds (partition pruning reads one directory per shard)
      // the directory-derived partition column reads back as int
      val back = spark.read.parquet(tmp)
        .withColumn("shard", col("shard").cast("long"))
      val reread = back.groupBy("shard")
        .agg(count(lit(1)).as("n"), min("doc_id").as("lo"), max("doc_id").as("hi"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      manifest.foreach { case (s, (n, _, lo, hi, _)) =>
        assert(reread(s) == ((n, lo, hi)), s"shard $s drifted: ${reread(s)}")
      }
      // manifests of disjoint halves ADD to the whole-corpus manifest
      val merged = Export.shardManifest(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", 8)
        .unionByName(Export.shardManifest(docs.filter(col("doc_id") % 2 =!= 0),
          "doc_id", "text", 8))
        .groupBy("shard")
        .agg(sum("n_docs").as("n"), sum("n_tokens").as("t"), sum("checksum").as("c"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      manifest.foreach { case (s, (n, t, _, _, c)) =>
        assert(merged(s) == ((n, t, c)), s"shard $s manifests did not add: ${merged(s)}")
      }
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tmp))
  }

  test("delta-index probe == rebuilt-index probe at any split point") {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val full = Similarity.annTopKCosineBanded(corpus, "embedding", "vec_id",
      q, k = 20).collect().map(_.toString).toSeq
    // three different rebuild cadences — none may show in the result
    for (mod <- Seq(2L, 7L, 13L)) {
      val static0 = corpus.filter(col("vec_id") % mod =!= 0)
      val delta = corpus.filter(col("vec_id") % mod === 0)
      val got = Similarity.annProbeBandedDelta(static0,
        Similarity.annBuildBandIndex(static0, "embedding", "vec_id"),
        delta, "embedding", "vec_id", q, k = 20)
        .collect().map(_.toString).toSeq
      assert(got == full, s"split mod $mod changed the probe result")
    }
  }

  test("curriculum manifest: buckets partition the ranking in nll order, deterministic") {
    import graft.ops.Export
    val out = Export.curriculumManifest(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val m = graft.ops.LangModel.perplexityScoreSelf(docs, "doc_id", "text")
      .filter(col("n_transitions") > 0).count()
    assert(out.map(_._1).toSeq == (0L until 10L).toSeq, s"buckets: ${out.toSeq}")
    assert(out.map(_._2).sum == m, "buckets must partition the scored docs")
    // integer-rank cut: bucket sizes differ by at most 1
    assert(out.map(_._2).max - out.map(_._2).min <= 1, s"sizes: ${out.map(_._2).toSeq}")
    // difficulty-ordered: each bucket's nll range sits at or above the last
    out.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0)._5 <= w(1)._4,
        s"bucket ${w(0)._1} hi ${w(0)._5} > bucket ${w(1)._1} lo ${w(1)._4}")
    }
    assert(out.forall(b => b._4 <= b._5))
    val out2 = Export.curriculumManifest(docs.repartition(7), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq == out2.toSeq, "manifest depends on partitioning")
  }

  test("pack-capacity ladder: dials ≡ independent folds; mass conserved; fill bounded") {
    import graft.ops.Chunking
    val chunks = Chunking.chunk(docs, "doc_id", "text", chunkTokens = 50,
      overlap = 10, keepCols = Seq("source"))
    val caps = Seq(128, 256, 512)
    val ladder = Chunking.packCapacityLadder(chunks, "source",
        "n_chunk_tokens", caps, Seq("doc_id", "chunk_idx"))
      .orderBy("capacity").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(ladder.map(_._1).toSeq == caps)
    // conservation: every dial packs the same chunks and token mass
    assert(ladder.map(_._3).distinct.length == 1 &&
      ladder.map(_._4).distinct.length == 1,
      s"dials disagree on chunk/token mass: ${ladder.toSeq}")
    // more capacity can only reduce pack count; fill never exceeds 1000
    ladder.sliding(2).foreach(w =>
      if (w.length == 2) assert(w(0)._2 >= w(1)._2, s"packs grew: $w"))
    assert(ladder.forall(r => r._5 > 0 && r._5 <= 1000))
    // each dial row equals an INDEPENDENT fold + report
    caps.zipWithIndex.foreach { case (cap, i) =>
      val rep = Chunking.packFillReport(
          Chunking.packChunksStrict(chunks, "source", "n_chunk_tokens",
            cap, Seq("doc_id", "chunk_idx")),
          "source", "n_chunk_tokens", cap)
        .agg(sum(col("n_packs")), sum(col("n_chunks")),
          sum(col("packed_tokens"))).head()
      assert((ladder(i)._2, ladder(i)._3, ladder(i)._4) ==
        ((rep.getLong(0), rep.getLong(1), rep.getLong(2))), s"dial $cap")
    }
  }

  test("margin-screen ladder: dials ≡ independent filters; dead-band pinned; retention monotone") {
    import graft.ops.Classify
    val m = Classify.trainNaiveBayes(
      docs.filter(col("doc_id") % 5 =!= 0), "lang", "text")
    val scored = Classify.nbMarginScores(m,
      docs.filter(col("doc_id") % 5 === 0), "doc_id", "lang", "text")
    val cuts = graft.queries.Ext.marginCutDials
    val ladder = Classify.marginScreenLadder(scored, cuts)
      .orderBy("cut_fix").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ladder.map(_._1).toSeq == cuts)
    assert(ladder(0)._2 > 0, "loosest dial must keep something")
    // cut sets nest: retention never grows with the cut
    ladder.sliding(2).foreach(w =>
      if (w.length == 2) assert(w(0)._2 >= w(1)._2, s"retention grew: $w"))
    // dead-band: every attainable margin sits ≥10⁶ fix units (≫ the
    // few-unit ln jitter) from every frozen dial — the dial rule
    val margins = scored.select("margin_fix").collect().map(_.getLong(0))
    cuts.foreach { c =>
      margins.foreach(mg => assert(math.abs(mg - c) > 1000000L,
        s"margin $mg within the jitter dead-band of dial $c"))
    }
    // each dial row equals an INDEPENDENT filter + aggregate
    cuts.zipWithIndex.foreach { case (c, i) =>
      val kept = scored.filter(col("margin_fix") >= c)
      val nk = kept.count()
      val nc = kept.filter(col("is_correct")).count()
      val acc = if (nk == 0) 0L else nc * 1000 / nk
      assert(ladder(i) == ((c, nk, nc, acc)), s"dial $c: ${ladder(i)}")
    }
  }

  test("LM foldable stats: shard-merge laws; scoreFromStats ≡ perplexityScoreSelf") {
    import graft.ops.LangModel
    // bigram-grid fold law: per-shard grids merge to the whole-corpus
    // grid exactly (integer adds)
    val whole = LangModel.bigramStats(docs, "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val merged = LangModel.bigramStatsMerge(
        LangModel.bigramStats(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text"),
        LangModel.bigramStats(docs.filter(col("doc_id") % 2 =!= 0),
          "doc_id", "text"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(merged == whole, "shard bigram grids must merge to the corpus grid")
    // vocab fold: union+distinct — idempotent even on OVERLAPPING shards
    val v = LangModel.vocabWords(docs, "text")
    val vFold = LangModel.vocabWords(docs.filter(col("doc_id") % 2 === 0), "text")
      .unionByName(LangModel.vocabWords(docs, "text")).distinct()
    assert(vFold.count() == v.count(), "vocab fold must be idempotent")
    // unigram derivation: cu = Σ_cur cb — the reason ONE maintained
    // frame carries the whole model
    val cuDerived = merged.toSeq.groupBy(_._1._1)
      .map { case (p, xs) => p -> xs.map(_._2).sum }
    val cuDirect = LangModel.bigramStats(docs, "doc_id", "text")
      .groupBy("prev").agg(sum(col("cb")).as("cu")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cuDerived == cuDirect)
    // serve parity: scoring from the maintained states is bit-identical
    // to the direct self-scored path (the s37 serve law)
    val fromStats = LangModel.scoreFromBigramStats(
        LangModel.docTransitionStats(docs, "doc_id", "text"), "doc_id",
        LangModel.bigramStats(docs, "doc_id", "text"), v.count())
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val direct = LangModel.perplexityScoreSelf(docs, "doc_id", "text")
      .filter(col("n_transitions") > 0)
      .select("doc_id", "n_transitions", "nll_nats")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(fromStats == direct, "scoreFromStats diverged from the direct path")
  }

  test("curriculum threshold cut ≡ rank cut at the fixture boundaries; plan carries no window") {
    import graft.ops.Export
    import spark.implicits._
    val B = 10
    // per-doc (id, nll) under the rank form's total order (nll asc, id asc)
    val scored = graft.ops.LangModel.perplexityScoreSelf(docs, "doc_id", "text")
      .filter(col("n_transitions") > 0)
      .select("doc_id", "nll_nats").as[(Long, Double)].collect()
      .sortBy { case (id, nll) => (nll, id) }
    val m = scored.length
    // cut b sits just below the first doc of rank bucket b — strictly
    // between 6-decimal grid points (the dead-band rule), so the
    // threshold form reproduces the rank form iff boundaries are untied
    val cuts = (1 until B).map { b =>
      val i = (b * m + B - 1) / B // first 0-based index with bucket == b
      val bMin = scored(i)._2
      val prevMax = scored(i - 1)._2
      assert(prevMax < bMin,
        s"fixture boundary tied at bucket $b ($bMin) — pick another fixture")
      bMin - 5e-7
    }
    val thr = Export.curriculumManifestThreshold(docs, "doc_id", "text", cuts)
    val thrRows = thr.collect().map(r => (r.getInt(0).toLong, r.getLong(1),
      r.getLong(2), r.getDouble(3), r.getDouble(4))).toSeq
    val rankRows = Export.curriculumManifest(docs, "doc_id", "text", B)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(thrRows == rankRows,
      s"threshold buckets diverged from the rank form:\n$thrRows\nvs\n$rankRows")
    // the scale property the swap exists for: no window anywhere — the
    // rank form's global single-partition row_number is gone
    val plan = thr.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"threshold manifest must be window-free:\n$plan")
  }

  test("recall-cost ladder: dials agree with independent serves; candidate volume monotone") {
    val corpus = emb.filter(col("vec_id") % 50 =!= 0)
    val qtab = emb.filter(col("vec_id") % 50 === 0)
    val (cents, assigned) = Similarity.ivfBuild(corpus, "embedding", "vec_id")
    val cb = Similarity.pqBuildCodebook(corpus, "embedding", "vec_id")
    val idx = Similarity.ivfPqEncode(assigned, "vec_id", cb)
    val ladder = Similarity.ivfPqRecallCostLadder(cents, idx, corpus,
        "embedding", "vec_id", qtab, "vec_id", cb, k = 5,
        nProbes = Seq(1, 4))
      .orderBy("n_probe").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(ladder.map(_._1).toSeq == Seq(1, 4))
    val nq = qtab.count()
    assert(ladder.forall(_._2 == nq), "every dial reports the full query universe")
    // probe sets nest and cells are non-empty: candidate volume strictly grows
    assert(ladder(0)._5 < ladder(1)._5,
      s"candidate volume must grow with nProbe: ${ladder.toSeq}")
    // mean is the integer div of the mass
    assert(ladder.forall(r => r._4 == r._3 / r._2))
    // each dial's recall mass equals an INDEPENDENT serve + recallAtK
    val exact = Similarity.l2TopKAll(corpus, "embedding", "vec_id",
      qtab, "vec_id", k = 5)
    Seq(1, 4).zipWithIndex.foreach { case (p, i) =>
      val served = Similarity.ivfPqServeAll(cents, idx, corpus, "embedding",
        "vec_id", qtab, "vec_id", cb, k = 5, nProbe = p)
      val mass = Similarity.recallAtK(served, exact, k = 5,
          queries = Some(qtab.select(col("vec_id").as("q_id"))))
        .agg(sum(col("recall_permille"))).head().getLong(0)
      assert(ladder(i)._3 == mass, s"ladder dial $p recall mass diverged")
    }
  }

  test("banded recall-cost ladder: dials agree with independent banded serves; volume monotone in nBands") {
    val corpus = emb.filter(col("vec_id") % 50 =!= 0)
    val qtab = emb.filter(col("vec_id") % 50 === 0)
    val dials = Seq((4, 8), (16, 8), (16, 4))
    val ladder = Similarity.annBandedRecallCostLadder(corpus, qtab,
        "embedding", "vec_id", "vec_id", k = 5, dials = dials)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(ladder.keySet == dials.toSet, s"dial rows: ${ladder.keySet}")
    val nq = qtab.count()
    assert(ladder.values.forall(_._1 == nq),
      "every dial reports the full query universe")
    // same-bits dials: the nBands=4 slice of the shared join must cost
    // no more than the nBands=16 one (band sets nest)
    assert(ladder((4, 8))._4 <= ladder((16, 8))._4,
      s"candidate volume must be monotone in nBands: $ladder")
    // mean is the integer div of the mass
    assert(ladder.values.forall(r => r._3 == r._2 / r._1))
    // each dial's recall mass equals an INDEPENDENT annProbeBandedAll
    // serve + recallAtK — incl. the 4-bit dial, which pays its own join
    val exact = Similarity.cosineTopKAll(corpus, "embedding", "vec_id",
      qtab, "vec_id", k = 5)
    dials.foreach { case (n, b) =>
      val served = Similarity.annProbeBandedAll(corpus, qtab,
        "embedding", "vec_id", "vec_id", k = 5, nBands = n, bandBits = b)
      val mass = Similarity.recallAtK(
          served.select(col("q_id"), col("vec_id")), exact, k = 5,
          queries = Some(qtab.select(col("vec_id").as("q_id"))))
        .agg(sum(col("recall_permille"))).head().getLong(0)
      assert(ladder((n, b))._2 == mass,
        s"ladder dial ($n, $b) recall mass diverged from independent serve")
    }
    graft.ops.Caches.releaseAll()
  }

  test("projected + residual recall-cost ladders: dials agree with independent serves") {
    val corpus = emb.filter(col("vec_id") % 50 =!= 0)
    val qtab = emb.filter(col("vec_id") % 50 === 0)
    val qUni = qtab.select(col("vec_id").as("q_id"))
    val nq = qtab.count()
    // projected family: dial p ≡ projectedIvfServeAll at nProbe = p
    val pl = Similarity.projectedIvfRecallCostLadder(corpus, "embedding",
        "vec_id", qtab, "vec_id", k = 5, nProbes = Seq(2, 4))
      .orderBy("n_probe").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(pl.map(_._1).toSeq == Seq(2, 4) && pl.forall(_._2 == nq))
    assert(pl(0)._5 < pl(1)._5, s"projected candidate volume must grow: ${pl.toSeq}")
    val exactCos = Similarity.cosineTopKAll(corpus, "embedding", "vec_id",
      qtab, "vec_id", k = 5)
    Seq(2, 4).zipWithIndex.foreach { case (p, i) =>
      val served = Similarity.projectedIvfServeAll(corpus, "embedding",
        "vec_id", qtab, "vec_id", k = 5, nProbe = p)
      val mass = Similarity.recallAtK(
          served.select(col("q_id"), col("vec_id")), exactCos, k = 5,
          queries = Some(qUni))
        .agg(sum(col("recall_permille"))).head().getLong(0)
      assert(pl(i)._3 == mass, s"projected ladder dial $p recall mass diverged")
    }
    // residual family (sampled rung): dial p ≡ ivfPqResidualServeAll
    // at nProbe = p, trainIters = 0
    val rl = Similarity.ivfPqResidualRecallCostLadder(corpus, "embedding",
        "vec_id", qtab, "vec_id", k = 5, nProbes = Seq(2, 4))
      .orderBy("n_probe").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rl.map(_._1).toSeq == Seq(2, 4) && rl.forall(_._2 == nq))
    assert(rl(0)._5 < rl(1)._5, s"residual candidate volume must grow: ${rl.toSeq}")
    val exactL2 = Similarity.l2TopKAll(corpus, "embedding", "vec_id",
      qtab, "vec_id", k = 5)
    Seq(2, 4).zipWithIndex.foreach { case (p, i) =>
      val served = Similarity.ivfPqResidualServeAll(corpus, "embedding",
        "vec_id", qtab, "vec_id", k = 5, nProbe = p)
      val mass = Similarity.recallAtK(served, exactL2, k = 5,
          queries = Some(qUni))
        .agg(sum(col("recall_permille"))).head().getLong(0)
      assert(rl(i)._3 == mass, s"residual ladder dial $p recall mass diverged")
    }
    graft.ops.Caches.releaseAll()
  }

  test("kNN graph: shape invariants and recall@5 vs the exact quadratic twin") {
    import org.apache.spark.sql.expressions.Window
    val banded = Similarity.knnGraphBanded(emb, "embedding", "vec_id", k = 5,
        nBands = 16, bandBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // per-source: ranks consecutive from 1, cosines non-increasing
    banded.groupBy(_._1).foreach { case (src, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to sorted.length).toSeq,
        s"src $src ranks not consecutive: ${sorted.toSeq}")
      assert(sorted.sliding(2).forall(w => w.length < 2 || w(0)._3 >= w(1)._3),
        s"src $src cosines not ranked: ${sorted.toSeq}")
      assert(!rows.exists(_._2 == src), s"src $src lists itself as neighbor")
    }
    // exact twin: brute-force top-5 per source (test-scale only)
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val exact = v.withColumnsRenamed(Map("vec_id" -> "src_id", "v" -> "sv"))
      .crossJoin(v.withColumnsRenamed(Map("vec_id" -> "nbr_id", "v" -> "nv")))
      .filter(col("src_id") =!= col("nbr_id"))
      .withColumn("cos_sim",
        round(graft.functions.VectorFunctions.cosine(col("sv"), col("nv")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("src_id").orderBy(col("cos_sim").desc, col("nbr_id").asc)))
      .filter(col("rank") <= 5)
      .select("src_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bandedSet = banded.map(r => (r._1, r._2)).toSet
    val recall = (exact & bandedSet).size.toDouble / exact.size
    assert(recall >= 0.75,
      f"banded kNN recall@5 $recall%.3f below floor (|exact|=${exact.size})")
  }

  test("cell-composed kNN graph: invariants, recall@5 >= 0.75 vs exact, deterministic") {
    import org.apache.spark.sql.expressions.Window
    val cellGraph = Similarity.knnGraphCells(emb, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    cellGraph.groupBy(_._1).foreach { case (src, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to sorted.length).toSeq,
        s"src $src ranks not consecutive: ${sorted.toSeq}")
      assert(sorted.sliding(2).forall(w => w.length < 2 || w(0)._3 >= w(1)._3),
        s"src $src cosines not ranked: ${sorted.toSeq}")
      assert(!rows.exists(_._2 == src), s"src $src lists itself as neighbor")
    }
    // exact twin: brute-force top-5 per source (test-scale only)
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val exact = v.withColumnsRenamed(Map("vec_id" -> "src_id", "v" -> "sv"))
      .crossJoin(v.withColumnsRenamed(Map("vec_id" -> "nbr_id", "v" -> "nv")))
      .filter(col("src_id") =!= col("nbr_id"))
      .withColumn("cos_sim",
        round(graft.functions.VectorFunctions.cosine(col("sv"), col("nv")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("src_id").orderBy(col("cos_sim").desc, col("nbr_id").asc)))
      .filter(col("rank") <= 5)
      .select("src_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotSet = cellGraph.map(r => (r._1, r._2)).toSet
    val recall = (exact & gotSet).size.toDouble / exact.size
    assert(recall >= 0.75,
      f"cell-composed kNN recall@5 $recall%.3f below floor (|exact|=${exact.size})")
    // partitioning cannot move a single edge (fixed-point Lloyd + md5
    // bands + total-order ranks)
    val again = Similarity.knnGraphCells(emb.repartition(7), "embedding",
        "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(cellGraph.sortBy(r => (r._1, r._4)).toSeq ==
           again.sortBy(r => (r._1, r._4)).toSeq,
      "cell-composed kNN graph depends on partitioning")
  }

  test("SemDeDup: one keeper per cluster, keeper least-similar-to-centroid, deterministic") {
    val out = Similarity.semDeDupKmeans(emb, "embedding", "vec_id", tau = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(out.length == emb.count(), "SemDeDup must emit one row per vector")
    val byCluster = out.groupBy(_._2)
    // exactly one kept member per component, and it is the min-(cent_cos, id)
    byCluster.foreach { case (cid, members) =>
      val kept = members.filter(_._4)
      assert(kept.length == 1, s"cluster $cid kept ${kept.length} members")
      val expect = members.minBy(m => (m._3, m._1))
      assert(kept.head._1 == expect._1,
        s"cluster $cid kept ${kept.head._1}, expected outlier ${expect._1}")
    }
    // the planted near-dup structure actually dedups something
    assert(byCluster.exists(_._2.length > 1), "expected at least one real cluster")
    assert(out.count(_._4) < out.length, "SemDeDup dropped nothing")
    // partitioning cannot move a single verdict
    val out2 = Similarity.semDeDupKmeans(emb.repartition(7), "embedding",
      "vec_id", tau = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(out.sortBy(_._1).toSeq == out2.sortBy(_._1).toSeq,
      "SemDeDup depends on partitioning")
  }

  test("graph: mutual-kNN pairs are exactly the reciprocal top-k edges") {
    val g = Similarity.knnGraphBanded(emb, "embedding", "vec_id", k = 5,
      nBands = 16, bandBits = 4)
    val edges = g.select("src_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mut = Graph.mutualKnnPairs(g).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mut.nonEmpty, "expected reciprocal pairs on the sf0.01 corpus")
    val expect = edges.filter { case (a, b) => a < b && edges((b, a)) }
    assert(mut == expect,
      s"mutual set diverged: extra=${mut -- expect} missing=${expect -- mut}")
    graft.ops.Caches.releaseAll()
  }

  test("graph: fixed-point pagerank — star center dominates, mass bounded") {
    import spark.implicits._
    // star 1..6 → 0 plus 0 → 1: node 0 collects six contributions, node 1
    // inherits 0's damped mass, 2..6 receive only the teleport base
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 0L),
      (6L, 0L), (0L, 1L)).toDF("src_id", "nbr_id")
    val nodes = (0L to 6L).toDF("vec_id")
    val pr = Graph.pageRank(edges, nodes, "vec_id").orderBy("vec_id").collect()
    val m = pr.map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(m(0L) > m(1L) && m(1L) > m(2L),
      s"expected pr(0) > pr(1) > pr(leaf), got $m")
    assert(m(2L) == m(3L) && m(3L) == m(6L), s"leaves must tie, got $m")
    // no dangling nodes here: total mass ≤ SCALE, short only floor losses
    val total = pr.map(_.getLong(1)).sum
    assert(total <= 1000000000000L && total > 999999990000L,
      s"mass off: $total")
    val pr2 = Graph.pageRank(edges, nodes, "vec_id").orderBy("vec_id")
      .collect()
    assert(pr.map(_.toSeq).toSeq == pr2.map(_.toSeq).toSeq,
      "pageRank must be deterministic")
    graft.ops.Caches.releaseAll()
  }

  test("graph: label propagation — clamped seeds, smallest-label ties, reach") {
    import spark.implicits._
    // bidirectional chain 0–1–2–3, one seed: the label walks one hop per
    // round and reaches the far end exactly at iters = 3
    val chain = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (2L, 3L),
      (3L, 2L)).toDF("src_id", "nbr_id")
    val seeds = Seq((0L, Some(7)), (1L, None), (2L, None), (3L, None))
      .toDF("vec_id", "label")
    val out = Graph.labelPropagate(chain, seeds, "vec_id", "label", iters = 3)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1),
        r.getString(2))).toSeq
    assert(out == Seq((0L, 7, "seed"), (1L, 7, "prop"), (2L, 7, "prop"),
      (3L, 7, "prop")), s"chain propagation diverged: $out")
    // 2 rounds must NOT reach node 3 (synchronous rounds, no shortcut)
    val short = Graph.labelPropagate(chain, seeds, "vec_id", "label",
        iters = 2).filter(col("vec_id") === 3L).collect()
    assert(short.head.isNullAt(1), "label must take 3 rounds to reach node 3")
    // equal-count tie between neighbor labels 5 and 3 → smallest label wins
    val e2 = Seq((9L, 10L), (9L, 11L)).toDF("src_id", "nbr_id")
    val s2 = Seq((9L, None), (10L, Some(5)), (11L, Some(3)))
      .toDF("vec_id", "label")
    val o2 = Graph.labelPropagate(e2, s2, "vec_id", "label", iters = 1)
      .filter(col("vec_id") === 9L).collect()
    assert(o2.head.getInt(1) == 3, s"tie must pick smallest label")
    graft.ops.Caches.releaseAll()
  }

  test("label propagation: recovers planted cluster labels from 20% seeds") {
    import spark.implicits._
    // QUALITY floor on a plant (the PQ-recall convention): the real
    // corpus's `label` column is INDEPENDENT of its embedding geometry
    // (measured exact 1-NN label agreement 0.096 ≈ the 0.10 class
    // prior), so no neighborhood method can beat chance there — x94's
    // corpus gate pins the MECHANICS; quality pins here. Five tight
    // one-hot clusters in 8-dim, 20 members each, deterministic small
    // offsets; within-cluster cosine ≈ 1, cross ≈ 0 — the banded graph
    // stays within clusters and 3 rounds must label every member.
    val pts = (0 until 100).map { i =>
      val c = i / 20
      // per-member noise from a 97-cycle so no two members share a
      // pattern (a coarse k-cycle partitions each cluster into
      // disconnected sub-communities LPA correctly cannot bridge)
      val v = Array.tabulate(8)(d =>
        (if (d == c) 1.0 else 0.0) +
          0.01 * (((i * 31 + d * 17) % 97) - 48) / 48.0)
      (i.toLong, v.toSeq, c)
    }.toDF("vec_id", "embedding", "truth")
    val g = Similarity.knnGraphBanded(pts, "embedding", "vec_id", k = 5,
      nBands = 16, bandBits = 4, dims = 8)
    // standard LPA runs on the SYMMETRIZED kNN neighborhood (labels flow
    // both ways along an edge); the operator takes any edge frame
    val sym = g.select("src_id", "nbr_id")
      .unionAll(g.select(col("nbr_id").as("src_id"),
        col("src_id").as("nbr_id")))
      .distinct()
    val seeds = pts.select(col("vec_id"),
      when(col("vec_id") % 5 === 0, col("truth")).as("label"))
    val out = graft.ops.Graph.labelPropagate(sym, seeds, "vec_id", "label",
        iters = 3)
      .join(pts.select("vec_id", "truth"), "vec_id")
    val prop = out.filter(col("origin") === "prop")
    val n = prop.count().toDouble
    val hits = prop.filter(col("label") === col("truth")).count().toDouble
    assert(n >= 60, s"most non-seeds must receive a label, got $n")
    assert(hits / n >= 0.9,
      f"planted-cluster propagation accuracy ${hits / n}%.3f < 0.9")
    graft.ops.Caches.releaseAll()
  }

  test("mmr rerank: picks relevance first, then trades it for diversity") {
    import spark.implicits._
    // q = (1,0); candidate 1 most relevant, candidate 2 its near-dup
    // (huge penalty), candidate 3 less relevant but orthogonal-ish —
    // plain top-2 = {1, 2}; MMR must select {1, 3}
    val cands = Seq(
      (100L, 1L, Seq(0.95, 0.3124)),
      (100L, 2L, Seq(0.94, 0.34)),
      (100L, 3L, Seq(0.6, -0.8))).toDF("q_id", "vec_id", "v")
      .withColumn("rel_half", floor(
        graft.functions.VectorFunctions.cosine(typedlit(Seq(1.0, 0.0)),
          col("v")) * lit(5e8)).cast("long"))
    val out = graft.ops.Rerank.mmrRerank(cands, "q_id", "vec_id",
        "rel_half", "v", kSel = 2)
      .orderBy("sel_rank").select("vec_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 3L), s"expected diverse pick {1,3}, got $out")
    graft.ops.Caches.releaseAll()
  }

  test("mmr rerank: corpus gate shape — full selection, monotone marginals") {
    import spark.implicits._
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val qs = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val rel = e.filter(col("vec_id") % 100 =!= 0).crossJoin(broadcast(qs))
      .withColumn("rel_half", floor(
        graft.functions.VectorFunctions.cosine(col("qv"), col("v")) *
          lit(5e8)).cast("long"))
      .select(col("q_id"), col("vec_id"), col("rel_half"), col("v"))
    val cands = graft.ops.TopK.rankTopK(rel, "q_id", col("vec_id"),
      Seq(col("rel_half").desc, col("vec_id").asc), 10, "__crk").drop("__crk")
    val sel = graft.ops.Rerank.mmrRerank(cands, "q_id", "vec_id",
        "rel_half", "v", kSel = 5)
      .select("q_id", "sel_rank", "vec_id", "mmr_fix")
      .as[(Long, Int, Long, Long)].collect()
    val perQ = sel.groupBy(_._1)
    assert(perQ.values.forall(_.length == 5), "each query selects kSel rows")
    perQ.foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._3).distinct.length == 5, s"q=$q ids must be distinct")
      // from round 2 on the best available marginal can only decay: pools
      // shrink and the max-penalty grows with the selected set. Round 1
      // is excluded — it carries NO penalty, and a negative cos(c, s1)
      // can push round 2's marginal ABOVE the pure-relevance pick.
      assert(byRank.map(_._4).drop(1).sliding(2).forall(p => p(0) >= p(1)),
        s"q=$q mmr_fix must be non-increasing after round 1: ${byRank.map(_._4).toSeq}")
    }
    graft.ops.Caches.releaseAll()
  }

  test("rm3: expansion mined from feedback docs pulls in expansion-only matches") {
    import spark.implicits._
    // seed 'apple' matches d1, d2; their most frequent non-seed term is
    // 'banana' (Σtf = 2 beats 'cherry' = 1), which alone matches d3 —
    // RM3 must retrieve d3 (expansion-only), never d4 (no match at all)
    val docs = Seq((1L, "apple banana cherry"), (2L, "apple banana"),
      (3L, "banana date"), (4L, "cherry date")).toDF("doc_id", "text")
    val out = Retrieval.bm25Rm3TopK(docs, "doc_id", "text", Seq("apple"),
      k = 10, fbDocs = 2, fbTerms = 1).collect()
    assert(out.forall(_.getString(4) == "banana"),
      s"expected expansion 'banana', got ${out.map(_.getString(4)).toSeq}")
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 3L),
      s"RM3 result set diverged: ${out.map(_.getLong(0)).toSeq}")
    val d3 = out.find(_.getLong(0) == 3L).get
    assert(d3.getLong(1) == 1L, "d3 must match exactly one (expansion) term")
    graft.ops.Caches.releaseAll()
  }

  test("personalized pagerank: all-nodes seeds ≡ global pagerank; mass stays near seeds") {
    import spark.implicits._
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 0L),
      (6L, 0L), (0L, 1L)).toDF("src_id", "nbr_id")
    val nodes = (0L to 6L).toDF("vec_id")
    // law: teleporting to EVERY node is exactly the global walk
    val ppr = Graph.personalizedPageRank(edges, nodes, nodes, "vec_id")
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val pr = Graph.pageRank(edges, nodes, "vec_id")
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(ppr == pr, "seeds = all nodes must reduce to global pagerank")
    // seed {0}: mass reaches only 0's out-neighborhood; 2..6 score 0
    val m = Graph.personalizedPageRank(edges, nodes,
        Seq(0L).toDF("vec_id"), "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // 0's whole damped mass flows to its single out-neighbor 1 (and 1's
    // back to 0), so BOTH carry mass — no ordering claim between them
    assert(m(0L) > 0L && m(1L) > 0L, s"seed and its neighbor carry mass: $m")
    assert((2L to 6L).forall(m(_) == 0L), s"unreachable nodes must score 0: $m")
    assert(m.values.sum <= 1000000000000L, s"personalized mass bounded: $m")
    graft.ops.Caches.releaseAll()
  }

  test("weighted pagerank: uniform weights reduce to the unweighted walk; strong edges win") {
    import spark.implicits._
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 0L),
      (6L, 0L), (0L, 1L)).toDF("src_id", "nbr_id")
    val nodes = (0L to 6L).toDF("vec_id")
    // law: constant weight w cancels exactly — floor((A·w)/(k·w)) =
    // floor(A/k) for any positive integer w
    val wpr = Graph.pageRankWeighted(edges.withColumn("weight", lit(7L)),
      nodes, "vec_id").orderBy("vec_id").collect().map(_.toSeq).toSeq
    val pr = Graph.pageRank(edges, nodes, "vec_id")
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(wpr == pr, "uniform weights must reduce to unweighted pagerank")
    // 0 splits 1000:1 between 1 and 2 — node 1 must dominate node 2
    val e2 = Seq((0L, 1L, 1000L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 0L, 1L))
      .toDF("src_id", "nbr_id", "weight")
    val m = Graph.pageRankWeighted(e2, (0L to 2L).toDF("vec_id"), "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // compare the WALKED-IN mass above the uniform teleport base
    // ((10¹²·15/100)/3) — the base floor itself is weight-independent
    val base = 1000000000000L * 15 / 100 / 3
    assert(m(1L) - base > (m(2L) - base) * 100,
      s"the 1000:1 weight split must dominate the walked-in mass: $m")
    graft.ops.Caches.releaseAll()
  }

  test("assortativity: path graph is -1, regular graph undefined") {
    import spark.implicits._
    // path 1–2–3: every edge joins a degree-1 leaf to the degree-2
    // middle — perfect disassortativity, r = −1 exactly
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val r1 = Graph.assortativity(path).collect().head
    assert(r1.getLong(0) == 4L && r1.getDouble(1) == -1.0,
      s"path graph must score -1: $r1")
    // triangle: all degrees equal → zero variance → NULL, not NaN
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a_id", "b_id")
    val r2 = Graph.assortativity(tri).collect().head
    assert(r2.getLong(0) == 6L && r2.isNullAt(1),
      s"regular graph must be NULL: $r2")
    graft.ops.Caches.releaseAll()
  }

  test("link scores: common neighbor, jaccard, smoothed adamic-adar on a plant") {
    import spark.implicits._
    // N(1)={2,3,4}, N(2)={1,3,5}: common third party {3} only,
    // |N(1)\{2}|=|N(2)\{1}|=2 → jaccard 1/3; deg_in(3)=2 →
    // aa = floor(1e9/ln(3))
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 5L)).toDF("src_id", "nbr_id")
    val pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
    val out = Graph.linkScores(pairs, edges).collect().head
    assert(out.getLong(2) == 1L, s"cn: $out")
    assert(out.getDouble(3) == 0.333333, s"jaccard: $out")
    assert(out.getLong(4) == math.floor(1e9 / math.log(3.0)).toLong,
      s"aa_fix: $out")
    graft.ops.Caches.releaseAll()
  }

  test("eigenvector centrality: mass stays on the cycle, unreached nodes zero") {
    import spark.implicits._
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 0L),
      (6L, 0L), (0L, 1L)).toDF("src_id", "nbr_id")
    val nodes = (0L to 6L).toDF("vec_id")
    val m = Graph.eigenCentrality(edges, nodes, "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the 0⇄1 cycle keeps all mass; leaves have no in-edges → exactly 0
    assert(m(0L) > 0L && m(1L) > 0L, s"cycle must carry mass: $m")
    assert((2L to 6L).forall(m(_) == 0L), s"in-edge-free nodes must be 0: $m")
    assert(m.values.max == 1000000L, s"max-norm pins the top node at 1e6: $m")
    val m2 = Graph.eigenCentrality(edges, nodes, "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(m == m2, "eigenCentrality must be deterministic")
    graft.ops.Caches.releaseAll()
  }

  test("triangle counts: closed wedge, coefficients, degree-1 null") {
    import spark.implicits._
    // K3 on {1,2,3} plus the pendant edge 3–4: one triangle, node 3 has
    // an open wedge (cc = 1/3), node 4's coefficient is undefined
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a_id", "b_id")
    val out = Graph.triangleCounts(e).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSeq
    assert(out == Seq((1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 0.333333), (4L, 1L, 0L, -1.0)),
      s"triangle fixture diverged: $out")
    graft.ops.Caches.releaseAll()
  }

  test("interval overlap: bucketed ≡ naive theta join; strict endpoint semantics") {
    import spark.implicits._
    val iv = Seq(
      (1L, "2024-01-01 00:00:00", "2024-01-01 10:00:00"),
      (2L, "2024-01-01 09:00:00", "2024-01-02 05:00:00"), // crosses midnight
      (3L, "2024-01-01 10:00:00", "2024-01-01 12:00:00"), // TOUCHES 1 → no
      (4L, "2024-01-03 00:00:00", "2024-01-03 00:00:00"), // zero-length point
      (5L, "2024-01-01 23:00:00", "2024-01-04 01:00:00")) // long, spans 4
      .toDF("id", "s0", "e0")
      .select(col("id"), col("s0").cast("timestamp").as("s"),
        col("e0").cast("timestamp").as("e"))
    val bucketed = graft.ops.IntervalJoin
      .selfOverlapPairs(iv, Seq("id"), "s", "e")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val naive = iv.as("a").join(iv.as("b"),
        col("a.id") =!= col("b.id") && col("a.s") < col("b.e") &&
          col("b.s") < col("a.e"))
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet
    assert(bucketed == naive,
      s"bucketed diverged from naive: only-b=${bucketed -- naive} only-n=${naive -- bucketed}")
    assert(bucketed((1L, 2L)) && bucketed((2L, 5L)), s"expected overlaps: $bucketed")
    assert(!bucketed((1L, 3L)), "touching endpoints must NOT overlap")
    // a POINT interval overlaps a longer one strictly containing it…
    assert(bucketed((4L, 5L)) && bucketed((5L, 4L)), s"point-in-interval: $bucketed")
    // …and the multi-day interval 5 must appear exactly once per partner
    assert(bucketed.count(_._1 == 5L) == 2, "multi-bucket hits must dedup")
    // corpus-level: real sf0.01 sessions, bucketed ≡ naive
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    val sess = Tables.events(spark, dir)
      .withColumn("brk", when(col("ts") >
        lag(col("ts"), 1).over(w) + expr("interval 6 hours"), 1).otherwise(0))
      .withColumn("sess", sum("brk").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy("user_id", "sess")
      .agg(min("ts").as("smin"), max("ts").as("smax"))
    val bk = graft.ops.IntervalJoin.selfOverlapPairs(
        sess, Seq("user_id", "sess"), "smin", "smax")
      .filter(col("a_user_id") =!= col("b_user_id"))
      .select("a_user_id", "a_sess", "b_user_id", "b_sess")
      .as[(Long, Long, Long, Long)].collect().toSet
    val nv = sess.as("a").join(sess.as("b"),
        (col("a.user_id") =!= col("b.user_id")) &&
          col("a.smin") < col("b.smax") && col("b.smin") < col("a.smax"))
      .select(col("a.user_id"), col("a.sess"), col("b.user_id"), col("b.sess"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(bk == nv, s"corpus bucketed ≠ naive: ${(bk -- nv).take(3)} / ${(nv -- bk).take(3)}")
    graft.ops.Caches.releaseAll()
  }

  test("k-center greedy: covers clusters, radius law, exact selection on a plant") {
    import spark.implicits._
    // two tight clusters: seed = smallest id (1); the farthest point
    // from cluster A is in cluster B → round 2 must jump clusters
    val pts = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.99, 0.05)),
      (3L, Seq(0.98, 0.1)), (10L, Seq(0.0, 1.0)), (11L, Seq(0.05, 0.99)))
      .toDF("vec_id", "embedding")
    val sel = graft.ops.Rerank.kCenterSample(pts, "embedding", "vec_id", 2)
      .orderBy("sel_rank").select("vec_id").as[Long].collect().toSeq
    assert(sel == Seq(1L, 10L), s"expected cluster jump {1,10}, got $sel")
    // corpus shape: distinct picks, NULL seed coverage, non-decreasing
    // cov from round 2 (the shrinking-radius law)
    val out = graft.ops.Rerank.kCenterSample(emb, "embedding", "vec_id", 8)
      .orderBy("sel_rank").collect()
    assert(out.length == 8 && out.map(_.getLong(1)).distinct.length == 8)
    assert(out.head.isNullAt(2), "seed carries no coverage value")
    val covs = out.drop(1).map(_.getLong(2)).toSeq
    assert(covs.sliding(2).forall(p => p(0) <= p(1)),
      s"coverage cosine must be non-decreasing: $covs")
    graft.ops.Caches.releaseAll()
  }

  test("naive bayes: separable plant, tie determinism, partition invariance") {
    import spark.implicits._
    // two classes with disjoint vocab: held-out docs of pure class
    // vocabulary must classify correctly
    val train = Seq(
      (1L, "apple banana cherry", "fruit"), (2L, "banana apple apple", "fruit"),
      (3L, "iron copper zinc", "metal"), (4L, "zinc iron iron copper", "metal"))
      .toDF("doc_id", "text", "label")
    val m = graft.ops.Classify.trainNaiveBayes(train, "label", "text")
    val test0 = Seq((10L, "apple banana"), (11L, "copper zinc zinc"))
      .toDF("doc_id", "text")
    val pred = graft.ops.Classify.nbScore(test0, "doc_id", "text", m)
      .orderBy("doc_id").select("pred_label").as[String].collect().toSeq
    assert(pred == Seq("fruit", "metal"), s"separable plant misclassified: $pred")
    // tie: a word unseen in ANY class with symmetric classes (same doc
    // counts, same token totals, same smoothing floor) scores equal →
    // smallest label wins deterministically
    val sym = Seq((1L, "aa bb", "c1"), (2L, "cc dd", "c2"))
      .toDF("doc_id", "text", "label")
    val ms = graft.ops.Classify.trainNaiveBayes(sym, "label", "text")
    val tied = graft.ops.Classify.nbScore(
        Seq((5L, "zz")).toDF("doc_id", "text"), "doc_id", "text", ms)
      .select("pred_label").as[String].head()
    assert(tied == "c1", s"tie must break on the smaller label: $tied")
    // partition invariance on the real corpus: 1-partition == 13-partition
    val tr = docs.filter(col("doc_id") % 5 =!= 0)
    val te = docs.filter(col("doc_id") % 5 === 0)
    val a = graft.ops.Classify.nbEvaluate(tr.coalesce(1), te.coalesce(1),
        "doc_id", "lang", "text")
      .orderBy("doc_id").collect().toSeq
    val b = graft.ops.Classify.nbEvaluate(tr.repartition(13), te.repartition(13),
        "doc_id", "lang", "text")
      .orderBy("doc_id").collect().toSeq
    assert(a == b, "NB result must be partition-invariant")
    // the classifier must beat the 'always-majority-class' floor on the
    // real held-out split (lang is learnable from token distributions)
    val n = a.size
    val nCorrect = a.count(_.getBoolean(4))
    val majority = te.groupBy("lang").count()
      .agg(max("count")).head().getLong(0)
    assert(nCorrect > majority,
      s"NB accuracy $nCorrect/$n must beat the majority floor $majority/$n")
  }

  test("funnel: sequential semantics, window rule, abandonment") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ev = Seq(
      // user 1: full in-order funnel within the window
      (1L, 1L, ts(1), "signup"), (2L, 1L, ts(2), "click"),
      (3L, 1L, ts(3), "purchase"),
      // user 2: purchase BEFORE click → sequential rule rejects it
      (4L, 2L, ts(1), "signup"), (5L, 2L, ts(2), "purchase"),
      (6L, 2L, ts(3), "click"),
      // user 3: abandons after click
      (7L, 3L, ts(1), "signup"), (8L, 3L, ts(2), "click"),
      // user 4: no signup → not in the funnel at all
      (9L, 4L, ts(1), "click"), (10L, 4L, ts(2), "purchase"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = graft.ops.EventAnalytics.funnel(ev, "user_id", "ts",
        "event_type", Seq("signup", "click", "purchase"), withinHours = 1)
      .orderBy("user_id")
      .select("user_id", "n_stages", "converted")
      .as[(Long, Int, Boolean)].collect().toSeq
    assert(out == Seq((1L, 3, true), (2L, 2, false), (3L, 2, false)),
      s"funnel semantics: $out")
    // window rule: purchase outside the 1 h window reaches stage 3 but
    // does not convert
    val late = Seq((1L, 1L, ts(1), "signup"), (2L, 1L, ts(2), "click"),
      (3L, 1L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), "purchase"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val lr = graft.ops.EventAnalytics.funnel(late, "user_id", "ts",
        "event_type", Seq("signup", "click", "purchase"), withinHours = 1)
      .select("n_stages", "converted").as[(Int, Boolean)].head()
    assert(lr == ((3, false)), s"late conversion must not count: $lr")
  }

  test("retention matrix and transition matrix on a planted log") {
    import spark.implicits._
    def d(day: Int, h: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val ev = Seq(
      // user 1 cohort Jan 1, active day 0 and day 2 (two events on day 2
      // count once)
      (1L, 1L, d(1), "view"), (2L, 1L, d(3), "view"), (3L, 1L, d(3, 5), "click"),
      // user 2 cohort Jan 3, active day 0 only
      (4L, 2L, d(3), "view"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val ret = graft.ops.EventAnalytics.retentionMatrix(ev, "user_id", "ts")
      .orderBy("cohort_day", "offset_days")
      .select(col("cohort_day").cast("string"), col("offset_days"), col("n_users"))
      .as[(String, Int, Long)].collect().toSeq
    assert(ret == Seq(("2024-01-01 00:00:00", 0, 1L), ("2024-01-01 00:00:00", 2, 1L),
      ("2024-01-03 00:00:00", 0, 1L)), s"retention matrix: $ret")
    // transitions for user 1: view->view (d1->d3), view->click (same day,
    // ordered by ts); user 2 contributes none
    val tm = graft.ops.EventAnalytics.transitionMatrix(ev, "user_id", "ts",
        "event_type", "event_id")
      .orderBy("src_type", "dst_type")
      .select("src_type", "dst_type", "n_transitions", "p")
      .as[(String, String, Long, Double)].collect().toSeq
    assert(tm == Seq(("view", "click", 1L, 0.5), ("view", "view", 1L, 0.5)),
      s"transition matrix: $tm")
    // equal-timestamp tie breaks on event_id: two simultaneous events
    // order by id
    val tie = Seq((1L, 1L, d(1), "a"), (3L, 1L, d(2), "c"), (2L, 1L, d(2), "b"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val tt = graft.ops.EventAnalytics.transitionMatrix(tie, "user_id", "ts",
        "event_type", "event_id")
      .orderBy("src_type").select("src_type", "dst_type")
      .as[(String, String)].collect().toSeq
    assert(tt == Seq(("a", "b"), ("b", "c")), s"tie order must be by id: $tt")
  }

  test("k-core peeling: K4 survives k=3, triangle and pendants peel off") {
    import spark.implicits._
    // K4 on {1,2,3,4} (degree 3 each) + triangle {10,11,12} (degree 2)
    // + pendant 20-1
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L), (1L, 20L))
      .toDF("a_id", "b_id")
    val core = graft.ops.Graph.kCore(pairs, k = 3, rounds = 3)
      .orderBy("vec_id").as[(Long, Long)].collect().toSeq
    assert(core == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)),
      s"k=3 core must be exactly K4: $core")
    // k=2: triangle survives too, pendant still peels
    val core2 = graft.ops.Graph.kCore(pairs, k = 2, rounds = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(core2 == Set(1L, 2L, 3L, 4L, 10L, 11L, 12L), s"k=2 core: $core2")
    // convergence: extra rounds change nothing once a round removes nothing
    val a = graft.ops.Graph.kCore(pairs, k = 3, rounds = 3)
      .orderBy("vec_id").collect().toSeq
    val b = graft.ops.Graph.kCore(pairs, k = 3, rounds = 6)
      .orderBy("vec_id").collect().toSeq
    assert(a == b, "peeling is monotone: converged result must be stable")
    graft.ops.Caches.releaseAll()
  }

  test("kCoreExact reaches the fixpoint a bounded peel misses on a deep chain") {
    import spark.implicits._
    // triangle {1,2,3} with a 10-node tail 3-100-101-...-109: the 2-core
    // is exactly the triangle, but each peel round removes only the
    // tail's current endpoint, so 4 bounded rounds leave tail residue
    val tail = (0 until 10).map(i =>
      (if (i == 0) 3L else 99L + i, 100L + i))
    val pairs = (Seq((1L, 2L), (1L, 3L), (2L, 3L)) ++ tail).toDF("a_id", "b_id")
    val bounded = graft.ops.Graph.kCore(pairs, k = 2, rounds = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(Set(1L, 2L, 3L).subsetOf(bounded) && bounded.size > 3,
      s"4 bounded rounds must still hold tail residue here: $bounded")
    val exact = graft.ops.Graph.kCoreExact(pairs, k = 2)
      .orderBy("vec_id").as[(Long, Long)].collect().toSeq
    assert(exact == Seq((1L, 2L), (2L, 2L), (3L, 2L)),
      s"exact 2-core must be the bare triangle: $exact")
    // an empty core converges to zero rows, not an error
    val none = graft.ops.Graph.kCoreExact(pairs, k = 4).count()
    assert(none == 0L, s"k=4 core of this graph is empty, got $none rows")
    // the runaway guard trips rather than silently returning a superset
    val err = intercept[IllegalArgumentException] {
      graft.ops.Graph.kCoreExact(pairs, k = 2, maxRounds = 2).count()
    }
    assert(err.getMessage.contains("did not converge"), err.getMessage)
    graft.ops.Caches.releaseAll()
  }

  test("nb class report: count conservation, F1 identity, model-class axis") {
    import spark.implicits._
    val tr = docs.filter(col("doc_id") % 5 =!= 0)
    val te = docs.filter(col("doc_id") % 5 === 0)
    val m = graft.ops.Classify.trainNaiveBayes(tr, "lang", "text")
    val ev = graft.ops.Classify.nbEvaluate(m, te, "doc_id", "lang", "text")
    val rep = graft.ops.Classify.nbClassReport(m, ev).orderBy("label").collect()
    val nTest = te.count()
    // one row per model class; actual and predicted masses both
    // conserve the held-out doc count
    assert(rep.length == m.classStats.count().toInt)
    assert(rep.map(_.getLong(1)).sum == nTest, "sum(n_actual) = |held-out|")
    assert(rep.map(_.getLong(2)).sum == nTest, "sum(n_pred) = |held-out|")
    val correct = ev.filter(col("is_correct")).count()
    assert(rep.map(_.getLong(3)).sum == correct, "sum(n_correct) conserves")
    // F1 = 2·correct/(actual+pred) equals the harmonic 2PR/(P+R) on
    // every class with nonzero precision and recall
    rep.filter(r => r.getLong(2) > 0 && r.getLong(1) > 0 && r.getLong(3) > 0)
      .foreach { r =>
        val p = r.getLong(3).toDouble / r.getLong(2)
        val q = r.getLong(3).toDouble / r.getLong(1)
        assert(math.abs(r.getDouble(6) - 2 * p * q / (p + q)) < 1e-6,
          s"F1 identity broke for ${r.getString(0)}")
      }
    // held-out class the model never saw: still a report row (n_pred=0,
    // recall 0, precision null) — conservation holds even off-model
    val tr2 = Seq((1L, "en", "hello world city"), (2L, "fr", "bonjour le monde"))
      .toDF("doc_id", "lang", "text")
    val te2 = Seq((3L, "en", "hello city"), (4L, "zz", "qqq zzz www"))
      .toDF("doc_id", "lang", "text")
    val m2 = graft.ops.Classify.trainNaiveBayes(tr2, "lang", "text")
    val rep2 = graft.ops.Classify.nbClassReport(m2,
        graft.ops.Classify.nbEvaluate(m2, te2, "doc_id", "lang", "text"))
      .orderBy("label").collect()
    assert(rep2.map(_.getString(0)).toSeq == Seq("en", "fr", "zz"),
      s"axis must be model ∪ actual: ${rep2.map(_.getString(0)).toSeq}")
    val zz = rep2.find(_.getString(0) == "zz").get
    assert(zz.getLong(1) == 1 && zz.getLong(2) == 0 && zz.getLong(3) == 0 &&
      zz.isNullAt(4) && zz.getDouble(5) == 0.0, s"unseen class row: $zz")
    assert(rep2.map(_.getLong(1)).sum == 2, "sum(n_actual) = |held-out| incl. unseen")
  }

  test("fuzzy linkage: in-block typo links, first-char typo escapes, id tiebreak") {
    import spark.implicits._
    val canon = Seq((1L, "blue bolt"), (2L, "blue belt"), (10L, "red gear"))
      .toDF("id", "name")
    val dirty = Seq(
      (101L, "blue bol"),   // dist 1 of #1, dist 2 of #2 → links to 1
      (102L, "xed gear"),   // first-char typo: block 'xe' ≠ 're' → no match
      (103L, "red gear"))   // exact → dist 0
      .toDF("id", "name")
    val out = graft.ops.Linkage.fuzzyLink(dirty, canon, "id", "name")
      .orderBy("d_id")
      .select(col("d_id"), col("matched_id"), col("dist")).collect()
    assert(out(0).getLong(1) == 1L && out(0).getInt(2) == 1, s"${out(0)}")
    assert(out(1).isNullAt(1), s"blocked-out typo must not match: ${out(1)}")
    // two-pass blocking: the first-char typo agrees on the SUFFIX block,
    // so suffixPass recovers exactly that link and changes nothing else
    val out2 = graft.ops.Linkage.fuzzyLink(dirty, canon, "id", "name",
        suffixPass = true)
      .orderBy("d_id")
      .select(col("d_id"), col("matched_id"), col("dist")).collect()
    assert(out2(1).getLong(1) == 10L && out2(1).getInt(2) == 1,
      s"suffix pass must link the first-char typo: ${out2(1)}")
    assert(out2(0).getLong(1) == out(0).getLong(1) &&
      out2(2).getLong(1) == out(2).getLong(1),
      "suffix pass must not disturb prefix-pass links")
    assert(out(2).getLong(1) == 10L && out(2).getInt(2) == 0, s"${out(2)}")
    // tie at equal distance breaks to the smaller canonical id
    val tie = graft.ops.Linkage.fuzzyLink(
        Seq((5L, "blue bslt")).toDF("id", "name"), canon, "id", "name")
      .select("matched_id").head().getLong(0)
    assert(tie == 1L, s"equal-distance tie must pick the smaller id: $tie")
  }

  test("rolling active users: planted window counts; 1-day window equals DAU") {
    import spark.implicits._
    def d(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    // u1 active days 1 and 3 (twice on day 3); u2 active day 2 only
    val ev = Seq((1L, d(1)), (1L, d(3)), (1L, d(3)), (2L, d(2)))
      .toDF("user_id", "ts")
    val out = graft.ops.EventAnalytics.rollingActiveUsers(ev, "user_id", "ts", 3)
      .orderBy("day").select("dau", "wau").as[(Long, Long)].collect().toSeq
    // day1: dau {u1}; wau(trailing 3d) {u1}
    // day2: dau {u2}; wau {u1,u2}
    // day3: dau {u1}; wau {u1,u2}
    assert(out == Seq((1L, 1L), (1L, 2L), (1L, 2L)), s"rolling counts: $out")
    val w1 = graft.ops.EventAnalytics.rollingActiveUsers(ev, "user_id", "ts", 1)
      .orderBy("day").select("dau", "wau").as[(Long, Long)].collect().toSeq
    assert(w1.forall(p => p._1 == p._2), "windowDays=1 must equal DAU")
  }

  test("snapshot diff: all four statuses on a planted pair of versions") {
    import spark.implicits._
    val oldV = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val newV = Seq((2L, "b"), (3L, "C"), (4L, "d")).toDF("id", "text")
    val out = graft.ops.Export.snapshotDiff(oldV, newV, "id", "text")
      .orderBy("id").select("id", "status").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "removed"), (2L, "unchanged"), (3L, "changed"),
      (4L, "added")), s"diff statuses: $out")
    // identical snapshots diff to all-unchanged (the refresh no-op law)
    val same = graft.ops.Export.snapshotDiff(oldV, oldV, "id", "text")
      .select("status").as[String].collect().toSet
    assert(same == Set("unchanged"))
  }

  test("scd2 build: planted change points, current flags, diff consistency") {
    import spark.implicits._
    // id 1: same payload in all 3 snapshots → one open interval
    // id 2: changes at v2 → [0,2) then [2,null)
    // id 3: appears at v1, changes every snapshot → [1,2), [2,null)
    // id 4: appears at v0, gone after v0 → still one current run
    val snaps = Seq(
      (1L, 0, "a"), (1L, 1, "a"), (1L, 2, "a"),
      (2L, 0, "b"), (2L, 1, "b"), (2L, 2, "B"),
      (3L, 1, "c"), (3L, 2, "C"),
      (4L, 0, "d")).toDF("id", "version", "text")
    val out = graft.ops.Scd.buildScd2(snaps, "id", "version", Seq("text"))
      .orderBy("id", "valid_from")
      .select("id", "valid_from", "valid_to", "is_current", "text")
      .as[(Long, Int, Option[Int], Boolean, String)].collect().toSeq
    assert(out == Seq(
      (1L, 0, None, true, "a"),
      (2L, 0, Some(2), false, "b"), (2L, 2, None, true, "B"),
      (3L, 1, Some(2), false, "c"), (3L, 2, None, true, "C"),
      (4L, 0, None, true, "d")), s"scd2 intervals: $out")
    // law: exactly one current run per id, and interval chains abut —
    // each non-current run's valid_to equals the next run's valid_from
    val perId = out.groupBy(_._1).values
    assert(perId.forall(_.count(_._4) == 1), "one current run per id")
    assert(perId.forall(rs => rs.sliding(2).forall {
      case Seq(a, b) => a._3.contains(b._2)
      case _         => true
    }), "interval chains must abut")
    // null payloads fingerprint distinctly from empty strings
    val nulls = Seq((5L, 0, null: String), (5L, 1, ""), (5L, 2, null: String))
      .toDF("id", "version", "text")
    val nOut = graft.ops.Scd.buildScd2(nulls, "id", "version", Seq("text"))
    assert(nOut.count() == 3L, "null vs empty must be three distinct runs")
  }

  test("column profile: counts, native extrema, null accounting") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("a"), Option(10)), (2L, Option("bb"), Option(2)),
      (3L, None: Option[String], Option(10)), (4L, Option("a"), None))
      .toDF("id", "s", "v")
    val out = graft.ops.Profile.profile(df, Seq("id", "s", "v"))
      .orderBy("col_name").collect()
    val byName = out.map(r => r.getString(0) -> r).toMap
    val id = byName("id")
    assert(id.getLong(1) == 4 && id.getLong(2) == 0 && id.getLong(3) == 4)
    // native extrema: v's min is 2, NOT lexical "10" < "2"
    val v = byName("v")
    assert(v.getString(4) == "2" && v.getString(5) == "10",
      s"native extrema: ${v.getString(4)}..${v.getString(5)}")
    assert(v.getLong(2) == 1 && v.getLong(3) == 2, "v nulls/distinct")
    val s = byName("s")
    assert(s.getLong(2) == 1 && s.getLong(3) == 2, "s nulls/distinct")
    // avg_len of s: ("a","bb","a") -> 4/3 rounded to 6 places
    assert(s.getDouble(7) == 1.333333, s"s avg_len ${s.getDouble(7)}")
    // all-null column: null extrema, null avg_len
    val an = graft.ops.Profile.profile(
      Seq((1L, null: String), (2L, null: String)).toDF("id", "x"), Seq("x"))
      .collect().head
    assert(an.getLong(2) == 2 && an.getLong(3) == 0 && an.isNullAt(4) &&
      an.isNullAt(5) && an.isNullAt(7), s"all-null profile: $an")
    // approx dial: identical report shape, every non-distinct field
    // bit-equal, n_distinct within 3·rsd of exact (rsd = 0.05)
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    def asMap(p: org.apache.spark.sql.DataFrame) = p.collect()
      .map(r => r.getString(0) -> r).toMap
    val exP = asMap(graft.ops.Profile.profile(docs, cols))
    val apP = asMap(graft.ops.Profile.profile(docs, cols, exact = false))
    cols.foreach { c =>
      val (e, a) = (exP(c), apP(c))
      assert(math.abs(a.getLong(3) - e.getLong(3)) <=
        math.max(2L, math.round(0.15 * e.getLong(3))),
        s"$c approx n_distinct ${a.getLong(3)} vs exact ${e.getLong(3)}")
      Seq(1, 2, 4, 5, 6).foreach(i =>
        assert(a.get(i) == e.get(i), s"$c field $i must be exact-equal"))
    }
  }

  test("funnel fold law: scrambled batch splits reproduce the batch funnel") {
    val ev = Tables.events(spark, dir)
    val stages = Seq("signup", "click", "purchase")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val batch = rows(graft.ops.EventAnalytics.funnel(ev, "user_id", "ts",
      "event_type", stages, withinHours = 48))
    // %3 splits interleave event time across "batches" — the
    // out-of-order arrival case where a later batch lowers t1 and an
    // already-seen click must re-qualify from the pruned state
    val parts = (0 to 2).map(i => ev.filter(col("event_id") % 3 === i))
    val folded = parts.tail.foldLeft(
      graft.ops.EventAnalytics.funnelState(parts.head, "user_id", "ts",
        "event_type", stages)) { (st, p) =>
      graft.ops.EventAnalytics.funnelFold(st, p, "user_id", "ts",
        "event_type", stages)
    }
    assert(rows(graft.ops.EventAnalytics.funnelFromState(folded, "user_id",
      stages.size, withinHours = 48)) == batch,
      "folded state must render the batch funnel exactly")
    // the state is a pruned frontier, not the staged event log
    val stagedCount = ev.filter(col("event_type").isin(stages: _*)).count()
    val stateCount = folded.count()
    assert(stateCount < stagedCount / 2,
      s"pruning must bite: state $stateCount vs staged $stagedCount")
  }

  test("funnel retention cut: report-invariant under bounded lateness, pending tail bounded") {
    import spark.implicits._
    // day-offset fixture: u1 converts in-order; u2 never starts (the
    // unbounded pending tail the cut exists for); u3's stage-1 event is
    // PLANTED LATE — delivered a batch after its stage-2 event, 24h
    // behind the then-current frontier (inside the 48h bound), so the
    // cut must keep the pending stage-2 row alive for it; u4 converts
    // late in the log
    def ts(d: Double) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime +
        math.round(d * 24 * 3600 * 1000))
    val stages = Seq("A", "B")
    // (batch, user, type, day)
    val arr = Seq(
      (1, 1L, "A", 1.0), (1, 2L, "B", 0.5), (1, 1L, "B", 1.5),
      (2, 2L, "B", 1.0), (2, 3L, "B", 2.6), (2, 2L, "B", 2.0),
      (3, 3L, "A", 2.5), (3, 4L, "A", 3.5), (3, 2L, "B", 3.0),
      (4, 4L, "B", 4.2), (4, 2L, "B", 9.5), (4, 2L, "B", 9.0))
    val ev = arr.map(e => (e._1, e._2, e._3, ts(e._4)))
      .toDF("batch", "user_id", "event_type", "ts")
    def fold(retainHours: Int) = (2 to 4).foldLeft(
      graft.ops.EventAnalytics.funnelState(ev.filter(col("batch") === 1),
        "user_id", "ts", "event_type", stages, retainHours)) { (st, b) =>
      graft.ops.EventAnalytics.funnelFold(st, ev.filter(col("batch") === b),
        "user_id", "ts", "event_type", stages, retainHours)
    }
    val cutState = fold(48).collect().map(_.toSeq)
    val fullState = fold(0).collect().map(_.toSeq)
    def report(st: Seq[Seq[Any]]) = graft.ops.EventAnalytics
      .funnelFromState(st.map(r => (r(0).asInstanceOf[Long],
          r(1).asInstanceOf[Int], r(2).asInstanceOf[java.sql.Timestamp]))
        .toDF("user_id", "__stage", "__ts"), "user_id", 2, withinHours = 24)
      .collect().map(_.toSeq).toSet
    val got = report(cutState.toSeq)
    assert(got == report(fullState.toSeq),
      "the cut must not change any report column under bounded lateness")
    // the late-planted stage-1 admits u3's pending stage-2: converted
    val u3 = got.find(_.head == 3L).get
    assert(u3(1) == ts(2.5) && u3(2) == ts(2.6) && u3(4) == true,
      s"late stage-1 must still convert u3 through the cut state: $u3")
    // state bound: u2's pending rows older than frontier − 48h are gone
    val u2cut = cutState.count(_.head == 2L)
    val u2full = fullState.count(_.head == 2L)
    assert(u2full == 6 && u2cut == 2,
      s"pending tail must be cut to the horizon: $u2cut vs $u2full")
    // and NO pending row sits behind the horizon in the cut state
    val horizon = ts(9.5 - 2.0)
    assert(!cutState.exists(r => r(2).asInstanceOf[java.sql.Timestamp]
        .before(horizon) && r.head == 2L),
      "no never-started pending row may survive behind the horizon")
  }

  test("transition fold law: ordered batch chunks reproduce the batch matrix") {
    val ev = Tables.events(spark, dir)
    val whole = graft.ops.EventAnalytics.transitionMatrix(ev, "user_id",
      "ts", "event_type", "event_id").collect().map(_.toSeq).toSet
    // in-order arrival: global (ts, id) order chunked into 3 contiguous
    // slices — the ordered-produce shape the fold's prerequisite names
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts"), col("event_id"))
    val ranked = ev.withColumn("__rn", row_number().over(w))
    val n = ev.count()
    val slices = (0 to 2).map(i => ranked.filter(
      col("__rn") > i * n / 3 && col("__rn") <= (i + 1) * n / 3))
    var pairs: org.apache.spark.sql.DataFrame = null
    var frontier: org.apache.spark.sql.DataFrame = null
    slices.foreach { b =>
      val bp = graft.ops.EventAnalytics.transitionBatchPairs(frontier, b,
        "user_id", "ts", "event_type", "event_id")
      pairs = if (pairs == null) bp
        else graft.ops.EventAnalytics.transitionPairsMerge(pairs, bp)
      frontier = graft.ops.EventAnalytics.transitionNewFrontier(frontier, b,
        "user_id", "ts", "event_type", "event_id")
      frontier.persist().count()
    }
    val folded = graft.ops.EventAnalytics.transitionFromPairs(pairs)
      .collect().map(_.toSeq).toSet
    assert(folded == whole,
      "folded pair counts must render the exact batch transition matrix")
    spark.catalog.clearCache()
  }

  test("rolling-active fold law: retention state renders the batch report") {
    val ev = Tables.events(spark, dir)
    val whole = graft.ops.EventAnalytics.rollingActiveUsers(ev, "user_id",
      "ts", windowDays = 7).collect().map(_.toSeq).toSet
    // arbitrary-order splits: the pair-set fold is order-free (s19 law)
    val parts = (0 to 2).map(i => ev.filter(col("event_id") % 3 === i))
    val folded = parts.tail.foldLeft(
      graft.ops.EventAnalytics.retentionState(parts.head, "user_id", "ts")) {
      (st, p) => graft.ops.EventAnalytics.retentionFold(st, p, "user_id", "ts")
    }
    assert(graft.ops.EventAnalytics.rollingActiveFromState(folded, "user_id",
        windowDays = 7).collect().map(_.toSeq).toSet == whole,
      "the retention pair set must render the rolling-active report")
  }

  test("rolling active users HLL twin: same grid, counts within rsd bound") {
    val ev = Tables.events(spark, dir)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.get(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    val ex = asMap(graft.ops.EventAnalytics.rollingActiveUsers(
      ev, "user_id", "ts", windowDays = 7))
    val ap = asMap(graft.ops.EventAnalytics.rollingActiveUsers(
      ev, "user_id", "ts", windowDays = 7, exact = false))
    assert(ex.keySet == ap.keySet, "day grid must not depend on the dial")
    ex.foreach { case (d, (dau, wau)) =>
      val (ad, aw) = ap(d)
      assert(math.abs(ad - dau) <= math.max(2L, math.round(0.15 * dau)),
        s"$d dau approx $ad vs exact $dau")
      assert(math.abs(aw - wau) <= math.max(2L, math.round(0.15 * wau)),
        s"$d wau approx $aw vs exact $wau")
    }
  }

  test("profile state: shard-merge law, order-invariant, HLL distinct within bound") {
    val cols = Seq("doc_id", "lang", "source", "n_chars", "lang_dirty")
    val d = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"), col("source"), col("n_chars"),
      when(col("doc_id") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("lang")).as("lang_dirty"))
    val shards = (0 to 2).map(i => d.filter(col("doc_id") % 3 === i))
    val sts = shards.map(s => graft.ops.Profile.profileState(s, cols))
    def render(st: org.apache.spark.sql.DataFrame) =
      graft.ops.Profile.profileFromState(st, cols).collect()
    def exceptDistinct(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.toSeq.patch(3, Nil, 1)).toSet
    // merge law: every EXACT field is association-order invariant and
    // equals the whole-data state; the HLL estimate may differ by a few
    // counts across merge orders (sketch-state paths) but stays inside
    // the sketch bound in every order — asserted against exact below
    val m1 = graft.ops.Profile.profileMerge(
      graft.ops.Profile.profileMerge(sts(0), sts(1), cols), sts(2), cols)
    val m2 = graft.ops.Profile.profileMerge(sts(0),
      graft.ops.Profile.profileMerge(sts(2), sts(1), cols), cols)
    val (r1, r2) = (render(m1), render(m2))
    assert(exceptDistinct(r1) == exceptDistinct(r2),
      "exact fields must be association-order invariant")
    assert(exceptDistinct(r1) ==
      exceptDistinct(render(graft.ops.Profile.profileState(d, cols))),
      "merged shards must render exact fields as the whole-data state")
    // vs the exact one-shot profile: every column identical except
    // n_distinct, which stays within the HLL bound (lgK=12 → ~1.6% rsd)
    // in BOTH merge orders
    val exact = graft.ops.Profile.profile(d, cols)
      .collect().map(r => r.getString(0) -> r).toMap
    Seq(r1, r2).foreach(_.foreach { r =>
      val e = exact(r.getString(0))
      assert(r.getLong(1) == e.getLong(1) && r.getLong(2) == e.getLong(2),
        s"${r.getString(0)}: n_rows/n_null must be exact")
      assert(r.getString(4) == e.getString(4) &&
        r.getString(5) == e.getString(5),
        s"${r.getString(0)}: native min/max must be exact")
      assert(r.get(6) == e.get(6) && r.get(7) == e.get(7),
        s"${r.getString(0)}: sum_len/avg_len must be exact")
      val (nd, ed) = (r.getLong(3), e.getLong(3))
      assert(math.abs(nd - ed) <= math.max(2L, math.round(0.05 * ed)),
        s"${r.getString(0)}: hll distinct $nd vs exact $ed")
    })
  }

  test("pmi collocations: planted sticky pair scores high, counts exact") {
    import spark.implicits._
    // "new york" always co-occurs; "the" pairs with everything; the
    // empty/whitespace docs contribute zero tokens — no bigrams, no
    // crash (the slice-length guard), totals untouched
    val docs = Seq(
      "new york is the city", "new york has the park",
      "new york and the sea", "the dog saw the cat", "", "   ").toDF("text")
    val out = graft.ops.TextStats.pmiCollocations(docs, "text", minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    val ny = out.find(p => p._1 == "new" && p._2 == "york").get
    assert(ny._3 == 3 && ny._4 == 3 && ny._5 == 3, s"new-york counts: $ny")
    // pmi(new, york) = ln(3 * 20^2 / (16 * 3 * 3)) — n_uni=20, n_bi=16
    val expected = math.log(3.0 * 20 * 20 / (16.0 * 3 * 3))
    assert(math.abs(ny._6 - expected) < 1e-6, s"pmi ${ny._6} vs $expected")
    // support cut: every emitted pair has c12 >= 2
    assert(out.forall(_._3 >= 2), "support cut must hold")
    // a perfectly sticky pair outranks a promiscuous one
    val theCity = out.find(p => p._1 == "the" && p._2 == "city")
    assert(theCity.isEmpty, "c12=1 pairs must be cut")
  }

  test("z-order layout: interleave bits, cell locality law, skip verdicts") {
    import spark.implicits._
    // identity grid: coords already span [0, 255] in both dims
    val pts = (Seq((0L, 0L), (255L, 255L), (1L, 0L), (0L, 1L), (3L, 5L)) ++
      (0 until 200).map(i => ((i * 37L) % 256, (i * 91L) % 256)))
      .toDF("x", "y")
    val z = graft.ops.Layout.withZOrder(pts, "x", "y", bits = 8)
    val byPt = z.select("x", "y", "xg", "yg", "z")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // identity normalization at full-span inputs
    assert(byPt.forall { case ((x, y), r) => r._3 == x && r._4 == y },
      "full-span grid must be the identity")
    // hand-checked Morton codes: (1,0)->1, (0,1)->2, (3,5)->39
    assert(byPt((1L, 0L))._5 == 1L && byPt((0L, 1L))._5 == 2L &&
      byPt((3L, 5L))._5 == 39L && byPt((255L, 255L))._5 == 65535L,
      "Morton interleave bit pattern")
    // locality law: every 4^4-cell spans < 16 grid units per dimension
    val audit = graft.ops.Layout.zOrderAudit(pts, "x", "y", bits = 8,
      cellBits = 4, qxLo = 64, qxHi = 127, qyLo = 0, qyHi = 63).collect()
    assert(audit.forall(r => r.getLong(3) - r.getLong(2) < 16 &&
      r.getLong(5) - r.getLong(4) < 16), "cell locality bound 2^(bits-cellBits)")
    // skip verdict: a cell fully outside the box skips, one inside doesn't
    audit.foreach { r =>
      val outside = r.getLong(3) < 64 || r.getLong(2) > 127 ||
        r.getLong(5) < 0 || r.getLong(4) > 63
      assert(r.getBoolean(6) == outside, s"skip verdict mismatch: $r")
    }
    assert(audit.exists(_.getBoolean(6)) && audit.exists(!_.getBoolean(6)),
      "the planted grid must exercise both skip outcomes")
    // overflow lane: a 2^40-span key at bits=31 — the (c-lo)*(2^31-1)
    // product is ~2^70, int64-impossible; the DECIMAL(38) lanes keep
    // the grid exact (hi → 2^31-1, midpoint → 2^30-1)
    val wide = Seq((0L, 0L), (1L << 39, 0L), (1L << 40, 1L << 40))
      .toDF("x", "y")
    val wg = graft.ops.Layout.withZOrder(wide, "x", "y", bits = 31)
      .select("x", "xg").as[(Long, Long)].collect().toMap
    assert(wg(0L) == 0L && wg(1L << 40) == (1L << 31) - 1 &&
      wg(1L << 39) == (1L << 30) - 1,
      s"wide-range grid must not overflow: $wg")
  }

  test("prefix jaccard join: exact pairs match brute force, recall 1.0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d f"),          // J = 4/6
      (3L, "a b x y z"),                             // J(1,3) = 2/8
      (4L, "p q r"), (5L, "p q r"),                  // J = 1
      (6L, "lone token set here"), (7L, "")).toDF("id", "text")
    val out = graft.ops.Dedup.prefixJaccardJoin(docs, "id", "text",
        tauNum = 3, tauDen = 5)
      .select("id_a", "id_b", "inter", "uni", "jaccard")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    // brute force over all pairs at tau = 3/5
    val sets = docs.as[(Long, String)].collect()
      .map(p => p._1 -> p._2.split(" ").filter(_.nonEmpty).toSet).toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      uni = (sets(a) | sets(b)).size
      if uni > 0 && inter * 5 >= uni * 3
    } yield (a, b, inter.toLong, uni.toLong,
      math.round(inter.toDouble / uni * 1e6) / 1e6)).toSet
    assert(out == brute, s"prefix join vs brute force:\n$out\n$brute")
    assert(out.exists(p => p._1 == 1L && p._2 == 2L),
      "the J=2/3 pair must survive at tau=3/5")
    assert(out.exists(p => p._1 == 4L && p._2 == 5L && p._5 == 1.0),
      "identical sets must emit J=1")
    // shingle mode: same law over 3-gram sets (docs < 3 tokens drop)
    val out3 = graft.ops.Dedup.prefixJaccardJoin(docs, "id", "text",
        tauNum = 1, tauDen = 2, ngramN = 3)
      .select("id_a", "id_b", "inter", "uni")
      .as[(Long, Long, Long, Long)].collect().toSet
    val sets3 = docs.as[(Long, String)].collect().map { p =>
      val ts = p._2.split(" ")
      p._1 -> ts.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.toMap.filter(_._2.nonEmpty)
    val brute3 = (for {
      a <- sets3.keys; b <- sets3.keys if a < b
      inter = (sets3(a) & sets3(b)).size
      uni = (sets3(a) | sets3(b)).size
      if inter * 2 >= uni
    } yield (a, b, inter.toLong, uni.toLong)).toSet
    assert(out3 == brute3, s"3-gram prefix join vs brute force:\n$out3\n$brute3")
  }

  test("scd2 apply law: fold of any snapshot split equals the full build") {
    import spark.implicits._
    // adds, changes, churn, disappear-then-change, gap-then-same
    val snaps = Seq(
      (1L, 0, "A"), (1L, 1, "A"), (1L, 2, "B"), (1L, 3, "B"), // one change
      (2L, 0, "A"),                                           // vanishes
      (3L, 2, "C"), (3L, 3, "D"),                             // late add
      (4L, 0, "A"), (4L, 1, "B"), (4L, 2, "A"), (4L, 3, "B"), // churn
      (5L, 1, "E"), (5L, 3, "E"),                             // gap, same
      (6L, 0, "X"), (6L, 2, "Y")                              // gap, changed
    ).toDF("id", "version", "payload")
    def build(maxV: Int) = graft.ops.Scd.buildScd2(
      snaps.filter(col("version") <= maxV), "id", "version", Seq("payload"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2),
        r.getBoolean(3), r.getString(4))).toSet
    for (v <- 1 to 3) {
      val applied = graft.ops.Scd.scd2Apply(build(v - 1),
        snaps.filter(col("version") === v), "id", "version", Seq("payload"))
      assert(rows(applied) == rows(build(v)), s"apply law broke at v=$v")
    }
    val folded = (1 to 3).foldLeft(build(0)) { (h, v) =>
      graft.ops.Scd.scd2Apply(h, snaps.filter(col("version") === v),
        "id", "version", Seq("payload"))
    }
    assert(rows(folded) == rows(build(3)), "apply ∘ apply ∘ apply = build")
    // partial-snapshot decomposability (the s20 streaming premise):
    // disjoint id-slices of ONE version applied sequentially equal the
    // whole-snapshot apply — each id's open interval is touched once
    val s2 = snaps.filter(col("version") === 2)
    val viaParts = graft.ops.Scd.scd2Apply(
      graft.ops.Scd.scd2Apply(build(1), s2.filter(col("id") % 2 === 0),
        "id", "version", Seq("payload")),
      s2.filter(col("id") % 2 =!= 0), "id", "version", Seq("payload"))
    assert(rows(viaParts) == rows(build(2)),
      "apply must be id-decomposable within a version")
  }

  test("scd2 point-in-time lookup: live version per as-of, misses stay visible") {
    import spark.implicits._
    val hist = graft.ops.Scd.buildScd2(
      Seq((1L, 0, "A"), (1L, 1, "A"), (1L, 2, "B")).toDF("id", "version", "payload"),
      "id", "version", Seq("payload"))
    val facts = Seq((1L, -1), (1L, 0), (1L, 1), (1L, 2), (1L, 9), (99L, 1))
      .toDF("id", "as_of")
    val out = graft.ops.Scd.scd2Lookup(facts, hist, "id", "as_of", Seq("payload"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(3)) null else r.getString(3))).toSet
    assert(out == Set(
      (1L, -1, null),   // dated before the first version: visible miss
      (1L, 0, "A"), (1L, 1, "A"),  // closed interval [0, 2)
      (1L, 2, "B"), (1L, 9, "B"),  // open interval [2, null)
      (99L, 1, null)),  // unknown id: visible miss
      s"lookup rows: $out")
  }

  test("weighted sample: matches the A-ES reference, weight drives inclusion") {
    import spark.implicits._
    // exactness: the operator's top-50 equals a driver-side replay of
    // the same md5-affine uniform + ln(u)/w fixed-point key
    def refKey(salt: String, id: Long, w: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / 4294967296.0
      math.floor(math.log(u) / w.toDouble * 1e12).toLong
    }
    val rows = docs.select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)].collect()
    val want = rows.filter(_._2 > 0)
      .map { case (id, w) => (id, refKey("mix", id, w)) }
      .sortBy { case (id, k) => (-k, id) }.take(50).toSeq
    val got = graft.ops.Chunking.weightedSample(
        docs.select(col("doc_id"), col("n_chars").cast("long").as("n_chars")),
        "doc_id", "n_chars", k = 50, salt = "mix")
      .select("doc_id", "es_key").as[(Long, Long)].collect().toSeq
      .sortBy { case (id, k) => (-k, id) }
    assert(got == want, s"A-ES keys diverged from the reference")
    // inclusion ∝ weight: one heavy row among 40 light ones wins a
    // k=4 draw in most of 30 salts; any fixed light row almost never
    val pool = ((1L to 40L).map(i => (i, 1L)) :+ (99L, 400L)).toDF("id", "w")
    val salts = (1 to 30).map(s => s"s$s")
    val heavyWins = salts.count { s =>
      graft.ops.Chunking.weightedSample(pool, "id", "w", k = 4, salt = s)
        .select("id").as[Long].collect().contains(99L)
    }
    assert(heavyWins >= 25, s"heavy row must dominate inclusion: $heavyWins/30")
  }

  test("decontamination: planted benchmark copies flag, containment exact") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e f g h"),      // identical to the bench doc
      (2L, "z1 z2 z3 z4 z5 z6"),    // clean
      (3L, "a b c d e x y z w"),    // shares exactly one 5-gram
      (4L, "too short")).toDF("id", "text")
    val bench = Seq((100L, "a b c d e f g h")).toDF("bid", "text")
    val out = graft.ops.Dedup.contaminationReport(corpus, bench,
        "id", "text", "bid", "text", ngramN = 5, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(out == Set(
      (1L, 100L, 4L, 4L, 1.0),   // full containment
      (3L, 100L, 1L, 5L, 0.2)),  // one shared shingle of five
      s"contamination report: $out")
    graft.ops.Caches.releaseAll()
  }

  test("prefix jaccard positional filter: prunes boilerplate candidates, recall 1.0") {
    import spark.implicits._
    // 20 docs sharing 4 boilerplate tokens + 4 unique each (J = 1/3 for
    // every base pair — below tau = 1/2), plus one planted near-copy of
    // doc 1 (J = 7/9). Prefix-only (AllPairs) candidates: EVERY pair,
    // via the first boilerplate token that lands in all prefixes.
    // Positional: the boilerplate token sits at rank 5 of 8, so the
    // reachable-overlap bound 1 + min(3,3) = 4 < alpha = 6 prunes every
    // boilerplate-only pair; the true pair survives via its rank-2
    // shared unique token (bound 7 >= 6).
    val base = (1 to 20).map(i =>
      (i.toLong, s"c1 c2 c3 c4 u${i}a u${i}b u${i}c u${i}d"))
    val docs = (base :+ (100L, "c1 c2 c3 c4 u1a u1b u1c zz"))
      .toDF("id", "text")
    val (_, _, candPos) = Dedup.prefixJaccardParts(docs, "id", "text",
      tauNum = 1, tauDen = 2, ngramN = 1, positional = true)
    val (_, _, candAll) = Dedup.prefixJaccardParts(docs, "id", "text",
      tauNum = 1, tauDen = 2, ngramN = 1, positional = false)
    val (nPos, nAll) = (candPos.count(), candAll.count())
    assert(nAll == 210L, s"prefix-only must candidate all C(21,2) pairs: $nAll")
    assert(nPos == 1L, s"positional must keep exactly the true pair: $nPos")
    val out = Dedup.prefixJaccardJoin(docs, "id", "text", 1, 2, 1)
      .select("id_a", "id_b", "inter", "uni")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 100L, 7L, 9L)),
      s"positional filter must not cost recall: $out")
    // the suffix filter composes monotonically: never more candidates,
    // and the true pair still survives
    val (_, _, candSuf) = Dedup.prefixJaccardParts(docs, "id", "text",
      tauNum = 1, tauDen = 2, ngramN = 1, positional = true, suffix = true)
    assert(candSuf.count() == 1L, "suffix filter must keep the true pair")
  }

  test("prefix jaccard suffix filter: median-disjoint pair prunes, verified output unchanged") {
    import spark.implicits._
    // Two 6-token docs sharing ONLY one rare token w (df 2, so w ranks
    // first — every filler is planted in two dummy docs, df 3). At
    // tau = 3/4 the prefix is the 2 rarest tokens, so (a, b) meet at
    // (w, rk 1, rk 1): positional bound 1 + min(5, 5) = 6 = alpha —
    // passes. The suffixes are fully median-disjoint (every a-filler
    // digest sorts above every b-filler digest, picked from an
    // md5-sorted pool), so the depth-1 cap is
    // min(s_b, l_a) + min(r_b, r_a + 1) = 2 + 2 = 4 → bound 5 < 6 —
    // the suffix rule prunes what the positional rule cannot.
    def hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val pool = (1 to 10).map(i => s"f$i").sortBy(hex)
    val (low, high) = (pool.take(5), pool.drop(5))
    val a = (1L, ("w" +: high).mkString(" "))
    val b = (2L, ("w" +: low).mkString(" "))
    val dummies = (low ++ high).zipWithIndex.flatMap { case (f, i) =>
      Seq((100L + 2 * i, f), (101L + 2 * i, f)) }
    val docs = (Seq(a, b) ++ dummies).toDF("id", "text")
    def cand(suffix: Boolean) = {
      val (_, _, c) = Dedup.prefixJaccardParts(docs, "id", "text",
        tauNum = 3, tauDen = 4, ngramN = 1, positional = true,
        suffix = suffix)
      c.as[(Long, Long)].collect().toSet
    }
    val (pos, suf) = (cand(false), cand(true))
    assert(pos.contains((1L, 2L)),
      s"positional alone must keep the median-disjoint pair: $pos")
    assert(!suf.contains((1L, 2L)),
      s"the suffix rule must prune the median-disjoint pair: $suf")
    assert(suf.subsetOf(pos), "suffix candidates are a subset of positional")
    // completeness: the exact-verified join output is identical
    def verified(suffix: Boolean) = {
      val (tokP, sz, c) = Dedup.prefixJaccardParts(docs, "id", "text",
        tauNum = 3, tauDen = 4, ngramN = 1, positional = true,
        suffix = suffix)
      val inter = c
        .join(tokP.select(col("id").as("id_a"), col("t")), Seq("id_a"))
        .join(tokP.select(col("id").as("id_b"), col("t")), Seq("id_b", "t"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
      inter
        .join(sz.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
        .join(sz.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
        .filter(col("inter") * 4 >=
          (col("n_a") + col("n_b") - col("inter")) * 3)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    assert(verified(true) == verified(false),
      "suffix pruning must not change the verified pair set")
    graft.ops.Caches.releaseAll()
  }

  test("z-order compaction: compacted ≡ rebuild, untouched cells byte-stable, drift clamps") {
    import spark.implicits._
    val pts = (0 until 400).map(i => ((i * 37L) % 256, (i * 91L) % 256))
      .toDF("x", "y")
    val static0 = pts.filter(col("x") % 5 =!= 0)
    val delta = pts.filter(col("x") % 5 === 0)
      .unionByName(Seq((999L, -7L)).toDF("x", "y")) // outside trained range
    val tree = java.nio.file.Files.createTempDirectory("zcompact_")
    try {
      val b = graft.ops.Layout.zOrderWrite(static0, "x", "y",
        tree.toString, bits = 8, cellBits = 4)
      def dirFiles(): Map[String, Set[String]] = {
        val root = tree.toFile
        root.listFiles().filter(_.isDirectory).map { d =>
          d.getName -> d.listFiles().map(f => f.getName + ":" + f.length).toSet
        }.toMap
      }
      val before = dirFiles()
      graft.ops.Layout.zOrderCompact(spark, tree.toString, delta, "x", "y",
        b, bits = 8, cellBits = 4)
      val after = dirFiles()
      val touchedCells = graft.ops.Layout.withZOrderFrozen(delta, "x", "y", b)
        .select((col("z") / lit(256L)).cast("long").as("cell")).distinct()
        .collect().map(r => s"cell=${r.getLong(0)}").toSet
      before.keySet.diff(touchedCells).foreach { d =>
        assert(after(d) == before(d), s"untouched cell dir $d must be byte-stable")
      }
      // law: compacted read-back per cell == frozen-grid analytic over the union
      val got = spark.read.parquet(tree.toString)
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n"), min("xg").as("a"), max("xg").as("b"),
          min("yg").as("c"), max("yg").as("d"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val want = graft.ops.Layout.withZOrderFrozen(
          static0.unionByName(delta), "x", "y", b)
        .withColumn("cell", shiftright(col("z"), 8))
        .groupBy("cell")
        .agg(count(lit(1)).as("n"), min("xg").as("a"), max("xg").as("b"),
          min("yg").as("c"), max("yg").as("d"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(got == want, s"compacted tree must equal the rebuild:\n$got\n$want")
      // drift clamps into edge cells: (999, -7) -> xg = 255, yg = 0
      val drift = spark.read.parquet(tree.toString)
        .filter(col("x") === 999L).select("xg", "yg")
        .as[(Long, Long)].collect().toSeq
      assert(drift == Seq((255L, 0L)), s"out-of-range delta must clamp: $drift")
      // replay safety (VERDICT r16): foreachBatch is at-least-once — a
      // re-folded IDENTICAL delta drops its own earlier rows by fold
      // key before re-landing, so fold-twice ≡ fold-once on the tree
      graft.ops.Layout.zOrderCompact(spark, tree.toString, delta, "x", "y",
        b, bits = 8, cellBits = 4)
      def cellSnapshot() = spark.read.parquet(tree.toString)
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n"), min("xg").as("a"), max("xg").as("b"),
          min("yg").as("c"), max("yg").as("d"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(cellSnapshot() == want,
        "replayed compaction must be a no-op on the served zone map")
      // ...while a DIFFERENT delta still appends, and legitimate
      // duplicate rows WITHIN one delta both survive (no row dedupe)
      val dupRows = Seq((7L, 7L), (7L, 7L)).toDF("x", "y")
      graft.ops.Layout.zOrderCompact(spark, tree.toString, dupRows, "x", "y",
        b, bits = 8, cellBits = 4)
      val n77 = spark.read.parquet(tree.toString)
        .filter(col("x") === 7L && col("y") === 7L).count()
      assert(n77 == 2L, s"intra-delta duplicate rows must both survive: $n77")
    } finally graft.util.Fs.deleteTree(tree)
  }

  test("frozen-bounds grid: far-out arrivals clamp to edge cells (no int64 wrap)") {
    import spark.implicits._
    // span 1000 routes to the int64 lane; an arrival 4e16 past the hi
    // bound makes the un-clamped (c − lo)·255 product wrap int64 — the
    // input clamp must place it in the edge cell, bit-exactly
    val b = graft.ops.ZBounds(0L, 1000L, 0L, 1000L)
    val far = Seq((40000000000000000L, -40000000000000000L),
      (1000L, 0L), (500L, 500L)).toDF("x", "y")
    val g = graft.ops.Layout.withZOrderFrozen(far, "x", "y", b, bits = 8)
      .select("x", "xg", "yg").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(g(40000000000000000L) == (255L, 0L),
      s"far-out arrival must clamp to the edge cell: $g")
    assert(g(1000L) == (255L, 0L) && g(500L) == (127L, 127L),
      s"in-range grid unchanged by the input clamp: $g")
  }

  test("z-score anomaly: planted outlier flags, zero-variance guard") {
    import spark.implicits._
    // slice A: nine 10.00s and one 110.00 → the outlier's z is large
    val ev = ((1 to 9).map(i => (i.toLong, "A", 10.0)) :+ (10L, "A", 110.0))
      .toDF("event_id", "event_type", "value")
    val out = graft.ops.EventAnalytics.anomalyScores(ev, "event_type",
        "value", "event_id")
      .orderBy("event_id").collect()
    assert(out.count(_.getBoolean(4)) == 1 && out.last.getBoolean(4),
      "exactly the planted outlier must flag")
    assert(out.last.getDouble(3) > 2.8, s"outlier z: ${out.last.getDouble(3)}")
    // zero-variance slice: null z, never anomalous
    val flat = Seq((1L, "B", 5.0), (2L, "B", 5.0))
      .toDF("event_id", "event_type", "value")
    val fo = graft.ops.EventAnalytics.anomalyScores(flat, "event_type",
        "value", "event_id").collect()
    assert(fo.forall(r => r.isNullAt(3) && !r.getBoolean(4)),
      "zero-variance slice must emit null z and false flags")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("epochShuffle: md5-reference coordinates, dense positions, epoch re-keys") {
    import spark.implicits._
    val ids = docs.select("doc_id").as[Long].collect().toSeq
    val want = ids.map { id =>
        val h = md5hex(s"epoch:1:$id")
        (id, (java.lang.Long.parseLong(h.take(8), 16) % 8).toInt, h)
      }
      .groupBy(_._2).toSeq.flatMap { case (_, rows) =>
        rows.sortBy { case (id, _, h) => (h, id) }.zipWithIndex
          .map { case ((id, sh, _), pos) => (id, sh, pos.toLong) }
      }.toSet
    val got = graft.ops.Chunking.epochShuffle(
        docs.select("doc_id"), "doc_id", epoch = 1, nShards = 8)
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect().toSet
    assert(got == want, "epoch-1 coordinates diverged from the md5 reference")
    // dense per-shard positions: each shard holds exactly 0..n-1
    got.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3) == (0L until rows.size).toSet,
        s"shard $sh positions not dense 0..${rows.size - 1}")
    }
    // every row appears exactly once, and multiple shards are populated
    assert(got.size == ids.size && got.map(_._1) == ids.toSet)
    assert(got.map(_._2).size >= 4, "md5 routing should populate most shards")
    // a new epoch is a fresh permutation of the SAME rows
    val e2 = graft.ops.Chunking.epochShuffle(
        docs.select("doc_id"), "doc_id", epoch = 2, nShards = 8)
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect().toSet
    assert(e2.map(_._1) == got.map(_._1) && e2 != got,
      "epoch 2 must re-key the permutation over the same rows")
    intercept[IllegalArgumentException] {
      graft.ops.Chunking.epochShuffle(docs.select("doc_id"), "doc_id", 1, 0)
    }
  }

  test("leakageSafeSplit: members of a cluster provably agree; md5 cuts exact") {
    import spark.implicits._
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 3, 0.5)
      .select("a_id", "b_id")
    val comps = Dedup.connectedComponents(docs.select("doc_id"), "doc_id", pairs)
    val out = Dedup.leakageSafeSplit(comps, valPermille = 50, testPermille = 50)
      .select(col("id"), col("cluster_id"), col("split"))
      .as[(Long, Long, String)].collect().toSeq
    assert(out.size == docs.count(), "split must cover every document")
    // the leakage law: no near-dup cluster straddles a split boundary —
    // non-vacuous because the fixture plants multi-member clusters
    val byCluster = out.groupBy(_._2)
    assert(byCluster.exists(_._2.size > 1), "fixture lost its planted clusters")
    byCluster.foreach { case (c, rows) =>
      assert(rows.map(_._3).distinct.size == 1, s"cluster $c straddles splits")
    }
    // the assignment is the documented pure function of cluster_id
    out.foreach { case (_, c, split) =>
      val u = Integer.parseInt(md5hex(s"split:$c").take(4), 16)
      val want = if (u < 3277) "val" else if (u < 6554) "test" else "train"
      assert(split == want, s"cluster $c: got $split want $want (u=$u)")
    }
    // both held-out splits draw members; train keeps the bulk
    val n = out.size.toDouble
    assert(out.count(_._3 == "train") > 0.8 * n,
      "train must keep the bulk at 5%/5% cuts")
    intercept[IllegalArgumentException] {
      Dedup.leakageSafeSplit(comps, valPermille = 600, testPermille = 600)
    }
    graft.ops.Caches.releaseAll()
  }

  test("mixtureBudgetMix: integer plan arithmetic, md5 keeps, drop + cap paths") {
    import spark.implicits._
    val weights = Map("en" -> 500, "zh" -> 200, "de" -> 150, "fr" -> 150)
    val out = graft.ops.Chunking.mixtureBudgetMix(docs, "lang", "doc_id",
        "n_chars", weights, budgetTokens = 40000L)
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("w_permille"),
        col("target_tokens"), col("cut"), col("keep"))
      .as[(String, Long, Long, Int, Long, Int, Boolean)].collect().toSeq
    assert(out.size == docs.count(), "every doc must carry a plan row")
    // the plan columns replay the documented integer arithmetic
    val tokens = docs.groupBy("lang").agg(sum("n_chars").cast("long"))
      .as[(String, Long)].collect().toMap
    out.foreach { case (lang, id, n, w, target, cut, keep) =>
      assert(n == tokens(lang), s"$lang n_tokens")
      assert(w == weights.getOrElse(lang, 0), s"$lang weight")
      assert(target == 40000L * w / 1000, s"$lang target")
      val wantCut =
        if (target >= n) 65536
        else ((BigInt(target) * 65536) / n).toInt
      assert(cut == wantCut, s"$lang cut: $cut vs $wantCut")
      val wantKeep = cut >= 65536 ||
        md5hex(id.toString).take(4) < f"$cut%04x"
      assert(keep == wantKeep, s"doc $id keep")
    }
    // the not-in-the-mix path: es has weight 0, cut 0, keeps nothing
    assert(out.filter(_._1 == "es").forall(r => r._6 == 0 && !r._7),
      "groups outside the weight map must drop entirely")
    // the over-subscribed CAP path: a tiny group with a huge budget
    val tiny = Seq(("a", 1L, 10L), ("a", 2L, 10L), ("b", 3L, 10L))
      .toDF("g", "id", "tok")
    val capped = graft.ops.Chunking.mixtureBudgetMix(tiny, "g", "id", "tok",
        Map("a" -> 1000), budgetTokens = 1000000L)
      .select(col("g"), col("cut"), col("keep"))
      .as[(String, Int, Boolean)].collect()
    assert(capped.filter(_._1 == "a").forall(r => r._2 == 65536 && r._3),
      "over-subscribed group must cap at keep-everything")
    assert(capped.filter(_._1 == "b").forall(!_._3), "unweighted group drops")
    intercept[IllegalArgumentException] {
      graft.ops.Chunking.mixtureBudgetMix(tiny, "g", "id", "tok",
        Map("a" -> 900, "b" -> 200), 100L)
    }
  }

  test("mixture plan: 1e17-token budget cannot wrap; unplanned groups score keep=false") {
    import spark.implicits._
    val tiny = Seq(("a", 1L, 10L), ("a", 2L, 10L)).toDF("g", "id", "tok")
    // budget·w_permille = 1e20 overflows BIGINT; the DECIMAL(38,0) target
    // lane must yield the exact positive target and the saturated cut
    val plan = graft.ops.Chunking.mixturePlanFromStats(
        graft.ops.Chunking.mixtureStats(tiny, "g", "tok"),
        "g", Map("a" -> 1000), budgetTokens = 100000000000000000L)
      .select(col("target_tokens"), col("cut"))
      .as[(Long, Int)].collect()
    assert(plan.length == 1 &&
      plan.head._1 == 100000000000000000L && plan.head._2 == 65536,
      s"trillion-scale target must stay exact and cap: ${plan.toSeq}")
    // a group ABSENT from the plan (lagging maintained stats) must score
    // keep=false with cut 0 — visible exclusion, never an inner-join drop
    val docs2 = Seq(("a", 1L), ("zz", 9L)).toDF("g", "id")
    val scored = graft.ops.Chunking.applyMixturePlan(docs2,
        graft.ops.Chunking.mixturePlanFromStats(
          graft.ops.Chunking.mixtureStats(tiny, "g", "tok"),
          "g", Map("a" -> 1000), 100L),
        "g", "id")
      .select(col("g"), col("cut"), col("keep"))
      .as[(String, Int, Boolean)].collect()
    assert(scored.length == 2, "unplanned rows must survive the join")
    assert(scored.filter(_._1 == "zz").forall(r => r._2 == 0 && !r._3),
      "unplanned group must score keep=false at cut 0")
  }

  test("contentDefinedChunks: CDC stability — insertion preserves later chunk hashes") {
    import spark.implicits._
    val base = docs.filter(length(col("text")) > 200)
      .select("doc_id", "text").limit(20)
    def hashes(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Chunking.contentDefinedChunks(df, "doc_id", "text")
        .select(col("doc_id"), col("chunk_idx"), col("chunk_hash"))
        .as[(Long, Int, String)].collect()
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val orig = hashes(base)
    // prepend a passage: boundaries are content-LOCAL, so every chunk
    // after the original doc's first boundary must survive verbatim —
    // the property that makes CDC the dedup key for near-identical
    // revisions (fixed windows shift EVERY later chunk instead)
    val prefixed = hashes(base.withColumn("text",
      concat(lit("zq0 zq1 zq2 zq3 zq4 zq5 zq6 "), col("text"))))
    orig.foreach { case (id, chunks) =>
      val tail = chunks.drop(1) // all but the alignment-absorbing first
      val after = prefixed(id)
      assert(tail.forall(after.contains),
        s"doc $id lost ${tail.count(h => !after.contains(h))} of " +
          s"${tail.size} post-boundary chunks under a prefix insertion")
    }
    // the law is non-vacuous: multi-chunk docs exist at this window/mod
    assert(orig.values.count(_.size >= 2) >= 10,
      "fixture must produce multi-chunk docs")
    // chunk accounting: tokens partition the doc; short docs chunk whole
    val one = Seq((1L, "a b")).toDF("doc_id", "text")
    val oc = graft.ops.Chunking.contentDefinedChunks(one, "doc_id", "text")
      .select("chunk", "n_chunk_tokens").as[(String, Int)].collect()
    assert(oc.toSeq == Seq(("a b", 2)), s"short doc must be one chunk: ${oc.toSeq}")
    val sums = graft.ops.Chunking.contentDefinedChunks(base, "doc_id", "text")
      .groupBy("doc_id").agg(sum("n_chunk_tokens").cast("long").as("s"))
      .join(base.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("nt")), "doc_id")
      .as[(Long, Long, Long)].collect()
    assert(sums.forall(r => r._2 == r._3),
      "chunk token counts must partition each doc exactly")
  }

  test("cdc dedup: prefix-inserted revision caught where fixed windows miss it") {
    import spark.implicits._
    // a revision corpus: doc 2 is doc 1 with a 7-token passage PREPENDED
    // (the re-crawl/checkpoint shape CDC exists for); doc 3 is unrelated
    val baseText = docs.filter(length(col("text")) > 400)
      .select("text").as[String].head()
    val other = docs.filter(length(col("text")) > 400)
      .select("text").as[String].take(2)(1)
    val corpus = Seq(
      (1L, baseText),
      (2L, "zq0 zq1 zq2 zq3 zq4 zq5 zq6 " + baseText),
      (3L, other)).toDF("doc_id", "text")
    // CDC containment: the revision pair scores high (unshifted chunks
    // match at the new alignment) and clusters; the unrelated doc doesn't
    val pairs = graft.ops.Dedup.cdcContainmentPairs(
        graft.ops.Chunking.contentDefinedChunks(corpus, "doc_id", "text"),
        "doc_id")
      .select(col("a_id"), col("b_id"), col("containment_permille"))
      .as[(Long, Long, Int)].collect()
    val rev = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(rev.exists(_._3 >= 500),
      s"revision pair must score >= 500 permille containment: ${pairs.toSeq}")
    assert(pairs.filter(p => p._2 == 3L || p._1 == 3L).forall(_._3 < 500),
      s"unrelated doc must stay below threshold: ${pairs.toSeq}")
    val comp = graft.ops.Dedup.cdcNearDupComponents(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 3L,
      s"revision must cluster, unrelated must not: $comp")
    // the SAME cost fixed-window key misses it: aligned token windows
    // (x17's chunker, zero overlap) shift by the insertion, so the two
    // revisions share NOT ONE window hash — the discipline gap x133+x135
    // close
    val fixed = graft.ops.Chunking.chunk(corpus, "doc_id", "text",
        chunkTokens = 16, overlap = 0)
      .select(col("doc_id"), md5(col("chunk")).as("h"))
    val fixedShared = fixed.filter(col("doc_id") === 1L)
      .join(fixed.filter(col("doc_id") === 2L).select("h"), "h").count()
    assert(fixedShared == 0,
      s"fixed windows must miss the shifted revision (shared $fixedShared)")
  }

  test("epochPlanFromStats: whole epochs + partial remainder, exact arithmetic") {
    import spark.implicits._
    val weights = Map("en" -> 500, "zh" -> 200, "de" -> 150, "fr" -> 150)
    val plan = graft.ops.Chunking.epochPlanFromStats(
        graft.ops.Chunking.mixtureStats(docs, "lang", "n_chars"),
        "lang", weights, budgetTokens = 150000L)
      .as[(String, Long, Int, Long, Int, Long, Int)].collect()
    plan.foreach { case (lang, n, w, target, fe, rem, cut) =>
      assert(w == weights.getOrElse(lang, 0), s"$lang weight")
      assert(target == 150000L * w / 1000, s"$lang target")
      assert(fe == (if (n <= 0) 0L else target / n), s"$lang full_epochs")
      assert(rem == target - fe.toLong * n && rem >= 0 && rem < math.max(n, 1L),
        s"$lang remainder")
      val wantCut = if (n <= 0) 0 else ((BigInt(rem) * 65536) / n).toInt
      assert(cut == wantCut && cut < 65536,
        s"$lang cut never saturates: $cut vs $wantCut")
    }
    // the 150k budget over-subscribes every weighted group at this SF —
    // the schedule path (>=1 whole epoch) is exercised, not just capped
    assert(plan.filter(p => weights.contains(p._1)).forall(_._5 >= 1),
      "every weighted group must plan a whole epoch at the 150k budget")
    assert(plan.filter(p => !weights.contains(p._1))
        .forall(p => p._5 == 0 && p._6 == 0L && p._7 == 0),
      "weight-0 groups plan nothing")
  }

  test("mixtureStats merge law: folded shards == whole (the s30 state fold)") {
    import spark.implicits._
    val whole = graft.ops.Chunking.mixtureStats(docs, "lang", "n_chars")
      .as[(String, Long)].collect().toMap
    val folded = graft.ops.Chunking.mixtureStatsMerge(
        graft.ops.Chunking.mixtureStats(
          docs.filter(col("doc_id") % 2 === 0), "lang", "n_chars"),
        graft.ops.Chunking.mixtureStats(
          docs.filter(col("doc_id") % 2 =!= 0), "lang", "n_chars"),
        "lang")
      .as[(String, Long)].collect().toMap
    assert(folded == whole, "integer token sums must fold shard-wise")
  }

  test("contamination audit: per-batch folds over prebuilt shingles == one-shot") {
    val corpus = docs.select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 300000).as("bench_id"), col("text"))
    val whole = Dedup.contaminationReport(corpus, bench, "doc_id", "text",
        "bench_id", "text", ngramN = 5, minShared = 2)
      .orderBy("doc_id", "bench_id").collect().toSeq
    assert(whole.nonEmpty, "fixture must plant contaminated pairs")
    // the s29 shape: shingle the corpus ONCE, audit benchmark arrivals in
    // two batches, fold by union — equal to the one-shot audit because
    // report rows are keyed by bench doc id (disjoint across batches)
    val cs = graft.ops.Caches.persistTracked(
      Dedup.contaminationShingles(corpus, "doc_id", "text", ngramN = 5))
    val folded = Dedup.contaminationReportFromShingles(cs,
        bench.filter(col("bench_id") % 2 === 0), "bench_id", "text", 5, 2)
      .unionByName(Dedup.contaminationReportFromShingles(cs,
        bench.filter(col("bench_id") % 2 =!= 0), "bench_id", "text", 5, 2))
      .orderBy("doc_id", "bench_id").collect().toSeq
    assert(folded == whole, "batched audit folds must equal the one-shot audit")
    graft.ops.Caches.releaseAll()
  }

  test("token drift: stats fold shard-wise; identical snapshots pin to zero") {
    import spark.implicits._
    val whole = graft.ops.LangModel.tokenStats(docs, "text")
      .as[(String, Long)].collect().toMap
    val folded = graft.ops.LangModel.tokenStatsMerge(
        graft.ops.LangModel.tokenStats(
          docs.filter(col("doc_id") % 2 === 0), "text"),
        graft.ops.LangModel.tokenStats(
          docs.filter(col("doc_id") % 2 =!= 0), "text"))
      .as[(String, Long)].collect().toMap
    assert(folded == whole, "token counts must fold shard-wise (s32's state)")
    // identical snapshots: p = q exactly for every token → every JSD
    // term and the total pin to 0
    val self = graft.ops.LangModel.tokenDriftMovers(docs, docs, "text", 10)
      .collect()
    assert(self.nonEmpty &&
      self.forall(r => r.getLong(3) == 0L && r.getDouble(4) == 0.0),
      "identical snapshots must report zero drift")
  }

  test("token drift: a planted replacement tops the movers, symmetrically") {
    val a = docs.select(col("doc_id"), col("text"))
    // b = a with every token 'the' rewritten — both the vanished and the
    // arriving word must surface as the top two movers
    val b = docs.select(col("doc_id"),
      array_join(transform(split(col("text"), " "),
        w => when(w === "the", lit("zzzdrift")).otherwise(w)), " ").as("text"))
    val top = graft.ops.LangModel.tokenDriftMovers(a, b, "text", 2)
      .collect().map(_.getString(0)).toSet
    assert(top == Set("the", "zzzdrift"), s"expected the planted pair, got $top")
    // JSD is symmetric and IEEE addition commutative: swapping snapshots
    // preserves every mover's fixed-point contribution bit-for-bit
    val ab = graft.ops.LangModel.tokenDriftMovers(a, b, "text", 50)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val ba = graft.ops.LangModel.tokenDriftMovers(b, a, "text", 50)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(ab == ba, "drift attribution must be snapshot-symmetric")
    graft.ops.Caches.releaseAll()
  }

  test("calibration report: bins partition the ranking and replay a local reference") {
    import spark.implicits._
    val m = graft.ops.Classify.trainNaiveBayes(
      docs.filter(col("doc_id") % 5 =!= 0), "lang", "text")
    val test5 = docs.filter(col("doc_id") % 5 === 0)
    val mg = graft.ops.Classify.nbMarginScores(m, test5,
      "doc_id", "lang", "text")
    val rows = mg.select("doc_id", "margin_fix", "is_correct")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(rows.nonEmpty && rows.forall(_._2 >= 0),
      "margins are best minus runner-up: non-negative")
    // the top-2 argmax must agree with nbScore's single-argmax path
    val pred1 = mg.select("doc_id", "pred_label")
      .as[(Long, String)].collect().toMap
    val pred2 = graft.ops.Classify.nbScore(test5, "doc_id", "text", m)
      .select("doc_id", "pred_label").as[(Long, String)].collect().toMap
    assert(pred1 == pred2, "margin path argmax must equal nbScore argmax")
    // local integer reference of the x69-convention bin cut
    val sorted = rows.sortBy(r => (r._2, r._1))
    val mc = sorted.size
    val ref = sorted.zipWithIndex
      .groupBy { case (_, i) => i.toLong * 10 / mc }
      .map { case (bin, xs) => bin ->
        ((xs.size.toLong, xs.count(_._1._3).toLong,
          xs.map(_._1._2).min, xs.map(_._1._2).max)) }
    def nats(fix: Long): Double = java.math.BigDecimal.valueOf(fix / 1e12)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val got = graft.ops.Classify.nbCalibrationReport(mg, "doc_id", 10)
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    assert(got.map(_._2).sum == mc, "bins must partition the ranking")
    got.foreach { case (bin, n, nc, acc, lo, hi) =>
      val (rn, rc, rlo, rhi) = ref(bin)
      assert(n == rn && nc == rc && lo == nats(rlo) && hi == nats(rhi),
        s"bin $bin drifted from the local reference")
      assert(acc == nc * 1000 / n, s"bin $bin permille accuracy")
    }
  }

  test("winnowing: the w+k-1 guarantee, short-doc degeneration, local reference") {
    import spark.implicits._
    // two docs sharing an 11-token run (w + k - 1 = 11 at k=4, w=8),
    // everything else disjoint: the MOSS guarantee demands >= 1 shared
    // fingerprint
    val a = "a1 a2 a3 a4 a5 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11 a6 a7 a8 a9"
    val b = "b1 b2 b3 b4 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11 b5 b6 b7"
    val two = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val byDoc = graft.ops.Dedup.winnowingFingerprints(two, "doc_id", "text",
        k = 4, w = 8)
      .as[(Long, Long)].collect().groupBy(_._1)
      .map { case (id, v) => id -> v.map(_._2).toSet }
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "a shared >= w+k-1 token run must share a fingerprint")
    // >= k tokens but fewer than w grams: exactly one fingerprint (the
    // min of all); < k tokens: no signal, no rows
    val short = Seq((3L, "x1 x2 x3 x4 x5")).toDF("doc_id", "text")
    assert(graft.ops.Dedup.winnowingFingerprints(short, "doc_id", "text",
      4, 8).count() == 1)
    val tiny = Seq((4L, "y1 y2 y3")).toDF("doc_id", "text")
    assert(graft.ops.Dedup.winnowingFingerprints(tiny, "doc_id", "text",
      4, 8).count() == 0)
    // bit-exact local reference on one corpus doc
    val head = docs.orderBy("doc_id").select("doc_id", "text").head()
    val (id0, text0) = (head.getLong(0), head.getString(1))
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val toks = text0.split(" ")
    val hs =
      if (toks.length >= 4)
        toks.sliding(4).map(g =>
          java.lang.Long.parseLong(md5hex(g.mkString(" ")).take(8), 16)).toArray
      else Array.empty[Long]
    val expect =
      if (hs.length >= 8) hs.sliding(8).map(_.min).toSet
      else if (hs.nonEmpty) Set(hs.min)
      else Set.empty[Long]
    val got = graft.ops.Dedup.winnowingFingerprints(
        docs.filter(col("doc_id") === id0), "doc_id", "text", 4, 8)
      .select("fp").as[Long].collect().toSet
    assert(got == expect, "fingerprints must replay the local reference")
  }

  test("winnowing pairs: planted near-dups surface; the index folds batch-wise") {
    import spark.implicits._
    val pairs = graft.ops.Dedup.winnowingOverlapPairs(docs, "doc_id", "text")
      .collect()
    assert(pairs.nonEmpty, "planted near-dups must share winnowing fingerprints")
    // the s33 state law: per-batch fingerprinting unions to the
    // one-shot corpus index (fingerprints are per-row pure)
    val whole = graft.ops.Dedup.winnowingFingerprints(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    val folded = graft.ops.Dedup.winnowingFingerprints(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      .unionByName(graft.ops.Dedup.winnowingFingerprints(
        docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text"))
      .as[(Long, Long)].collect().toSet
    assert(folded == whole, "the fingerprint index must fold batch-wise")
    graft.ops.Caches.releaseAll()
  }

  test("tfidf salience: fix-lane arithmetic and ranks replay a local reference") {
    import spark.implicits._
    val got = graft.ops.TextStats.tfidfSalience(docs, "doc_id", "source",
        "text", topK = 10)
      .as[(String, String, Long, Long, Long, Int)].collect()
    assert(got.nonEmpty)
    val n = docs.count()
    val rows = docs.select("doc_id", "source", "text")
      .as[(Long, String, String)].collect()
    val words = rows.flatMap { case (id, src, t) =>
      t.split(" ").map(w => (id, src, w)) }
    val dfm = words.map(x => (x._1, x._3)).distinct.groupBy(_._2)
      .map { case (w, xs) => w -> xs.length.toLong }
    val tfm = words.groupBy(x => (x._2, x._3))
      .map { case (k2, xs) => k2 -> xs.length.toLong }
    got.foreach { case (src, term, tf, df, sFix, _) =>
      assert(tf == tfm((src, term)) && df == dfm(term),
        s"($src, $term) counts drifted")
      val ref = tf * math.floor(math.log(n.toDouble / df) * 1e6).toLong
      assert(sFix == ref, s"($src, $term) salience_fix drifted")
    }
    got.groupBy(_._1).foreach { case (src, xs) =>
      val sorted = xs.sortBy(_._6)
      assert(sorted.map(_._6).toSeq == (1 to sorted.length).toSeq,
        s"$src ranks must be dense from 1")
      sorted.sliding(2).foreach {
        case Array(p, q) =>
          assert(p._5 > q._5 || (p._5 == q._5 && p._2 < q._2),
            s"$src rank order must follow (salience DESC, term ASC)")
        case _ => ()
      }
    }
    graft.ops.Caches.releaseAll()
  }

  test("tfidf stats: doc-partitioned batches fold to the whole (the s34 state law)") {
    import spark.implicits._
    val whole = graft.ops.TextStats.tfidfStats(docs, "doc_id", "source", "text")
      .as[(String, String, String, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    // halves partition the docs, so even the per-doc-distinct df rows fold
    val folded = graft.ops.TextStats.tfidfStatsMerge(
        graft.ops.TextStats.tfidfStats(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "source", "text"),
        graft.ops.TextStats.tfidfStats(
          docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "source", "text"))
      .as[(String, String, String, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    assert(folded == whole, "tf/df/nd stats must fold over doc-partitioned batches")
    // and the report from folded state equals the direct path
    val direct = graft.ops.TextStats.tfidfSalience(docs, "doc_id", "source",
        "text", topK = 10)
      .orderBy("source", "rk").collect().toSeq
    val viaState = graft.ops.TextStats.tfidfSalienceFromStats(
        graft.ops.TextStats.tfidfStats(docs, "doc_id", "source", "text"),
        "source", topK = 10)
      .orderBy("source", "rk").collect().toSeq
    assert(direct == viaState, "fromStats must equal the direct path")
    graft.ops.Caches.releaseAll()
  }

  test("cross-source duplication matrix replays the attributed pair set") {
    import spark.implicits._
    val srcOf = docs.select("doc_id", "source").as[(Long, String)]
      .collect().toMap
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 3, 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    assert(pairs.nonEmpty, "fixture must plant near-dup pairs")
    val cells = pairs.map { case (a, b) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa, a, b)
    }
    val refPairs = cells.groupBy(c => (c._1, c._2))
      .map { case (k2, xs) => k2 -> xs.size.toLong }
    val refDocs = cells.flatMap(c => Seq((c._1, c._2, c._3), (c._1, c._2, c._4)))
      .distinct.groupBy(c => (c._1, c._2))
      .map { case (k2, xs) => k2 -> xs.size.toLong }
    val got = Dedup.crossSliceDuplication(docs, "doc_id", "text",
        "lang", "source")
      .as[(String, String, Long, Long)].collect()
    assert(got.nonEmpty && got.length == refPairs.size)
    got.foreach { case (sa, sb, np, ndv) =>
      assert(np == refPairs((sa, sb)) && ndv == refDocs((sa, sb)),
        s"cell ($sa, $sb) drifted from the local reference")
    }
    graft.ops.Caches.releaseAll()
  }

  test("cluster-size histogram replays a local reference; rate counts removables") {
    import spark.implicits._
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 3, 0.5)
      .select("a_id", "b_id")
    val comps = Dedup.connectedComponents(docs.select("doc_id"), "doc_id", pairs)
    val byCluster = comps.as[(Long, Long)].collect().groupBy(_._2)
    val sizes = byCluster.values.map(_.length.toLong).toSeq
    val refHist = sizes.groupBy(identity).map { case (sz, xs) => sz -> xs.size.toLong }
    val refRate = (sizes.sum - sizes.length) * 1000 / sizes.sum
    val got = Dedup.clusterSizeHistogram(comps)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.map(_._2).sum == sizes.length.toLong,
      "histogram must cover every cluster")
    assert(got.map(_._3).sum == sizes.sum, "n_docs must cover every doc")
    got.foreach { case (sz, nc, ndv, rate) =>
      assert(nc == refHist(sz) && ndv == sz * nc && rate == refRate,
        s"size $sz drifted from the local reference")
    }
    graft.ops.Caches.releaseAll()
  }

  test("pack-fill report: capacity bound holds, masses reconcile with the packs") {
    import spark.implicits._
    val chunks = graft.ops.Chunking.chunk(docs, "doc_id", "text",
      chunkTokens = 50, overlap = 10, keepCols = Seq("source"))
    val packs = graft.ops.Chunking.packChunksStrict(chunks, "source",
      "n_chunk_tokens", capacity = 256, orderCols = Seq("doc_id", "chunk_idx"))
    val rep = graft.ops.Chunking.packFillReport(packs, "source",
        "n_chunk_tokens", capacity = 256)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rep.nonEmpty)
    val totalChunks = chunks.count()
    val totalTokens = chunks.agg(sum(col("n_chunk_tokens"))).head().getLong(0)
    assert(rep.map(_._3).sum == totalChunks, "every chunk lands in a pack")
    assert(rep.map(_._4).sum == totalTokens, "packed mass equals chunk mass")
    rep.foreach { case (src, nPacks, _, packed, fill) =>
      assert(nPacks > 0 && fill <= 1000,
        s"$src: strict packing can never exceed capacity")
      assert(fill == packed * 1000 / (nPacks * 256L), s"$src permille arithmetic")
    }
    graft.ops.Caches.releaseAll()
  }

  test("ann recall audit: exact-vs-exact pins to 1000; serve recall bounded, query-complete") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") % 50 =!= 0)
    val qtab = emb.filter(col("vec_id") % 50 === 0)
    val exact = graft.ops.Similarity.l2TopKAll(corpus, "embedding", "vec_id",
      qtab, "vec_id", k = 5)
    // the ground truth audited against itself is perfect recall — the
    // identity every recall measurement must satisfy
    val self = graft.ops.Similarity.recallAtK(exact, exact, k = 5)
      .as[(Long, Long, Long)].collect()
    assert(self.length == qtab.count(),
      "every query must appear in the report")
    assert(self.forall(r => r._2 == 5L && r._3 == 1000L),
      "exact vs exact must pin to recall 1000")
    // the served side: bounded, arithmetic consistent, query-complete
    val (cents, assigned) = graft.ops.Similarity.ivfBuild(corpus,
      "embedding", "vec_id")
    val cb = graft.ops.Similarity.pqBuildCodebook(corpus, "embedding", "vec_id")
    val served = graft.ops.Similarity.ivfPqServeAll(cents,
      graft.ops.Similarity.ivfPqEncode(assigned, "vec_id", cb), corpus,
      "embedding", "vec_id", qtab, "vec_id", cb, k = 5)
    val rep = graft.ops.Similarity.recallAtK(served, exact, k = 5)
      .as[(Long, Long, Long)].collect()
    assert(rep.length == self.length, "zero-hit queries must not vanish")
    rep.foreach { case (q, hits, pm) =>
      assert(hits >= 0 && hits <= 5 && pm == hits * 200,
        s"query $q recall arithmetic")
    }
    // hardened contract (ADVICE r14): an explicit query universe keeps a
    // query even when the exact side never saw it (empty-corpus shape)
    val ghost = qtab.select(col("vec_id").as("q_id"))
      .union(Seq(-999L).toDF("q_id"))
    val withGhost = graft.ops.Similarity.recallAtK(served, exact, k = 5,
        queries = Some(ghost))
      .as[(Long, Long, Long)].collect()
    assert(withGhost.length == self.length + 1,
      "explicit universe must carry the exact-less query")
    assert(withGhost.find(_._1 == -999L).exists(r => r._2 == 0L && r._3 == 0L),
      "the exact-less query reports recall 0, not a dropped row")
    // an un-cut approx frame (more than k hits for a query) fails loudly
    // in-plan instead of reporting recall_permille > 1000
    val e2 = intercept[Exception] {
      graft.ops.Similarity.recallAtK(exact, exact, k = 3).collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t.getMessage).toSeq ++ Option(t.getCause).toSeq.flatMap(rootMessages)
    assert(rootMessages(e2).exists(_.contains("more than k=3")),
      s"expected the recallAtK raise_error, got: $e2")
    graft.ops.Caches.releaseAll()
  }

  test("projected IVF batch serve: per-query slice ≡ single-query path; exact cosine self-recall 1000") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") % 50 =!= 0)
    val qtab = emb.filter(col("vec_id") % 50 === 0)
    val served = graft.ops.Similarity.projectedIvfServeAll(corpus,
        "embedding", "vec_id", qtab, "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    graft.ops.Caches.releaseAll()
    // the batch serve is the single-query path fanned out: each query's
    // slice equals projectedIvfTopK at the same dials (same projection,
    // sample, probe, rounded-cosine rerank)
    for (q <- served.map(_._1).distinct.sorted.take(3)) {
      val qv = qtab.filter(col("vec_id") === q)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      val single = graft.ops.Similarity.projectedIvfTopK(corpus,
          "embedding", "vec_id", qv, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val slice = served.filter(_._1 == q).sortBy(_._2)
        .map(t => (t._3, t._4)).toSeq
      assert(slice == single,
        s"query $q: batch slice diverged from the single-query serve")
      graft.ops.Caches.releaseAll()
    }
    // the cosine ground truth satisfies the same self-recall identity
    // as the L2 one
    val exact = graft.ops.Similarity.cosineTopKAll(corpus, "embedding",
      "vec_id", qtab, "vec_id", k = 5)
    val self = graft.ops.Similarity.recallAtK(exact, exact, k = 5)
      .as[(Long, Long, Long)].collect()
    assert(self.length == qtab.count() &&
      self.forall(r => r._2 == 5L && r._3 == 1000L),
      "exact-vs-exact cosine recall must pin to 1000")
    graft.ops.Caches.releaseAll()
  }

  test("residual IVFADC batch serve: per-query slice ≡ the single-query path") {
    val corpus = emb.filter(col("vec_id") % 50 =!= 0)
    val qtab = emb.filter(col("vec_id") % 50 === 0)
    val served = graft.ops.Similarity.ivfPqResidualServeAll(corpus,
        "embedding", "vec_id", qtab, "vec_id", k = 5,
        nProbe = 4, refine = 3, trainIters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    graft.ops.Caches.releaseAll()
    assert(served.nonEmpty, "batch residual serve returned nothing")
    // the batch serve is the single-query trained-residual path fanned
    // out: same coarse sample, residual training rounds, per-cell ADC
    // tables, cut and rerank
    for (q <- served.map(_._1).distinct.sorted.take(2)) {
      val qv = qtab.filter(col("vec_id") === q)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      val single = graft.ops.Similarity.ivfPqResidualTopK(corpus,
          "embedding", "vec_id", qv, k = 5,
          nProbe = 4, refine = 3, trainIters = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        .toSeq
      val slice = served.filter(_._1 == q).sortBy(_._2)
        .map(t => (t._3, t._4, t._5)).toSeq
      assert(slice == single,
        s"query $q: batch residual slice diverged from the single-query serve")
      graft.ops.Caches.releaseAll()
    }
  }

  test("tokenizer fertility: every word emits >= 1 id; totals match a direct encode") {
    import spark.implicits._
    val rep = graft.ops.Bpe.fertilityReport(docs, "lang", "text")
      .as[(String, Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect()
    assert(rep.nonEmpty)
    rep.foreach { case (lang, nd, nw, ni, nch, f, cpi) =>
      assert(nd > 0 && nw > 0 && ni >= nw,
        s"$lang: every non-whitespace word must emit at least one id")
      assert(f.exists(_ >= 1000), s"$lang: fertility is ids-per-word >= 1")
      // NOTE: nch >= ni held structurally under the old char tokenizer
      // but NOT under byte BPE (a multi-byte-heavy slice can emit more
      // ids than CHARS — up to one id per UTF-8 byte), so only the
      // report's presence is asserted here; the id arithmetic itself is
      // pinned by the corpus-total cross-path check below
      assert(cpi.isDefined, s"$lang: chars-per-id lane must be present")
    }
    // cross-path pin: the replace-chain twin, not the native expression
    // the report itself uses
    val direct = docs
      .agg(sum(size(graft.ops.Bpe.encodeIdsChain(col("text"))))).head().getLong(0)
    assert(rep.map(_._4).sum == direct,
      "per-lang id totals must sum to the corpus encode total")
  }
}
