package graft

import graft.ops.{Similarity, Skew}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Cluster-scale execution patterns proven at test scale: bucketed
  * co-located joins (no Exchange), salted skew aggregation (exact
  * equality with the direct plan), AQE coalescing. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("4")
  val dir = "/root/testdata/sf0.001"

  test("bucketed tables join without a shuffle exchange") {
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    // external bucketed tables at explicit temp locations (getOrCreate may
    // reuse a session whose warehouse dir we don't control)
    val loc = Files.createTempDirectory("graft_bucketed")
    try {
      orders.write.mode("overwrite").option("path", s"$loc/orders_b")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_b")
      lineitem.write.mode("overwrite").option("path", s"$loc/lineitem_b")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_b")
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      // bucketing co-locates both sides: the join itself needs no Exchange
      // (the only exchange allowed is for the final small aggregation)
      val joinSection = plan.split("HashAggregate").last
      assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey"),
        s"join should use bucketed distribution:\n$plan")
      // correctness vs unbucketed
      val expected = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      assert(joined.exceptAll(expected).count() == 0)
    } finally graft.util.Fs.deleteTree(loc)
  }

  test("IVF top-k plan is scale-clean: no window, no cartesian product, no corpus shuffle") {
    val emb = Tables.embeddings(spark, dir)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val df = Similarity.ivfTopKCosine(emb, "embedding", "vec_id",
      Seq.tabulate(dim)(i => 0.01 * (i + 1)), k = 10)
    val plan = df.queryExecution.executedPlan.toString
    // the round-1 plan had an unpartitioned WindowExec (whole corpus on one
    // partition) and a crossJoin+window argmax; neither may reappear
    assert(!plan.contains("Window"), s"unpartitioned window in IVF plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian product in IVF plan:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning") &&
           !plan.contains("Exchange rangepartitioning"),
      s"corpus-sized shuffle in IVF plan:\n$plan")
  }

  test("as-of join plan has no join operator: union + keyed window only") {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    val errors = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts").as("err_ts"))
      .agg(max(col("value")).as("err_value"))
    val plan = graft.ops.AsofJoin.asofLeft(clicks, errors, "user_id", "ts",
        "err_ts", Seq("err_ts", "err_value"))
      .queryExecution.executedPlan.toString
    // the 100 TB shape: no pairwise join of any kind, no range explosion —
    // one hash shuffle on the key feeding a linear window pass
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"range-join explosion in as-of plan:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"unexpected join operator in as-of plan:\n$plan")
    assert(plan.contains("Window"), plan)
  }

  test("x24 sketch pairs: the sketch build is evaluated once (cached scan on both sides)") {
    val docs = Tables.documents(spark, dir)
    val pairs = graft.ops.Dedup.sketchJaccardPairs(
      graft.ops.Dedup.groupMinhashSketch(docs, "source", "text"), "source")
    val plan = pairs.queryExecution.executedPlan.toString
    // the expensive subtree is the per-row MinHash + UDAF aggregation; it
    // must feed both cross-join sides through cached scans of ONE
    // InMemoryRelation (computed once), never be planned twice live.
    // (The relation prints its cached plan — including its aggregate —
    // under each scan; only lines ABOVE an InMemoryTableScan execute.)
    val liveSection = plan.linesIterator
      .takeWhile(l => !l.contains("InMemoryTableScan")).mkString("\n")
    val cachedScans = "InMemoryTableScan".r.findAllIn(plan).size
    assert(cachedScans >= 2, s"sketch build not cached on both sides:\n$plan")
    assert(!liveSection.contains("ObjectHashAggregate") &&
           !liveSection.contains("HashAggregate"),
      s"sketch aggregation re-planned live above the cache:\n$plan")
    graft.ops.Caches.releaseAll()
  }

  test("x22 TF-IDF plan has no global (unpartitioned) window") {
    val df = graft.queries.Ext.queries("x22_tfidf_terms")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // per-source top-5 must partition its window by source (a global
    // window would funnel the whole term table through one task); the
    // only windows allowed in the plan are source-partitioned ones
    val specs = "windowspecdefinition\\(([^,)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(specs.nonEmpty && specs.forall(_.startsWith("source")),
      s"non-source-partitioned window specs $specs in x22 plan:\n$plan")
    graft.ops.Caches.releaseAll()
  }

  test("x36 packing windows are shard-partitioned, never global") {
    val df = graft.queries.Ext.queries("x36_sequence_packing")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // packing must parallelize per source stream; a global (unpartitioned)
    // window would funnel every chunk through one task
    val specs = "windowspecdefinition\\(([^,)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(specs.nonEmpty && specs.forall(_.startsWith("source")),
      s"non-shard-partitioned window specs $specs in x36 plan:\n$plan")
    assert(!plan.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"single-partition funnel in x36 plan:\n$plan")
    // chunk() carries `source` through the explode, so no join may appear
    // (a metadata join-back would re-shuffle the whole chunk table)
    assert(!plan.contains("Join"), s"metadata join-back in x36 plan:\n$plan")
  }

  test("x38 decontamination joins on grams — no cartesian, no nested loop") {
    val docs = Tables.documents(spark, dir)
    val df = graft.ops.Dedup.contaminatedDocs(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"), "doc_id", "text", n = 8)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoop"),
      s"pair explosion in decontamination plan:\n$plan")
  }

  test("x39 corpus report reads the documents parquet exactly once") {
    val df = graft.queries.Ext.queries("x39_corpus_report")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected one documents scan, found $scans:\n$plan")
  }

  test("x34 scale pipeline plan has no cartesian product or nested-loop join") {
    val df = graft.queries.Ext.queries("x34_dedup_scale_path")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoop"),
      s"pair explosion in x34 plan:\n$plan")
    graft.ops.Caches.releaseAll()
  }

  test("x04 simhash pairs plan blocks on chunks — no cartesian, no nested loop") {
    val df = graft.queries.Ext.queries("x04_simhash_pairs")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the pair source must be the (j, v) chunk equi-join (pigeonhole
    // blocking), never an all-pairs product over fingerprints
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoop"),
      s"pair explosion in x04 plan:\n$plan")
    graft.ops.Caches.releaseAll()
  }

  test("quantized k-means centroids are identical under different partitionings") {
    // the fixed-point mean (x25) must erase partition/merge order from the
    // trained centroids — double accumulators would drift between layouts
    val emb = Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0)
    def centroids(df: org.apache.spark.sql.DataFrame): Array[(Long, Seq[Double])] = {
      val (c, _) = Similarity.ivfBuildKmeans(df, "embedding", "vec_id")
      val out = c.collect().map(r =>
        (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
      graft.ops.Caches.releaseAll()
      out
    }
    val a = centroids(emb.repartition(32))
    val b = centroids(emb.repartition(3, col("label")))
    assert(a.map(_._1).sameElements(b.map(_._1)), "centroid id sets differ")
    a.zip(b).foreach { case ((ida, va), (idb, vb)) =>
      assert(ida == idb && va == vb, s"centroid $ida drifted between layouts")
    }
  }

  test("salted aggregation equals direct aggregation exactly") {
    val li = Tables.lineitem(spark, dir)
    val direct = li.groupBy("l_suppkey")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("total"))
    val salted = Skew.saltedSum(li, "l_suppkey", col("l_quantity"))
    // l_quantity is integral-valued → double sums are exact in any order
    assert(salted.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(salted).count() == 0)
  }

  test("salted broadcast join equals plain join") {
    val ev = Tables.events(spark, dir).withColumnRenamed("user_id", "k")
    val dim = Tables.nation(spark, dir)
      .select(col("n_nationkey").cast("long").as("k"), col("n_name"))
    val plain = ev.join(dim, Seq("k")).groupBy("n_name").count()
    val salted = Skew.saltedBroadcastJoin(ev, dim, "k")
      .groupBy("n_name").count()
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("x43 banded ANN probe is an index SEEK: partition pruning on band_key, no corpus-wide Hamming filter") {
    val emb = Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    // the 100 TB deployment shape: the band index is WRITTEN partitioned
    // by band_key, so the probe's literal IN-filter becomes storage-level
    // partition pruning — only the query's 16 buckets are read back
    val idxDir = java.nio.file.Files.createTempDirectory("x43_idx_").toString
    try {
      graft.ops.Similarity.annBuildBandIndex(emb, "embedding", "vec_id")
        .write.mode("overwrite").partitionBy("band_key").parquet(idxDir)
      val probe = graft.ops.Similarity.annProbeBanded(
        emb, spark.read.parquet(idxDir), "embedding", "vec_id", q, k = 20)
      // AQE wraps the plan in a leaf AdaptiveSparkPlanExec — unwrap it, or
      // collect() sees no scans
      val root = probe.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scans = root.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val idxScan = scans.find(_.partitionFilters.nonEmpty)
        .getOrElse(fail(s"no partition-pruned scan in:\n$root"))
      assert(idxScan.partitionFilters.mkString.contains("band_key"))
      assert(idxScan.selectedPartitions.partitionCount <= 16,
        s"probe read ${idxScan.selectedPartitions.partitionCount} band partitions — a seek reads <= nBands")
      val plan = root.toString
      assert(!plan.contains("bit_count"),
        s"banded probe must retrieve candidates by bucket join, not a corpus-wide Hamming filter:\n$plan")
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(idxDir))
  }

  test("x58 IVFPQ probe: partition-pruned cell seek, ADC scan reads codes not vectors") {
    val emb = Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val (cents, assigned) = Similarity.ivfBuild(emb, "embedding", "vec_id")
    val cb = Similarity.pqBuildCodebook(emb, "embedding", "vec_id")
    // the 100 TB deployment shape: the index is WRITTEN partitioned by
    // centroid_id, so the probe's literal cell list prunes at storage
    // level, and the ADC stage's (id, codes) projection keeps the float
    // vectors unread outside the candidate fetch
    val idxDir = Files.createTempDirectory("x58_idx_").toString
    try {
      Similarity.ivfPqEncode(assigned, "vec_id", cb)
        .write.mode("overwrite").partitionBy("centroid_id").parquet(idxDir)
      val probe = Similarity.ivfPqProbe(cents, spark.read.parquet(idxDir),
        emb, "embedding", "vec_id", q, cb, k = 20)
      val rows = probe.collect()
      // the ADC scan lands inside a materialized BroadcastQueryStage —
      // descend through AQE stage boundaries, not just plan children
      def allScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(s.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(allScans)
      }
      val scans = allScans(probe.queryExecution.executedPlan)
      val idxScan = scans.find(_.partitionFilters.nonEmpty)
        .getOrElse(fail(
          s"no partition-pruned scan in:\n${probe.queryExecution.executedPlan}"))
      assert(idxScan.partitionFilters.mkString.contains("centroid_id"))
      assert(idxScan.selectedPartitions.partitionCount <= 4,
        s"probe read ${idxScan.selectedPartitions.partitionCount} cells — a seek reads <= nProbe")
      assert(!idxScan.requiredSchema.fieldNames.contains("vec"),
        s"ADC scan must not read float vectors: ${idxScan.requiredSchema}")
      // and the persisted-index probe returns exactly the in-memory result
      val inMem = Similarity.ivfPqProbe(cents,
        Similarity.ivfPqEncode(assigned, "vec_id", cb),
        emb, "embedding", "vec_id", q, cb, k = 20).collect()
      assert(rows.toSeq == inMem.toSeq,
        s"persisted-index probe diverged: ${rows.toSeq} vs ${inMem.toSeq}")
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(idxDir))
  }

  test("x73 delta IVFPQ probe: static index keeps its cell pruning with the delta unioned inline") {
    val emb = Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val (cents, assigned) = Similarity.ivfBuild(emb, "embedding", "vec_id")
    val cb = Similarity.pqBuildCodebook(emb, "embedding", "vec_id")
    val idxDir = Files.createTempDirectory("x73_idx_").toString
    try {
      // the deployment shape: the static 6/7 is the WRITTEN
      // centroid_id-partitioned index; the 1/7 delta arrives raw
      Similarity.ivfPqEncode(assigned.filter(col("vec_id") % 7 =!= 0), "vec_id", cb)
        .write.mode("overwrite").partitionBy("centroid_id").parquet(idxDir)
      val probe = Similarity.ivfPqProbeDelta(cents, spark.read.parquet(idxDir),
        emb.filter(col("vec_id") % 7 === 0), emb, "embedding", "vec_id",
        q, cb, k = 20)
      val rows = probe.collect()
      assert(rows.length == 20)
      def allScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(s.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(allScans)
      }
      val scans = allScans(probe.queryExecution.executedPlan)
      val idxScan = scans.find(_.partitionFilters.nonEmpty)
        .getOrElse(fail(
          s"no partition-pruned static scan in:\n${probe.queryExecution.executedPlan}"))
      assert(idxScan.partitionFilters.mkString.contains("centroid_id"))
      assert(idxScan.selectedPartitions.partitionCount <= 4,
        s"static side read ${idxScan.selectedPartitions.partitionCount} cells — the union must not defeat the ≤ nProbe seek")
      assert(!idxScan.requiredSchema.fieldNames.contains("vec"),
        s"static ADC scan must not read float vectors: ${idxScan.requiredSchema}")
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(idxDir))
  }

  test("x75 batch IVFPQ serving: cell equi-join candidates, no cartesian, ADC reads codes not vectors") {
    val all = Tables.embeddings(spark, dir)
    val corpus = all.filter(col("vec_id") % 50 =!= 0)
    val queries = all.filter(col("vec_id") % 50 === 0)
    val (cents, assigned) = Similarity.ivfBuild(corpus, "embedding", "vec_id")
    val cb = Similarity.pqBuildCodebook(corpus, "embedding", "vec_id")
    val idxDir = Files.createTempDirectory("x75_idx_").toString
    try {
      Similarity.ivfPqEncode(assigned, "vec_id", cb)
        .select("vec_id", "centroid_id", "codes")
        .write.mode("overwrite").partitionBy("centroid_id").parquet(idxDir)
      val serve = Similarity.ivfPqServeAll(cents, spark.read.parquet(idxDir),
        corpus, "embedding", "vec_id", queries, "vec_id", cb, k = 5)
      assert(serve.count() > 0)
      val plan = serve.queryExecution.executedPlan.toString
      // candidates must come from the centroid_id equi-join — a
      // |queries| × |corpus| enumeration would be a cartesian; the only
      // nested loops are the 1-row broadcast scalar convention
      assert(!plan.contains("CartesianProduct"), plan)
      plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
        assert(l.contains("Cross"), s"non-scalar nested loop join:\n$l")
      }
      assert(plan.contains("centroid_id"), s"expected the cell key in the join:\n$plan")
      // the index scan feeding the ADC stage must not read float vectors
      def allScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(s.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(allScans)
      }
      val idxScans = allScans(serve.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.mkString.contains(
          java.nio.file.Paths.get(idxDir).getFileName.toString))
      assert(idxScans.nonEmpty, "no scan over the written index found")
      idxScans.foreach(sc =>
        assert(!sc.requiredSchema.fieldNames.contains("vec"),
          s"ADC scan must not read float vectors: ${sc.requiredSchema}"))
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(idxDir))
  }

  test("x78 ANN-composed hybrid: written-index scan is codes-only; every per-query window pre-cut; no cartesian") {
    import spark.implicits._
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val qdef = Seq(
      (1L, Seq("data", "cache"), 0L),
      (2L, Seq("spark", "vector"), 50L)).toDF("q_id", "terms", "src_vec")
    val qs = qdef.join(emb.select(col("vec_id").as("src_vec"),
      col("embedding")), "src_vec")
    val corpus = emb.filter(col("vec_id") % 50 =!= 0)
    val (cents, assigned) = Similarity.ivfBuild(corpus, "embedding", "vec_id")
    val cb = Similarity.pqBuildCodebook(corpus, "embedding", "vec_id")
    val idxDir = Files.createTempDirectory("x78_idx_").toString
    try {
      Similarity.ivfPqEncode(assigned, "vec_id", cb)
        .select("vec_id", "centroid_id", "codes")
        .write.mode("overwrite").partitionBy("centroid_id").parquet(idxDir)
      def build() = graft.ops.Retrieval.hybridServeAllAnn(docs, "doc_id",
        "text", cents, spark.read.parquet(idxDir), corpus, "embedding",
        "vec_id", qs, "q_id", "terms", cb, kCand = 20, k = 10)
      assert(build().count() > 0)
      graft.ops.Caches.releaseAll()
      val out = build()
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan)
      // the vector side must read the written index's CODES, never a
      // float vector column, at the ADC stage
      def allScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(s.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(allScans)
      }
      val idxScans = allScans(out.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.mkString.contains(
          java.nio.file.Paths.get(idxDir).getFileName.toString))
      assert(idxScans.nonEmpty, "no scan over the written index found")
      idxScans.foreach(sc =>
        assert(!sc.requiredSchema.fieldNames.contains("vec"),
          s"ADC scan must not read float vectors: ${sc.requiredSchema}"))
      // no per-query corpus window remains (the x77 weak item this
      // operator replaces): every per-query window sits above either the
      // salted 2-key local cut or a bounded candidate join
      val perKey = out.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.size == 1 => w }
      assert(perKey.nonEmpty, "expected per-query windows")
      perKey.foreach { w =>
        assert(w.collectFirst {
          case c: WindowExec if c.partitionSpec.size == 2 => c }.isDefined,
          s"per-query window with no salted pre-cut beneath it:\n$w")
      }
    } finally {
      graft.ops.Caches.releaseAll()
      graft.util.Fs.deleteTree(java.nio.file.Paths.get(idxDir))
    }
  }

  test("x47/x53/x56 reuse one persisted window index: read-back runs bit-equal to inline builds") {
    val docs = Tables.documents(spark, dir)
    // the 100 TB shape: the stride-1 (doc, pos, md5-window) frame is
    // written ONCE and scrub/score/decontaminate all read it back instead
    // of re-tokenizing and re-hashing the corpus per pass
    val idxDir = Files.createTempDirectory("widx_").toString
    try {
      graft.ops.Dedup.windowIndex(docs, "doc_id", "text")
        .write.mode("overwrite").parquet(idxDir)
      val idx = spark.read.parquet(idxDir)
      // the indexed scrub genuinely READS the persisted artifact
      val scrubIdxDf = graft.ops.Dedup.exactSubstringDedup(docs, idx, "doc_id", "text", 8)
      assert(scrubIdxDf.queryExecution.executedPlan.toString
          .contains(java.nio.file.Paths.get(idxDir).getFileName.toString),
        "indexed scrub does not scan the persisted window index")
      val scrubIdx = scrubIdxDf.orderBy("doc_id").collect()
      val scrubInline = graft.ops.Dedup.exactSubstringDedup(docs, "doc_id", "text")
        .orderBy("doc_id").collect()
      assert(scrubIdx.toSeq == scrubInline.toSeq, "x47 diverged on the persisted index")
      val scoreIdx = graft.ops.Dedup.duplicationScore(docs, idx, "doc_id", "text", 8)
        .orderBy("doc_id").collect()
      val scoreInline = graft.ops.Dedup.duplicationScore(docs, "doc_id", "text")
        .orderBy("doc_id").collect()
      assert(scoreIdx.toSeq == scoreInline.toSeq, "x56 diverged on the persisted index")
      // x53: the SAME artifact serves decontamination — windows are
      // per-doc, so restricting the full index to corpus membership is
      // exactly the corpus index
      val corpus = docs.filter(col("source") =!= "src0")
      val bench = docs.filter(col("source") === "src0")
      val corpusIdx = idx.join(corpus.select("doc_id"), Seq("doc_id"), "leftsemi")
      val deconIdx = graft.ops.Dedup.decontaminateSpans(
        corpus, bench, corpusIdx, "doc_id", "text", 8).orderBy("doc_id").collect()
      val deconInline = graft.ops.Dedup.decontaminateSpans(
        corpus, bench, "doc_id", "text").orderBy("doc_id").collect()
      assert(deconIdx.toSeq == deconInline.toSeq, "x53 diverged on the persisted index")
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(idxDir))
  }

  test("x45 batch ANN serving: band equi-join candidates, no cartesian/nested-loop, no driver loop") {
    val all = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val plan = graft.ops.Similarity.annProbeBandedAll(
        all.filter(col("vec_id") % 50 =!= 0), all.filter(col("vec_id") % 50 === 0),
        "embedding", "vec_id", "vec_id", k = 5)
      .queryExecution.executedPlan.toString
    // candidates must come from a key-shuffled equi-join on band_key —
    // |queries| x |corpus| pair enumeration would show up as a cartesian
    // or broadcast nested loop
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("band_key"), plan)
  }

  test("x41 block dedup: linear plan — no self-join, no window sort, agg-based keeper pick") {
    val plan = graft.ops.Dedup.blockDedup(
        Tables.documents(spark, dir), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"block dedup must not join at all:\n$plan")
    assert(!plan.contains("Window"),
      s"first-occurrence pick must be the min(struct) aggregate, not a window:\n$plan")
  }

  test("x47 substring dedup: linear plan — equi-joins only, agg-based first-occurrence") {
    val plan = graft.ops.Dedup.exactSubstringDedup(
        Tables.documents(spark, dir), "doc_id", "text")
      .queryExecution.executedPlan.toString
    // window rows ~ corpus words: everything must stay keyed equi-join /
    // aggregate — a cartesian or nested loop would be quadratic in docs,
    // a Window would force a global or per-gram sort
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Window"),
      s"first-occurrence pick must be the min(struct) aggregate, not a window:\n$plan")
  }

  test("x48 LM scoring: model joins broadcast, no cartesian, no window") {
    val docs = Tables.documents(spark, dir)
    val lm = graft.ops.LangModel.trainBigramLm(docs, "doc_id", "text")
    val plan = graft.ops.LangModel.perplexityScore(docs, "doc_id", "text", lm)
      .queryExecution.executedPlan.toString
    // the scoring pass must be scan + broadcast model joins + one
    // doc-keyed aggregate — a shuffled model join at this vocab size, a
    // cartesian, or a window would not survive the 100 TB scoring sweep
    assert(plan.contains("BroadcastHashJoin"), s"model joins must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x53 span decontamination: equi/semi joins only, agg-based scrub, no window") {
    val docs = Tables.documents(spark, dir)
    val plan = graft.ops.Dedup.decontaminateSpans(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x54 temperature mix: rate table broadcasts, per-row predicate, no window") {
    val plan = graft.ops.Chunking.temperatureMix(
        Tables.documents(spark, dir), "lang", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"rates must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // exactly ONE nested-loop join is expected: the 1-row global-min
    // scalar joined onto the tiny per-group count table (the documented
    // one-row broadcast-scalar pattern); the docs-side join above must
    // stay a broadcast hash join
    assert(plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 1, plan)
    assert(!plan.contains("Window"), plan)
  }

  test("x46 quantized top-k: candidate cut is TakeOrdered, rescore joins candidates only") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val plan = graft.ops.Similarity.quantizedTopKCosine(
        emb.filter(col("vec_id") =!= 0), "embedding", "vec_id", q, k = 20)
      .queryExecution.executedPlan.toString
    // the corpus-wide pass must end in a TakeOrderedAndProject (heap of
    // refine*k per partition), never a global Sort; the float vectors
    // join back only against that candidate set
    assert(plan.contains("TakeOrderedAndProject"),
      s"candidate cut must be TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("x64 BM25: df/stats model joins broadcast; corpus never sort-merge-joined") {
    val docs = Tables.documents(spark, dir)
    val plan = graft.ops.Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("hash", "join", "spark", "vector")).queryExecution.executedPlan.toString
    // the corpus-sized side may shuffle only for its own aggregations;
    // every JOIN input is model-sized (df table, 1-row stats) → broadcast
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"BM25 scoring must join the model by broadcast, not shuffle the corpus:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k cut must be TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop is the 1-row broadcast stats scalar (the
    // repo-wide crossJoin(broadcast(1-row)) convention)
    assert(plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 1, plan)
  }

  test("x76/x77 batch retrieval: model joins broadcast, corpus never sort-merge-joined") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val qdef = Seq(
      (1L, Seq("hash", "join"), 0L),
      (2L, Seq("spark", "vector"), 50L)).toDF("q_id", "terms", "src_vec")
    val bPlan = graft.ops.Retrieval.bm25ServeAll(docs, "doc_id", "text",
        qdef.select("q_id", "terms"), "q_id", "terms", k = 10)
      .queryExecution.executedPlan.toString
    // the corpus-sized side may shuffle only for its own aggregations;
    // the term set / df / stats joins are model-sized → broadcast
    assert(!bPlan.contains("SortMergeJoin") && !bPlan.contains("ShuffledHashJoin"),
      s"batch BM25 must join the model by broadcast, not shuffle the corpus:\n$bPlan")
    assert(!bPlan.contains("CartesianProduct"), bPlan)
    graft.ops.Caches.releaseAll()
    val qs = qdef.join(emb.select(col("vec_id").as("src_vec"),
      col("embedding").cast("array<double>").as("qv")), "src_vec")
    val hPlan = graft.ops.Retrieval.hybridServeAll(docs, emb, "doc_id",
        "text", "embedding", "vec_id", qs, "q_id", "terms", "qv",
        kCand = 100, k = 10)
      .queryExecution.executedPlan.toString
    assert(!hPlan.contains("CartesianProduct"), hPlan)
    // the cosine side's query table collapses into 1-row broadcasts (the
    // repo scalar convention); every non-scalar nested loop is a bug
    hPlan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("Cross"), s"non-scalar nested loop join:\n$l")
    }
    graft.ops.Caches.releaseAll()
  }

  test("x64/x65/x75/x76 rank windows: pre-cut or salted — no corpus-sized window partition") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    // hybridTopK: every UNPARTITIONED window (global rank) must rank a
    // TakeOrderedAndProject pre-cut, never the raw match set (the r9
    // watch item: a common term made that window a corpus-sized
    // single-partition sort)
    val hPlan = graft.ops.Retrieval.hybridTopK(docs, emb, "doc_id", "text",
        "embedding", "vec_id", Seq("data", "cache"), qv, kCand = 100, k = 10)
      .queryExecution.sparkPlan
    val globalWins = hPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(globalWins.nonEmpty, s"expected global rank windows in:\n$hPlan")
    globalWins.foreach { w =>
      assert(w.collectFirst { case t: TakeOrderedAndProjectExec => t }.isDefined,
        s"unpartitioned window ranks an un-cut input:\n$w")
    }
    // batch serving: every per-query (1-key) window must sit above the
    // salted (2-key) local cut, so no window partition is ever a full
    // candidate set of a hot term / hot cell
    def assertSalted(plan: SparkPlan, what: String): Unit = {
      val perKey = plan.collect {
        case w: WindowExec if w.partitionSpec.size == 1 => w }
      assert(perKey.nonEmpty, s"$what: expected per-query windows in:\n$plan")
      perKey.foreach { w =>
        assert(w.collectFirst {
          case c: WindowExec if c.partitionSpec.size == 2 => c }.isDefined,
          s"$what: per-query window with no salted pre-cut beneath it:\n$w")
      }
    }
    val qs = Seq((1L, Seq("data", "cache"))).toDF("q_id", "terms")
    assertSalted(graft.ops.Retrieval.bm25ServeAll(docs, "doc_id", "text",
      qs, "q_id", "terms", k = 10).queryExecution.sparkPlan, "bm25ServeAll")
    graft.ops.Caches.releaseAll()
    val corpus = emb.filter(col("vec_id") % 50 =!= 0)
    val qtab = emb.filter(col("vec_id") % 50 === 0)
    val (cents, assigned) = Similarity.ivfBuild(corpus, "embedding", "vec_id")
    val cb = Similarity.pqBuildCodebook(corpus, "embedding", "vec_id")
    assertSalted(Similarity.ivfPqServeAll(cents,
        Similarity.ivfPqEncode(assigned, "vec_id", cb), corpus,
        "embedding", "vec_id", qtab, "vec_id", cb, k = 5)
      .queryExecution.sparkPlan, "ivfPqServeAll")
    graft.ops.Caches.releaseAll()
  }

  test("x82 BM25 seek: postings scan prunes to exactly the query terms' buckets") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val tree = Files.createTempDirectory("bm25_tree_").toString
    try {
      graft.ops.Retrieval.bm25WriteModel(
        graft.ops.Retrieval.bm25BuildModel(docs, "doc_id", "text"), tree)
      val qs = Seq((1L, Seq("data", "cache")), (2L, Seq("spark"))).toDF("q_id", "terms")
      val served = graft.ops.Retrieval.bm25ServeAllSeek(spark, tree,
        "doc_id", qs, "q_id", "terms", k = 10)
      assert(served.count() > 0)
      val expectBuckets = Seq("data", "cache", "spark")
        .map(graft.ops.Retrieval.termBucketLocal(_, 64)).distinct.size
      def allScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(s.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(allScans)
      }
      val postingScans = allScans(served.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.mkString.contains("postings"))
      assert(postingScans.nonEmpty, "no scan over the written postings found")
      postingScans.foreach { sc =>
        assert(sc.partitionFilters.mkString.contains("wb"),
          s"bucket predicate must become a partition filter:\n${sc.partitionFilters}")
        assert(sc.selectedPartitions.partitionCount <= expectBuckets,
          s"read ${sc.selectedPartitions.partitionCount} bucket dirs for " +
            s"$expectBuckets query-term buckets")
      }
      graft.ops.Caches.releaseAll()
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tree))
  }

  test("x85 hybrid seek: ANN tree scan prunes to the probed cells, postings to the term buckets") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val qdef = Seq((1L, Seq("hash", "join"), 0L),
      (2L, Seq("spark", "vector"), 50L)).toDF("q_id", "terms", "src_vec")
    val qs = qdef.join(emb.select(col("vec_id").as("src_vec"),
      col("embedding")), "src_vec")
    val corpus = emb.filter(col("vec_id") % 50 =!= 0)
    val (cents, assigned) = Similarity.ivfBuild(corpus, "embedding", "vec_id")
    val cb = Similarity.pqBuildCodebook(corpus, "embedding", "vec_id")
    val bm25Tree = Files.createTempDirectory("x85_bm25_").toString
    val annTree = Files.createTempDirectory("x85_ann_").toString
    try {
      graft.ops.Retrieval.bm25WriteModel(
        graft.ops.Retrieval.bm25BuildModel(docs, "doc_id", "text"), bm25Tree)
      Similarity.ivfPqEncode(assigned, "vec_id", cb)
        .select("vec_id", "centroid_id", "codes")
        .write.mode("overwrite").partitionBy("centroid_id").parquet(annTree)
      val served = graft.ops.Retrieval.hybridServeAllSeek(spark, bm25Tree,
        annTree, "doc_id", cents, corpus, "embedding", "vec_id", qs, "q_id",
        "terms", cb, kCand = 100, k = 10)
      assert(served.count() > 0)
      def allScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(s.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(allScans)
      }
      val scans = allScans(served.queryExecution.executedPlan)
      val annScans = scans.filter(_.relation.location.rootPaths.mkString
        .contains(new java.io.File(annTree).getName))
      assert(annScans.nonEmpty, "no scan over the written ANN tree found")
      // the pre-filter is the union of both queries' probe cells: ≤ 2·nProbe
      annScans.foreach { sc =>
        assert(sc.partitionFilters.mkString.contains("centroid_id"),
          s"cell predicate must become a partition filter:\n${sc.partitionFilters}")
        assert(sc.selectedPartitions.partitionCount <= 2 * 4,
          s"read ${sc.selectedPartitions.partitionCount} cell dirs for ≤ 8 probed cells")
        // codes-only read: the tree's vectors never existed, but assert the
        // schema stays (id, codes) — no accidental wide read creeps in
        assert(sc.requiredSchema.fieldNames.toSet.subsetOf(Set("vec_id", "codes")),
          s"ANN tree scan must read codes only, got ${sc.requiredSchema.fieldNames.toSeq}")
      }
      val postingScans = scans.filter(
        _.relation.location.rootPaths.mkString.contains("postings"))
      assert(postingScans.nonEmpty, "no scan over the written postings found")
      postingScans.foreach { sc =>
        assert(sc.partitionFilters.mkString.contains("wb"),
          s"bucket predicate must become a partition filter:\n${sc.partitionFilters}")
      }
      graft.ops.Caches.releaseAll()
    } finally {
      graft.util.Fs.deleteTree(java.nio.file.Paths.get(bm25Tree))
      graft.util.Fs.deleteTree(java.nio.file.Paths.get(annTree))
    }
  }

  test("x66 export: reading one shard prunes storage partitions to exactly that shard") {
    val docs = Tables.documents(spark, dir)
    val tmp = Files.createTempDirectory("x66_export_").toString
    try {
      graft.ops.Export.exportShards(docs, "doc_id", tmp, nShards = 8)
      val one = spark.read.parquet(tmp).filter(col("shard") === 3)
      val root = one.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scan = root.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.headOption.getOrElse(fail(s"no file scan in:\n$root"))
      assert(scan.partitionFilters.mkString.contains("shard"),
        s"shard predicate must become a partition filter:\n$root")
      assert(scan.selectedPartitions.partitionCount == 1,
        s"read ${scan.selectedPartitions.partitionCount} shard dirs for one shard")
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tmp))
  }

  test("x72 cell kNN graph: candidates ≪ n² and ≪ x68's banded volume; equi-join plan") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val cands = Similarity.knnGraphCellCandidates(emb, "embedding", "vec_id",
      nProbeCells = 5, nBands = 16, bandBits = 4, dims = 64, nLists = 0,
      iters = 2)
    // volume: the DIRECTED candidate set must stay well under the n(n-1)
    // all-pairs ceiling AND under x68's 16×4 banded volume (β ≈ 0.64 of
    // all pairs on this corpus) — the whole point of the cell composition;
    // the fraction shrinks further as n grows under the √n auto dial
    // (2·p/k·β with k ∝ √n — measured 0.58 → 0.34 → 0.13 at ×1/×4/×40)
    val cCount = cands.count().toDouble
    val allDirected = n.toDouble * (n - 1)
    assert(cCount < 0.70 * allDirected,
      f"candidate volume $cCount%.0f is ${cCount / allDirected}%.2f of n(n-1) — not pruning")
    // analytic bound with slack: ≤ 3·(2·p/k)·β·n²/2 directed pairs
    val k = Similarity.autoCellCount(emb)
    val bound = 3.0 * 2 * 5 / k * 0.64 * n * n / 2
    assert(cCount <= bound,
      f"candidate volume $cCount%.0f exceeds the dial bound $bound%.0f (k=$k)")
    // plan: candidates from the (cell, band) equi-join — no cartesian;
    // the only nested loops are the 1-row broadcast scalar convention
    val plan = cands.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("Cross"), s"non-scalar nested loop join:\n$l")
    }
    assert(plan.contains("centroid_id"), s"expected the cell key in the join:\n$plan")
    graft.ops.Caches.releaseAll()
  }

  test("x67 SemDeDup: pair step equi-joins on the cell key — no corpus cross join") {
    val emb = Tables.embeddings(spark, dir)
    val plan = Similarity.semDeDupKmeans(emb, "embedding", "vec_id", tau = 0.45)
      .queryExecution.executedPlan.toString
    // assignNearest's 1-row collect_list(centroids) broadcast compiles to
    // BroadcastNestedLoopJoin(BuildRight, Cross) — the repo-wide scalar
    // convention; the quadratic pair step must be the cell-key HASH join
    assert(!plan.contains("CartesianProduct"),
      s"within-cell pairs must come from the centroid_id equi-join:\n$plan")
    assert(plan.contains("Join [centroid_id") || plan.contains("[centroid_id"),
      s"expected an equi-join keyed on centroid_id:\n$plan")
    plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("Cross"), s"non-scalar nested loop join:\n$l")
    }
  }

  test("graph analytics: iteration plans are equi-join + agg — no cartesian, no corpus window") {
    val emb = Tables.embeddings(spark, dir)
    val g = graft.ops.Caches.localCheckpointTracked(
      Similarity.knnGraphBanded(emb, "embedding", "vec_id", k = 5,
        nBands = 16, bandBits = 4).select("src_id", "nbr_id"))
    val pr = graft.ops.Graph.pageRank(g, emb.select("vec_id"), "vec_id",
      iters = 2)
    val prPlan = pr.queryExecution.executedPlan.toString
    // the walk is join–sum only: any nested-loop/cartesian or ANY window
    // here would serialize a corpus-sized partition at scale
    assert(!prPlan.contains("CartesianProduct") &&
      !prPlan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in pagerank plan:\n$prPlan")
    assert(!prPlan.contains("Window"), s"window in pagerank plan:\n$prPlan")
    val lp = graft.ops.Graph.labelPropagate(g,
      emb.select(col("vec_id"), col("label")), "vec_id", "label", iters = 2)
    val lpPlan = lp.queryExecution.executedPlan.toString
    assert(!lpPlan.contains("CartesianProduct") &&
      !lpPlan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in label-prop plan:\n$lpPlan")
    val mut = graft.ops.Graph.mutualKnnPairs(
      Similarity.knnGraphBanded(emb, "embedding", "vec_id", k = 5,
        nBands = 16, bandBits = 4))
    val mutPlan = mut.queryExecution.executedPlan.toString
    assert(!mutPlan.contains("CartesianProduct") &&
      !mutPlan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in mutual-pairs plan:\n$mutPlan")
    graft.ops.Caches.releaseAll()
  }

  test("interval overlap join: bucket-keyed equi join, never a nested-loop pair product") {
    import spark.implicits._
    val iv = (1L to 50L).map(i =>
        (i, s"2024-01-0${1 + (i % 5)} 00:00:00", s"2024-01-0${1 + (i % 5)} 12:00:00"))
      .toDF("id", "s0", "e0")
      .select(col("id"), col("s0").cast("timestamp").as("s"),
        col("e0").cast("timestamp").as("e"))
    val plan = graft.ops.IntervalJoin.selfOverlapPairs(iv, Seq("id"), "s", "e")
      .queryExecution.executedPlan.toString
    // the whole point of the bucket decomposition: the pair step is an
    // equi-join on the bucket — the naive theta-join's nested-loop
    // product must not appear
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"nested-loop pair product in interval-join plan:\n$plan")
    graft.ops.Caches.releaseAll()
  }

  test("diversity selection: argmins are TakeOrdered, not corpus windows; joins keyed or kSel-broadcast") {
    val emb = Tables.embeddings(spark, dir)
    // k-center's rounds are EAGERLY checkpointed (Rerank scaladoc), so the
    // returned frame's plan is checkpoint scans — audit the round SHAPE
    // the operator builds instead: orderBy+limit(1) over the pen-carrying
    // pool MUST plan as TakeOrderedAndProject (per-partition top-1 +
    // driver merge), never a Window or global Sort
    val pool = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("__v"))
      .withColumn("__pen", floor(
        graft.functions.VectorFunctions.norm(col("__v")) * lit(1e9))
        .cast("long"))
    val argmin = pool.orderBy(col("__pen").asc, col("vec_id").asc).limit(1)
    val aPlan = argmin.queryExecution.executedPlan.toString
    assert(aPlan.contains("TakeOrderedAndProject"),
      s"k-center round argmin should be TakeOrdered:\n$aPlan")
    assert(!aPlan.contains("Window"), s"window in argmin plan:\n$aPlan")
    // the mmr loop persists lazily, so its full plan IS visible: joins
    // must be keyed on q_id — no cartesian, no nested loop
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
      Seq(col("rel_half").desc, col("vec_id").asc), 5, "__crk").drop("__crk")
    val mmr = graft.ops.Rerank.mmrRerank(cands, "q_id", "vec_id",
      "rel_half", "v", kSel = 3)
    val mPlan = mmr.queryExecution.executedPlan.toString
    assert(!mPlan.contains("CartesianProduct"),
      s"cartesian in mmr plan:\n$mPlan")
    graft.ops.Caches.releaseAll()
  }

  test("x108 NB scoring: word-count model broadcasts, argmax is an aggregate, no window") {
    val docs = Tables.documents(spark, dir)
    val m = graft.ops.Classify.trainNaiveBayes(
      docs.filter(col("doc_id") % 5 =!= 0), "lang", "text")
    val plan = graft.ops.Classify.nbScore(
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", m)
      .queryExecution.executedPlan.toString
    // scoring must be scan + class-table broadcast (the one intended
    // model-sized nested loop) + broadcast hash join on (label, w) +
    // two combinable aggregates — a shuffled model join or a per-doc
    // rank window would not survive the 100 TB scoring sweep
    assert(plan.contains("BroadcastHashJoin"),
      s"word-count model join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must never sort-merge-join the model:\n$plan")
    assert(!plan.contains("Window"),
      s"per-doc argmax must be an aggregate, not a window:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("x121 z-order physical write: file zone maps equal the cell audit, skip counts match") {
    val li = Tables.lineitem(spark, dir)
    val out = java.nio.file.Files.createTempDirectory("zorder_").toString
    try {
      graft.ops.Layout.zOrderWrite(li, "l_partkey", "l_suppkey", out,
        bits = 8, cellBits = 4)
      val files = graft.ops.Layout.writtenZoneMap(spark, out,
          qxLo = 64, qxHi = 127, qyLo = 0, qyHi = 63)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
           r.getLong(6), r.getBoolean(7))).toMap
      val cells = graft.ops.Layout.zOrderAudit(li, "l_partkey", "l_suppkey",
          bits = 8, cellBits = 4, qxLo = 64, qxHi = 127, qyLo = 0, qyHi = 63)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
           r.getLong(5), r.getBoolean(6))).toMap
      // at filesPerCell = 1: one file per cell, and each file's
      // footer-equivalent stats ARE the analytic cell audit — row
      // counts, both min/max pairs, verdict
      assert(files.keySet == cells.keySet,
        s"files per cell: ${files.keySet.size} vs cells ${cells.keySet.size}")
      files.foreach { case (cell, f) =>
        assert(f == cells(cell), s"cell $cell: file $f vs audit ${cells(cell)}")
      }
      // the deployment claim: skipped-file count equals skippable cells,
      // and no row matching the box predicate lives in a skipped file
      val skippedFiles = files.count(_._2._6)
      assert(skippedFiles == cells.count(_._2._6) && skippedFiles > 0)
      val hitsInSkipped = graft.ops.Layout.writtenZoneMap(spark, out,
          64, 127, 0, 63).filter(col("skippable"))
        .join(spark.read.parquet(out)
          .filter(col("xg").between(64, 127) && col("yg").between(0, 63))
          .groupBy(input_file_name().as("file")).count(), Seq("file"))
        .count()
      assert(hitsInSkipped == 0, "box rows must never sit in a skipped file")
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(out))
  }

  test("zOrderWrite filesPerCell: per-file stats nest in cell bounds, write parallelism uncapped") {
    val li = Tables.lineitem(spark, dir)
    val out = java.nio.file.Files.createTempDirectory("zorder_fpc_").toString
    try {
      graft.ops.Layout.zOrderWrite(li, "l_partkey", "l_suppkey", out,
        bits = 8, cellBits = 4, filesPerCell = 4)
      // per-FILE zone maps, grouped back to their cells
      val files = graft.ops.Layout.writtenZoneMap(spark, out,
          qxLo = 64, qxHi = 127, qyLo = 0, qyHi = 63).collect()
        .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getBoolean(7))))
      val cells = graft.ops.Layout.zOrderAudit(li, "l_partkey", "l_suppkey",
          bits = 8, cellBits = 4, qxLo = 64, qxHi = 127, qyLo = 0, qyHi = 63)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
           r.getLong(5), r.getBoolean(6))).toMap
      // generalized zone-map law: every file's stats NEST inside its
      // cell's audit bounds, and per cell the file rows sum to the
      // audit count with min-of-mins / max-of-maxes equal to the audit
      files.foreach { case (cell, (n, xlo, xhi, ylo, yhi, _)) =>
        val c = cells(cell)
        assert(n <= c._1 && xlo >= c._2 && xhi <= c._3 &&
          ylo >= c._4 && yhi <= c._5,
          s"file stats must nest in cell $cell: ($n,$xlo,$xhi,$ylo,$yhi) vs $c")
      }
      val byCell = files.groupBy(_._1)
      assert(byCell.keySet == cells.keySet, "every audited cell is written")
      byCell.foreach { case (cell, fs) =>
        val c = cells(cell)
        assert(fs.map(_._2._1).sum == c._1 &&
          fs.map(_._2._2).min == c._2 && fs.map(_._2._3).max == c._3 &&
          fs.map(_._2._4).min == c._4 && fs.map(_._2._5).max == c._5,
          s"cell $cell file aggregate must equal the audit")
      }
      // the scale point: hot cells split into >1 file (write
      // parallelism and file size no longer capped at one task/cell)
      assert(byCell.values.map(_.size).max > 1,
        s"filesPerCell=4 must split at least one hot cell; " +
          s"got ${byCell.values.map(_.size).max} max files/cell")
      assert(byCell.values.forall(_.size <= 4),
        "a cell never splits past filesPerCell files")
      // pruning only improves: every file of a skippable cell is
      // skippable (file bounds nest), so skipped FILES >= skippable cells
      val skippableCells = cells.count(_._2._6)
      val skippedFiles = files.count(_._2._6)
      assert(skippedFiles >= skippableCells && skippableCells > 0,
        s"$skippedFiles skipped files vs $skippableCells skippable cells")
      byCell.foreach { case (cell, fs) =>
        if (cells(cell)._6)
          assert(fs.forall(_._2._6), s"files of skippable cell $cell must skip")
      }
      // and the box rows still never sit in a skipped file
      val hitsInSkipped = graft.ops.Layout.writtenZoneMap(spark, out,
          64, 127, 0, 63).filter(col("skippable"))
        .join(spark.read.parquet(out)
          .filter(col("xg").between(64, 127) && col("yg").between(0, 63))
          .groupBy(input_file_name().as("file")).count(), Seq("file"))
        .count()
      assert(hitsInSkipped == 0, "box rows must never sit in a skipped file")
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(out))
  }

  test("zOrderCompact at filesPerCell>1: compacted tree still equals the rebuild") {
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val out = java.nio.file.Files.createTempDirectory("zcompact_fpc_").toString
    try {
      val static0 = li.filter(col("l_orderkey") % 5 =!= 0)
      val delta = li.filter(col("l_orderkey") % 5 === 0)
      val b = graft.ops.Layout.zOrderWrite(static0, "l_partkey", "l_suppkey",
        out, bits = 8, cellBits = 4, filesPerCell = 4)
      graft.ops.Layout.zOrderCompact(spark, out, delta,
        "l_partkey", "l_suppkey", b, bits = 8, cellBits = 4, filesPerCell = 4)
      def cellAgg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n"), min("xg").as("a"), max("xg").as("b"),
          min("yg").as("c"), max("yg").as("d"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val got = cellAgg(spark.read.parquet(out))
      val want = cellAgg(graft.ops.Layout.withZOrderFrozen(
          static0.unionByName(delta), "l_partkey", "l_suppkey", b)
        .withColumn("cell", shiftright(col("z"), 8)))
      assert(got == want,
        "filesPerCell>1 compaction must still read back as the rebuild")
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(out))
  }

  test("scd2 apply/lookup + decontamination plans: id-keyed joins, bench broadcast") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val snaps = (0 to 1).map { v =>
      docs.select(col("doc_id"), lit(v).as("version"), col("text"))
    }.reduce(_ unionByName _)
    val hist = graft.ops.Scd.buildScd2(snaps, "doc_id", "version", Seq("text"))
    // apply: one id-keyed full-outer of OPEN intervals vs snapshot —
    // never a nested loop, never history × snapshot
    val aPlan = graft.ops.Scd.scd2Apply(hist,
        docs.select(col("doc_id"), lit(2).as("version"), col("text")),
        "doc_id", "version", Seq("text"))
      .queryExecution.executedPlan.toString
    assert(!aPlan.contains("CartesianProduct") &&
           !aPlan.contains("BroadcastNestedLoopJoin"),
      s"scd2Apply must stay id-keyed:\n$aPlan")
    // lookup: the interval test must ride an id EQUI join as residual
    val facts = docs.select(col("doc_id"), lit(1).as("as_of"))
    val lPlan = graft.ops.Scd.scd2Lookup(facts, hist, "doc_id", "as_of",
        Seq("text"))
      .queryExecution.executedPlan.toString
    assert(!lPlan.contains("CartesianProduct") &&
           !lPlan.contains("BroadcastNestedLoopJoin"),
      s"scd2Lookup must be an id-equi join with interval residual:\n$lPlan")
    // decontamination: the benchmark shingle side must broadcast — the
    // 100 TB corpus is never shuffled on shingle keys
    val bench = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 300000).as("bench_id"), col("text"))
    val cPlan = graft.ops.Dedup.contaminationReport(docs, bench,
        "doc_id", "text", "bench_id", "text", ngramN = 5, minShared = 2)
      .queryExecution.executedPlan.toString
    assert(cPlan.contains("BroadcastHashJoin"),
      s"benchmark shingles must broadcast:\n$cPlan")
    assert(!cPlan.contains("CartesianProduct"), cPlan)
    graft.ops.Caches.releaseAll()
  }

  test("x119 profile approx dial: HLL plan drops the multi-distinct Expand") {
    val d = Tables.documents(spark, dir)
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    // control: the exact form pays the documented k+1-way Expand tax
    val exactPlan = graft.ops.Profile.profile(d, cols)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"),
      s"exact multi-distinct should Expand (control):\n$exactPlan")
    // the dial: one un-multiplied scan, combinable HLL sketches
    val approxPlan = graft.ops.Profile.profile(d, cols, exact = false)
      .queryExecution.executedPlan.toString
    assert(!approxPlan.contains("Expand"),
      s"approx profile must not Expand the input:\n$approxPlan")
  }

  test("event analytics: user/type-keyed joins only — no cartesian; stats broadcast") {
    val ev = Tables.events(spark, dir)
    val fPlan = graft.ops.EventAnalytics.funnel(ev, "user_id", "ts",
        "event_type", Seq("signup", "click", "purchase"), 48)
      .queryExecution.executedPlan.toString
    assert(!fPlan.contains("CartesianProduct") &&
           !fPlan.contains("BroadcastNestedLoopJoin") &&
           !fPlan.contains("Window"),
      s"funnel must be keyed joins + conditional-min aggs:\n$fPlan")
    val aPlan = graft.ops.EventAnalytics.anomalyScores(ev, "event_type",
        "value", "event_id").queryExecution.executedPlan.toString
    assert(aPlan.contains("BroadcastHashJoin"),
      s"slice sufficient-stats join must broadcast:\n$aPlan")
    assert(!aPlan.contains("Window") && !aPlan.contains("CartesianProduct"),
      aPlan)
    val tPlan = graft.ops.EventAnalytics.transitionMatrix(ev, "user_id",
        "ts", "event_type", "event_id").queryExecution.executedPlan.toString
    assert(!tPlan.contains("CartesianProduct") &&
           !tPlan.contains("BroadcastNestedLoopJoin"), tPlan)
  }

  test("x128 strict packing: ONE shard shuffle, no corpus sort/window; state broadcasts") {
    val docs = Tables.documents(spark, dir)
    val chunks = graft.ops.Chunking.chunk(docs, "doc_id", "text",
      chunkTokens = 50, overlap = 10, keepCols = Seq("source"))
    val plan = graft.ops.Chunking.packChunksStrict(chunks, "source",
        "n_chunk_tokens", 256, Seq("doc_id", "chunk_idx"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoop"), plan)
    // next-fit's sequential pass lives INSIDE the per-shard array fold —
    // never a corpus window, never a global sort
    assert(!plan.contains("Window"), s"corpus window in packing plan:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort in packing plan:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1,
      s"strict packing must shuffle ONCE, on the shard key (got $shuffles):\n$plan")
    // the resumed fold's carried state is shards × (fill, bin) — it must
    // broadcast onto the batch fold, never sort-merge the corpus side
    val f1 = graft.ops.Chunking.packChunksStrictFold(chunks, "source",
      "n_chunk_tokens", 256, Seq("doc_id", "chunk_idx"))
    val rplan = graft.ops.Chunking.packChunksStrictFold(chunks, "source",
        "n_chunk_tokens", 256, Seq("doc_id", "chunk_idx"),
        state = graft.ops.Chunking.packFoldState(f1, "source"))
      .queryExecution.executedPlan.toString
    assert(rplan.contains("BroadcastHashJoin") &&
           !rplan.contains("SortMergeJoin"),
      s"carried pack state must broadcast onto the shard fold:\n$rplan")
  }

  test("x129 epoch shuffle: ONE shard shuffle, per-shard rank, no global sort") {
    val plan = graft.ops.Chunking.epochShuffle(
        Tables.documents(spark, dir).select("doc_id"), "doc_id",
        epoch = 1, nShards = 8)
      .queryExecution.executedPlan.toString
    // the permutation is realized as (shard, pos) coordinates: one hash
    // shuffle on the md5 shard key and a rank window INSIDE each shard —
    // never a corpus-wide rangepartitioned sort
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort in the epoch-shuffle plan:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1,
      s"epoch shuffle must shuffle ONCE, on the shard key (got $shuffles):\n$plan")
    assert(plan.contains("Window") && plan.contains("row_number"),
      s"per-shard rank window missing:\n$plan")
  }

  test("x131/x132 mixture plans: group-sized plan broadcasts, never a sort-merge join") {
    val docs = Tables.documents(spark, dir)
    val stats = graft.ops.Chunking.mixtureStats(docs, "lang", "n_chars")
    val weights = Map("en" -> 500, "zh" -> 200, "de" -> 150, "fr" -> 150)
    for (plan <- Seq(
        graft.ops.Chunking.mixturePlanFromStats(stats, "lang", weights, 40000L),
        graft.ops.Chunking.epochPlanFromStats(stats, "lang", weights, 150000L))) {
      val p = graft.ops.Chunking.applyMixturePlan(docs, plan, "lang", "doc_id")
        .queryExecution.executedPlan.toString
      // the corpus is scored by a broadcast of the group-sized plan —
      // the corpus side is never shuffled to meet it
      assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
        s"mixture plan must broadcast onto the corpus:\n$p")
      assert(!p.contains("CartesianProduct") &&
             !p.contains("BroadcastNestedLoop"), p)
      // exactly ONE hash shuffle: the stats aggregate (the weight table
      // joins broadcast; the keep predicate is per-row)
      val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(shuffles <= 1,
        s"scoring must add no shuffle beyond the stats aggregate:\n$p")
    }
  }

  test("x130 leakage-safe split: assignment adds NO shuffle beyond components") {
    val docs = Tables.documents(spark, dir)
    val pairs = graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      "lang", 3, 0.5).select("a_id", "b_id")
    val comps = graft.ops.Dedup.connectedComponents(
      docs.select("doc_id"), "doc_id", pairs)
    def exchanges(p: String): Int = "Exchange ".r.findAllIn(p).size
    val base = exchanges(comps.queryExecution.executedPlan.toString)
    val split = graft.ops.Dedup.leakageSafeSplit(comps)
      .queryExecution.executedPlan.toString
    // the split is a per-row codegen'd md5 expression over the cluster
    // frame — component-finding already paid every shuffle there is
    assert(exchanges(split) == base,
      s"split added a shuffle beyond component-finding:\n$split")
    assert(!split.contains("CartesianProduct") &&
           !split.contains("BroadcastNestedLoop"), split)
    graft.ops.Caches.releaseAll()
  }

  test("x134 encode-to-ids: pure per-row plan — zero shuffles, no join, no UDF") {
    val docs = Tables.documents(spark, dir)
    val p = docs.select(col("doc_id"),
        graft.functions.TextExpressions.bpeEncodeIdsNative(col("text")).as("ids"))
      .queryExecution.executedPlan.toString
    // the merge table and vocab ride the native expression (broadcast
    // model): encoding is scan → project, partitioning inherits the input's
    assert(!p.contains("Exchange"), s"encode must not shuffle:\n$p")
    assert(!p.contains("Join"), s"encode must not join (broadcast model):\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"encode must stay codegen-friendly, no UDF:\n$p")
  }

  test("x135 CDC containment pairs: chunk_hash-keyed joins only, never all-pairs") {
    val docs = Tables.documents(spark, dir)
    val p = graft.ops.Dedup.cdcContainmentPairs(
        graft.ops.Chunking.contentDefinedChunks(docs, "doc_id", "text"),
        "doc_id")
      .queryExecution.executedPlan.toString
    // the self-join buckets on chunk_hash (equality key) and the mass
    // joins key on doc id — no plan node may degenerate to all-pairs
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoop"),
      s"CDC pair path must never go all-pairs:\n$p")
    assert(p.contains("chunk_hash"),
      s"self-join must key on chunk_hash:\n$p")
  }

  test("x138 drift attribution: top-K is TakeOrdered; corpus work is combinable counts") {
    val docs = Tables.documents(spark, dir)
    val drift = graft.ops.LangModel.tokenDriftMovers(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0), "text", topK = 50)
    val p = drift.queryExecution.executedPlan.toString
    // top-K must never be a global sort of the vocab
    assert(p.contains("TakeOrderedAndProject"),
      s"drift top-K must be TakeOrdered, not a full sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
    // the corpus-sized aggregation (token counts) must combine map-side
    val stats = graft.ops.LangModel.tokenStats(docs, "text")
      .queryExecution.executedPlan.toString
    assert(stats.contains("partial_count") || stats.contains("partial count"),
      s"token counts must map-side combine:\n$stats")
    graft.ops.Caches.releaseAll()
  }

  test("x139 margin scores: top-2 is an aggregate (no per-doc window), model broadcasts") {
    val docs = Tables.documents(spark, dir)
    val m = graft.ops.Classify.trainNaiveBayes(
      docs.filter(col("doc_id") % 5 =!= 0), "lang", "text")
    val p = graft.ops.Classify.nbMarginScores(m,
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "lang", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"the top-2 must come from one combinable aggregate, not a window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the word-count model must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no corpus-sized shuffle joins in the scoring path:\n$p")
  }

  test("x141 winnowing: per-row fingerprints, fp-keyed pair join — never all-pairs") {
    val docs = Tables.documents(spark, dir)
    val fp = graft.ops.Dedup.winnowingFingerprints(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // fingerprinting is scan -> per-row HOFs -> one doc-keyed distinct
    assert(!fp.contains("Join"), s"fingerprinting must not join:\n$fp")
    assert(!fp.contains("BatchEvalPython") && !fp.contains("ScalaUDF"),
      s"fingerprinting must stay codegen-friendly, no UDF:\n$fp")
    val p = graft.ops.Dedup.winnowingOverlapPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoop"),
      s"the overlap join must bucket on the fingerprint, never all-pairs:\n$p")
    assert(p.contains("fp"), s"self-join must key on fp:\n$p")
    graft.ops.Caches.releaseAll()
  }

  test("x142 salience: slice-keyed window (never a global sort), combinable counts") {
    val docs = Tables.documents(spark, dir)
    val p = graft.ops.TextStats.tfidfSalience(docs, "doc_id", "source", "text")
      .queryExecution.executedPlan.toString
    // the rank partitions by the slice — a Window with an empty
    // partition spec would single-partition the corpus
    assert(p.contains("windowspecdefinition(__grp"),
      s"the rank must partition by the slice:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
    assert(p.contains("partial_count"),
      s"tf/df counts must map-side combine:\n$p")
    graft.ops.Caches.releaseAll()
  }

  test("x143 cross-source matrix: attribution joins key on ids, tail is pair-sized") {
    val docs = Tables.documents(spark, dir)
    val p = graft.ops.Dedup.crossSliceDuplication(docs, "doc_id", "text",
        "lang", "source")
      .queryExecution.executedPlan.toString
    // the matrix tail must stay keyed: id-keyed attribution joins +
    // cell-keyed aggregates, nothing all-pairs beyond the gram buckets
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoop"),
      s"the matrix path must never go all-pairs:\n$p")
    graft.ops.Caches.releaseAll()
  }

  test("x140 fertility: ONE lang-keyed combine — no join, no UDF, one exchange") {
    val docs = Tables.documents(spark, dir)
    val p = graft.ops.Bpe.fertilityReport(docs, "lang", "text")
      .queryExecution.executedPlan.toString
    // exactly one hash exchange (the lang-keyed combine); the only other
    // allowed exchange is the rangepartitioning of the languages-sized
    // ordered output
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"fertility is one aggregation: expected 1 hash exchange, got $hashEx:\n$p")
    assert(p.contains("partial_count"),
      s"the corpus pass must combine map-side:\n$p")
    assert(!p.contains("Join"), s"the merge table rides the plan, no join:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"the encode must stay codegen-friendly, no UDF:\n$p")
  }

  test("x149 LSH matrix: banded pair step + keyed tail — never all-pairs") {
    val docs = Tables.documents(spark, dir)
    val cands = graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, nHashes = 64, bands = 16, threshold = 0.35)
    val verified = graft.ops.Dedup.verifyPairsJaccard(docs, "doc_id", "text",
      "lang", cands.select("a_id", "b_id"), 3, 0.5)
    val p = graft.ops.Dedup.crossSliceMatrixFromPairs(docs, verified,
        "doc_id", "source")
      .queryExecution.executedPlan.toString
    // the whole production chain — banding, verify, attribution,
    // cell aggregates — shuffles on keys (band_hash, ids, cells);
    // nothing may fall back to an all-pairs physical join
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoop"),
      s"the LSH matrix path must never go all-pairs:\n$p")
    graft.ops.Caches.releaseAll()
  }

  test("p08 pack-payload manifest: pack-keyed folds, no UDF, no corpus window") {
    val docs = Tables.documents(spark, dir)
    val chunks = graft.ops.Chunking.contentDefinedChunks(docs, "doc_id",
        "text", windowWords = 4, maskMod = 16, keepCols = Seq("lang"))
      .withColumn("ids",
        graft.functions.TextExpressions.bpeEncodeIdsNative(col("chunk")))
      .withColumn("ids_txt",
        concat_ws(" ", transform(col("ids"), _.cast("string"))))
      .withColumn("n_ids", size(col("ids")))
      .select("doc_id", "chunk_idx", "lang", "n_ids", "ids_txt")
    val p = graft.ops.Export.packPayloadManifest(
        graft.ops.Chunking.packChunksStrict(chunks, "lang", "n_ids",
          capacity = 512, orderCols = Seq("doc_id", "chunk_idx")),
        groupCol = "lang", idsCol = "ids_txt", nIdsCol = "n_ids",
        orderCols = Seq("doc_id", "chunk_idx"))
      .queryExecution.executedPlan.toString
    // the payload/offset folds are codegen'd HOFs over pack-sized
    // groups; the manifest is shard-keyed aggregation — no per-row UDF,
    // no corpus-wide single-partition window, no all-pairs
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"payload assembly must stay codegen-friendly, no UDF:\n$p")
    assert(!p.contains("Window"),
      s"no window anywhere — folds and keyed aggregates only:\n$p")
    assert(!p.contains("CartesianProduct"), s"no all-pairs anywhere:\n$p")
    graft.ops.Caches.releaseAll()
  }

  test("x152 winnowing seek: tree scan prunes to exactly the query fingerprints' buckets") {
    val docs = Tables.documents(spark, dir)
    val tree = Files.createTempDirectory("wn_seek_").toString
    try {
      graft.ops.Dedup.winnowingWriteIndex(
        graft.ops.Dedup.winnowingFingerprints(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text"),
        "doc_id", tree, nBuckets = 64)
      // ONE query doc → few fingerprints → few buckets; the probe scan
      // must read only those bucket dirs
      val qdoc = docs.filter(col("doc_id") === 10)
      val probed = graft.ops.Dedup.winnowingProbeTree(spark, tree, qdoc,
        "doc_id", "text", nBuckets = 64)
      // inspect the UNEXECUTED plan: selectedPartitions prunes lazily,
      // and running first would let AQE collapse an empty result to
      // EmptyRelation, erasing the scan under audit
      val expectBuckets = graft.ops.Dedup
        .winnowingFingerprints(qdoc, "doc_id", "text")
        .select(pmod(col("fp"), lit(64L))).distinct().count()
      def allScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(s.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(allScans)
      }
      val treeScans = allScans(probed.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.mkString.contains("wn_seek_"))
      assert(treeScans.nonEmpty, "no scan over the written tree found")
      treeScans.foreach { sc =>
        assert(sc.partitionFilters.mkString.contains("fpb"),
          s"bucket predicate must become a partition filter:\n${sc.partitionFilters}")
        assert(sc.selectedPartitions.partitionCount <= expectBuckets,
          s"read ${sc.selectedPartitions.partitionCount} bucket dirs for " +
            s"$expectBuckets query-fingerprint buckets")
      }
      graft.ops.Caches.releaseAll()
    } finally graft.util.Fs.deleteTree(java.nio.file.Paths.get(tree))
  }
}
