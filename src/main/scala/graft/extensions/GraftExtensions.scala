package graft.extensions

import graft.functions.DotProductExpr
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Multiply, Sqrt}

/** Session-extension wiring for the engine's native expressions: set
  * `spark.sql.extensions=graft.extensions.GraftExtensions` (or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`) and plain
  * SQL users get the codegen'd vector functions — no Scala API required:
  *
  * {{{
  *   SELECT doc_id FROM embeddings
  *   ORDER BY dot_product(embedding, :q) / (vec_norm(embedding) * vec_norm(:q)) DESC
  *   LIMIT 10
  * }}}
  *
  * `injectFunction` registers into every session built with the
  * extension (builtin-registry level, visible to `spark.sql`,
  * `CREATE VIEW`, thriftserver clients), unlike the per-session
  * temp-function fallback in [[graft.functions.VectorExpressions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // full-cache joins broadcast by semantic guarantee, not by statistics
    // (see the rule's scaladoc for the 100 TB rationale)
    ext.injectOptimizerRule(graft.plans.BroadcastFullCacheJoins(_))
    // ...and that broadcast is built once per snapshot load: adaptive plans
    // take the rule as a stage prep rule, non-adaptive ones (stateful
    // micro-batches) before their columnar transitions
    ext.injectQueryStagePrepRule(_ => graft.plans.FullCacheBroadcasts)
    ext.injectColumnar(_ => graft.plans.FullCacheBroadcasts.columnar)
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "dot_product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"dot_product takes 2 arguments, got ${args.length}")
        DotProductExpr(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_norm"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "vec_norm"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"vec_norm takes 1 argument, got ${args.length}")
        Sqrt(DotProductExpr(args.head, args.head))
      }))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"cosine_sim takes 2 arguments, got ${args.length}")
        org.apache.spark.sql.catalyst.expressions.Divide(
          DotProductExpr(args.head, args(1)),
          Multiply(Sqrt(DotProductExpr(args.head, args.head)),
                   Sqrt(DotProductExpr(args(1), args(1)))))
      }))
    // the signature/fingerprint layer, SQL-visible too: shape parameters
    // must be literals (they select the deterministic md5 plane/seed
    // family baked into the expression at plan time)
    def intLit(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
    def boolLit(e: Expression, what: String): Boolean = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be a boolean literal, got $other")
    }
    ext.injectFunction((
      new FunctionIdentifier("rhp_bands"),
      new ExpressionInfo(classOf[graft.functions.RhpBandsExpr].getName, "rhp_bands"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          s"rhp_bands(vec, nBands, bandBits, dims) takes 4 arguments, got ${args.length}")
        graft.functions.RhpBandsExpr(args.head, intLit(args(1), "nBands"),
          intLit(args(2), "bandBits"), intLit(args(3), "dims"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash63"),
      new ExpressionInfo(classOf[graft.functions.Simhash63Expr].getName, "simhash63"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"simhash63 takes 1 argument, got ${args.length}")
        graft.functions.Simhash63Expr(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("bpe_token_count"),
      new ExpressionInfo(classOf[graft.functions.BpeTokenCountExpr].getName, "bpe_token_count"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"bpe_token_count takes 1 argument, got ${args.length}")
        graft.functions.BpeTokenCountExpr(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("bpe_encode_ids"),
      new ExpressionInfo(classOf[graft.functions.BpeEncodeIdsExpr].getName, "bpe_encode_ids"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"bpe_encode_ids takes 1 argument, got ${args.length}")
        graft.functions.BpeEncodeIdsExpr(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[graft.functions.MinhashSigExpr].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"minhash_sig(grams, nHashes, portable) takes 3 arguments, got ${args.length}")
        graft.functions.MinhashSigExpr(args.head, intLit(args(1), "nHashes"),
          boolLit(args(2), "portable"))
      }))
    // PQ codes: the codebook arrives as a constant SQL array — any
    // FOLDABLE array<double> expression works (SQL `array(0.1, ...)`
    // parses as decimals, so write CAST(array(...) AS ARRAY<DOUBLE>))
    def doublesLit(e: Expression, what: String): Array[Double] = e match {
      case f if f.foldable => (f.dataType match {
        case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, _) =>
          f.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        case other => throw new IllegalArgumentException(
          s"$what must be ARRAY<DOUBLE>, got ${other.simpleString}")
      }).toDoubleArray()
      case other => throw new IllegalArgumentException(
        s"$what must be a constant array, got $other")
    }
    ext.injectFunction((
      new FunctionIdentifier("pq_codes"),
      new ExpressionInfo(classOf[graft.functions.PqCodesExpr].getName, "pq_codes"),
      (args: Seq[Expression]) => {
        require(args.length == 5,
          s"pq_codes(vec, flatCodebook, nCentroids, m, dims) takes 5 arguments, got ${args.length}")
        graft.functions.PqCodesExpr(args.head,
          doublesLit(args(1), "flatCodebook"),
          intLit(args(2), "nCentroids"), intLit(args(3), "m"),
          intLit(args(4), "dims"))
      }))
  }
}
