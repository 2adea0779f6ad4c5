package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the embedding hot path.
  *
  * The higher-order-function formulation (zip_with + aggregate) is correct
  * but evaluates a lambda per element — on an O(n²) pair scan that
  * interpretive overhead dominates. These expressions generate a tight
  * primitive double loop (doGenCode), keeping the whole pair scan inside
  * whole-stage codegen. Accumulation order is the same sequential
  * left-to-right as the lambda version and the DuckDB oracle's list_sum,
  * so results are bit-identical.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product expects array<double> inputs, got ${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) { sum += x.getDouble(i) * y.getDouble(i); i += 1 }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, sum) = (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("sum"))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** All `nBands` random-hyperplane LSH band values of one vector in a
  * SINGLE codegen'd pass: band j's value packs the sign bits of plane
  * dots j·bandBits .. j·bandBits+bandBits−1 ([[VectorFunctions.rhpPlanes]]
  * — md5-derived, deterministic from the shape parameters, baked into the
  * generated code as one flat double[]). The Column-composed version (128
  * separate dot expressions) spent seconds per small batch on expression
  * overhead alone; this is one tight triple loop with the identical
  * sequential IEEE accumulation, so band values — and the x42 oracle's
  * SQL replay — are bit-for-bit unchanged. */
case class RhpBandsExpr(child: Expression, nBands: Int, bandBits: Int, dims: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"rhp_bands expects array<double>, got ${other.simpleString}")
    }

  /** Flat plane matrix: plane p component d at [p * dims + d]. */
  @transient private lazy val flatPlanes: Array[Double] = {
    val ps = VectorFunctions.rhpPlanes(nBands * bandBits, dims)
    val out = new Array[Double](nBands * bandBits * dims)
    var p = 0
    while (p < ps.length) {
      System.arraycopy(ps(p), 0, out, p * dims, dims)
      p += 1
    }
    out
  }

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    require(v.numElements() == dims,
      s"rhp_bands: expected $dims-dim vector, got ${v.numElements()}")
    // Null COMPONENTS fail loudly (ADVICE r6): without this prepass a null
    // element NPEs on GenericArrayData but silently reads 0.0 on
    // UnsafeArrayData — two execution paths, two answers. One O(dims)
    // check per row, outside the nBands*bandBits hot loops.
    var nd = 0
    while (nd < dims) {
      if (v.isNullAt(nd)) throw new IllegalArgumentException(
        s"rhp_bands: null vector component at index $nd")
      nd += 1
    }
    val out = new Array[Long](nBands)
    var j = 0
    while (j < nBands) {
      var bv = 0L
      var b = 0
      while (b < bandBits) {
        val base = (j * bandBits + b) * dims
        var s = 0.0
        var d = 0
        while (d < dims) { s += v.getDouble(d) * flatPlanes(base + d); d += 1 }
        if (s > 0) bv |= 1L << (bandBits - 1 - b)
        b += 1
      }
      out(j) = bv
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val planes = ctx.addReferenceObj("rhpPlanes", flatPlanes, "double[]")
      val (out, j, b, d, s, bv, base) = (ctx.freshName("out"), ctx.freshName("j"),
        ctx.freshName("b"), ctx.freshName("d"), ctx.freshName("s"),
        ctx.freshName("bv"), ctx.freshName("base"))
      s"""
         |if ($a.numElements() != $dims) {
         |  throw new IllegalArgumentException(
         |    "rhp_bands: expected $dims-dim vector, got " + $a.numElements());
         |}
         |for (int $d = 0; $d < $dims; $d++) {
         |  if ($a.isNullAt($d)) {
         |    throw new IllegalArgumentException(
         |      "rhp_bands: null vector component at index " + $d);
         |  }
         |}
         |long[] $out = new long[$nBands];
         |for (int $j = 0; $j < $nBands; $j++) {
         |  long $bv = 0L;
         |  for (int $b = 0; $b < $bandBits; $b++) {
         |    int $base = ($j * $bandBits + $b) * $dims;
         |    double $s = 0.0;
         |    for (int $d = 0; $d < $dims; $d++) {
         |      $s += $a.getDouble($d) * $planes[$base + $d];
         |    }
         |    if ($s > 0) $bv |= 1L << ($bandBits - 1 - $b);
         |  }
         |  $out[$j] = $bv;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ encoding of one vector in a single codegen'd pass: for each of the
  * `m` subspaces, the argmin-L2² centroid index over `nCentroids`
  * candidates (strict-less comparison — ties keep the smaller index, the
  * same choice as the HOF fold and the oracle's ORDER BY dist, k). The
  * flattened codebook (centroid k dim d at [k·dims + d]) is baked into
  * the generated code as one double[]; the HOF twin
  * ([[graft.ops.Similarity.pqEncodeHof]]) evaluates ~m·K·d lambda nodes
  * per row. Identical sequential IEEE accumulation per (subspace,
  * centroid), so codes — and the x51 oracle's SQL replay — are
  * bit-for-bit unchanged. */
case class PqCodesExpr(child: Expression, flatCodebook: Array[Double],
                       nCentroids: Int, m: Int, dims: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(dims % m == 0, s"m=$m must divide dims=$dims")
  require(flatCodebook.length == nCentroids * dims,
    s"codebook length ${flatCodebook.length} != $nCentroids*$dims")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_codes expects array<double>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    require(v.numElements() == dims,
      s"pq_codes: expected $dims-dim vector, got ${v.numElements()}")
    var nd = 0
    while (nd < dims) {
      if (v.isNullAt(nd)) throw new IllegalArgumentException(
        s"pq_codes: null vector component at index $nd")
      nd += 1
    }
    val d = dims / m
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var bestD = Double.MaxValue
      var bestK = -1
      var k = 0
      while (k < nCentroids) {
        val base = k * dims + j * d
        var s = 0.0
        var t = 0
        while (t < d) {
          val diff = v.getDouble(j * d + t) - flatCodebook(base + t)
          s += diff * diff
          t += 1
        }
        if (s < bestD) { bestD = s; bestK = k }
        k += 1
      }
      out(j) = bestK
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cb = ctx.addReferenceObj("pqCodebook", flatCodebook, "double[]")
      val d = dims / m
      val (out, j, k, t, s, diff, bestD, bestK, base) = (ctx.freshName("out"),
        ctx.freshName("j"), ctx.freshName("k"), ctx.freshName("t"),
        ctx.freshName("s"), ctx.freshName("diff"), ctx.freshName("bestD"),
        ctx.freshName("bestK"), ctx.freshName("base"))
      s"""
         |if ($a.numElements() != $dims) {
         |  throw new IllegalArgumentException(
         |    "pq_codes: expected $dims-dim vector, got " + $a.numElements());
         |}
         |for (int $t = 0; $t < $dims; $t++) {
         |  if ($a.isNullAt($t)) {
         |    throw new IllegalArgumentException(
         |      "pq_codes: null vector component at index " + $t);
         |  }
         |}
         |int[] $out = new int[$m];
         |for (int $j = 0; $j < $m; $j++) {
         |  double $bestD = Double.MAX_VALUE;
         |  int $bestK = -1;
         |  for (int $k = 0; $k < $nCentroids; $k++) {
         |    int $base = $k * $dims + $j * $d;
         |    double $s = 0.0;
         |    for (int $t = 0; $t < $d; $t++) {
         |      double $diff = $a.getDouble($j * $d + $t) - $cb[$base + $t];
         |      $s += $diff * $diff;
         |    }
         |    if ($s < $bestD) { $bestD = $s; $bestK = $k; }
         |  }
         |  $out[$j] = $bestK;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Packs int8 quantization codes (array<long>, every value in
  * [-128, 127] — [[graft.ops.Similarity.quantizeInt8]] emits [-127, 127])
  * into BinaryType at 1 byte/component: the real on-disk format behind
  * the compressed-scan path's 4× claim (8 B/long → 1 B/byte before
  * parquet encodings). Out-of-range values and null components fail
  * loudly — silent truncation would corrupt scores. [[Int8UnpackExpr]]
  * is the exact inverse (sign-extending), bit-parity-tested. */
case class Int8PackExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"int8_pack expects array<bigint>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) throw new IllegalArgumentException(
        s"int8_pack: null component at index $i")
      val x = v.getLong(i)
      if (x < -128L || x > 127L) throw new IllegalArgumentException(
        s"int8_pack: value $x at index $i outside byte range")
      out(i) = x.toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val (n, i, x, out) = (ctx.freshName("n"), ctx.freshName("i"),
        ctx.freshName("x"), ctx.freshName("out"))
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "int8_pack: null component at index " + $i);
         |  }
         |  long $x = $a.getLong($i);
         |  if ($x < -128L || $x > 127L) {
         |    throw new IllegalArgumentException(
         |      "int8_pack: value " + $x + " at index " + $i + " outside byte range");
         |  }
         |  $out[$i] = (byte) $x;
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact inverse of [[Int8PackExpr]]: BinaryType → array<long> by Java's
  * sign-extending byte→long widening. */
case class Int8UnpackExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"int8_unpack expects binary, got ${other.simpleString}")
    }

  override protected def nullSafeEval(a: Any): Any = {
    val b = a.asInstanceOf[Array[Byte]]
    val out = new Array[Long](b.length)
    var i = 0
    while (i < b.length) { out(i) = b(i).toLong; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val (i, out) = (ctx.freshName("i"), ctx.freshName("out"))
      s"""
         |long[] $out = new long[$a.length];
         |for (int $i = 0; $i < $a.length; $i++) {
         |  $out[$i] = (long) $a[$i];
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  private val fnName = "graft_dot_product"
  private val bandsFnName = "graft_rhp_bands"
  private val pqFnName = "graft_pq_codes"
  private val packFnName = "graft_int8_pack"
  private val unpackFnName = "graft_int8_unpack"

  /** Idempotently register the expression with a session's function
    * registry (the public extension point; Column(expr) constructors are
    * private[sql] in Spark 4). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = org.apache.spark.sql.catalyst.FunctionIdentifier(fnName)
    if (!registry.functionExists(ident))
      registry.createOrReplaceTempFunction(
        fnName, exprs => DotProductExpr(exprs(0), exprs(1)), "scala_udf")
    val bandsIdent = org.apache.spark.sql.catalyst.FunctionIdentifier(bandsFnName)
    if (!registry.functionExists(bandsIdent))
      registry.createOrReplaceTempFunction(
        bandsFnName, exprs => RhpBandsExpr(exprs(0),
          lit2int(exprs(1)), lit2int(exprs(2)), lit2int(exprs(3))), "scala_udf")
    val pqIdent = org.apache.spark.sql.catalyst.FunctionIdentifier(pqFnName)
    if (!registry.functionExists(pqIdent))
      registry.createOrReplaceTempFunction(
        pqFnName, exprs => PqCodesExpr(exprs(0), lit2doubles(exprs(1)),
          lit2int(exprs(2)), lit2int(exprs(3)), lit2int(exprs(4))), "scala_udf")
    val packIdent = org.apache.spark.sql.catalyst.FunctionIdentifier(packFnName)
    if (!registry.functionExists(packIdent))
      registry.createOrReplaceTempFunction(
        packFnName, exprs => Int8PackExpr(exprs(0)), "scala_udf")
    val unpackIdent = org.apache.spark.sql.catalyst.FunctionIdentifier(unpackFnName)
    if (!registry.functionExists(unpackIdent))
      registry.createOrReplaceTempFunction(
        unpackFnName, exprs => Int8UnpackExpr(exprs(0)), "scala_udf")
  }

  private def lit2int(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"rhp_bands shape parameters must be integer literals, got $other")
  }

  private def lit2doubles(e: Expression): Array[Double] = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: ArrayData,
        ArrayType(DoubleType, _)) => v.toDoubleArray()
    case other => throw new IllegalArgumentException(
      s"pq_codes codebook must be an array<double> literal, got $other")
  }

  /** Codegen'd dot product over two array<double> columns. Registers into
    * the active session on first use. */
  def dotNative(a: Column, b: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(fnName, a.cast("array<double>"), b.cast("array<double>"))
  }

  /** All RHP-LSH band values of `vec` (array<long>, length nBands) in one
    * codegen'd pass — see [[RhpBandsExpr]]. */
  def rhpBandsNative(vec: Column, nBands: Int, bandBits: Int, dims: Int): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(bandsFnName, vec.cast("array<double>"),
      org.apache.spark.sql.functions.lit(nBands),
      org.apache.spark.sql.functions.lit(bandBits),
      org.apache.spark.sql.functions.lit(dims))
  }

  /** Pack int8 codes (array<long> in [-128, 127]) into BinaryType — see
    * [[Int8PackExpr]]. */
  def int8PackNative(codes: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(packFnName, codes)
  }

  /** Sign-extending inverse of [[int8PackNative]]: binary → array<long>. */
  def int8UnpackNative(packed: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(unpackFnName, packed)
  }

  /** All `m` PQ codes of `vec` (array<int>) in one codegen'd pass — see
    * [[PqCodesExpr]]. `flatCodebook` is centroid-major: [k·dims + d]. */
  def pqCodesNative(vec: Column, flatCodebook: Array[Double],
                    nCentroids: Int, m: Int, dims: Int): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(pqFnName, vec.cast("array<double>"),
      org.apache.spark.sql.functions.lit(flatCodebook),
      org.apache.spark.sql.functions.lit(nCentroids),
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(dims))
  }
}
