package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSession

/**
 * Native codegen'd cosine similarity over two numeric arrays (float or
 * double elements; the vector-similarity kernel behind the reference's
 * k-NN surface, README.md:72,116) — one fused loop computes the dot product and both
 * norms, so the hot path stays inside whole-stage codegen with zero
 * intermediate array allocations.
 *
 * Replaces the `zip_with`+`aggregate` higher-order-function formulation
 * ([[graft.functions.Vec]]), which Spark evaluates interpreted: on the
 * sf0.1 embedding near-dup query (2M pairs × 64 dims) the HOF version
 * spent 85 s; this expression is the 100 TB-posture fix.
 *
 * Semantics are kept bit-identical to the HOF version (and to the DuckDB
 * oracle's `list_dot_product(a::DOUBLE[], b::DOUBLE[])` formulation):
 * elements widen float→double before any arithmetic, accumulation is
 * sequential, result = dot/(sqrt(na)*sqrt(nb)), NULL on NULL input, NULL
 * element, length mismatch, or zero norm.
 */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine_sim expects array<float|double> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val (lf, rf) = (isFloat(left), isFloat(right))
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) null else java.lang.Double.valueOf(dot / den)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i   = ctx.freshName("i")
      val n   = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na  = ctx.freshName("na")
      val nb  = ctx.freshName("nb")
      val xv  = ctx.freshName("xv")
      val yv  = ctx.freshName("yv")
      val den = ctx.freshName("den")
      def get(arr: String, idx: String, float: Boolean): String =
        if (float) s"(double) $arr.getFloat($idx)" else s"$arr.getDouble($idx)"
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $xv = ${get(a, i, isFloat(left))};
         |    final double $yv = ${get(b, i, isFloat(right))};
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    final double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    if ($den == 0.0) { ${ev.isNull} = true; }
         |    else { ${ev.value} = $dot / $den; }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Session registration for graft's native expressions (the
  * `SparkSessionExtensions.injectFunction` shape, callable directly too). */
object GraftExpressions {

  val cosineSim: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine_sim"),
    (children: Seq[Expression]) => CosineSimilarity(children.head, children(1)))

  val shingles: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_shingles"),
    new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
    (children: Seq[Expression]) => {
      val n = children(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"graft_shingles(tokens, n): n must be an integer literal, got $other")
      }
      WordShingles(children.head, n)
    })

  val simhash64: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_simhash64"),
    new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
    (children: Seq[Expression]) => SimHash64(children.head))

  val minhash: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_minhash"),
    new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
    (children: Seq[Expression]) => {
      def intLit(e: Expression, what: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"graft_minhash(tokens, n, numHashes): $what must be an integer literal, got $other")
      }
      MinHashSig(children.head, intLit(children(1), "n"), intLit(children(2), "numHashes"))
    })

  val lshSig: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_lsh_sig"),
    new ExpressionInfo(classOf[LshSig].getName, "graft_lsh_sig"),
    (children: Seq[Expression]) => {
      def intLit(e: Expression, what: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"graft_lsh_sig(vec, bits, table): $what must be an integer literal, got $other")
      }
      LshSig(children.head, intLit(children(1), "bits"), intLit(children(2), "table"))
    })

  val lshSigSha: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_lsh_sig_sha"),
    new ExpressionInfo(classOf[LshSigSha].getName, "graft_lsh_sig_sha"),
    (children: Seq[Expression]) => {
      def intLit(e: Expression, what: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"graft_lsh_sig_sha(vec, bits, table): $what must be an integer literal, got $other")
      }
      LshSigSha(children.head, intLit(children(1), "bits"), intLit(children(2), "table"))
    })

  val minhashSha: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_minhash_sha"),
    new ExpressionInfo(classOf[MinHashShaSig].getName, "graft_minhash_sha"),
    (children: Seq[Expression]) => {
      def intLit(e: Expression, what: String): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"graft_minhash_sha(tokens, n, numHashes): $what must be an integer literal, got $other")
      }
      MinHashShaSig(children.head, intLit(children(1), "n"), intLit(children(2), "numHashes"))
    })

  val simhashSha: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_simhash_sha"),
    new ExpressionInfo(classOf[SimHashSha].getName, "graft_simhash_sha"),
    (children: Seq[Expression]) => SimHashSha(children.head))

  val vectorSum: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_vector_sum"),
    new ExpressionInfo(classOf[VectorSum].getName, "graft_vector_sum"),
    (children: Seq[Expression]) => VectorSum(children.head))

  val nfc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_nfc"),
    new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
    (children: Seq[Expression]) => NfcNormalize(children.head))

  /** Decode a foldable array<array<float|double>> child into the centroid
    * matrix the nearest-centroid kernels carry as a constructor param. */
  private def matrixFromExpr(e: Expression, fn: String): Seq[Seq[Double]] = {
    require(e.foldable, s"$fn: the centroid matrix must be a literal (foldable)")
    val et = e.dataType match {
      case ArrayType(ArrayType(t @ (FloatType | DoubleType), _), _) => t
      case other => throw new IllegalArgumentException(
        s"$fn: centroid matrix must be array<array<float|double>>, got ${other.catalogString}")
    }
    val ad = e.eval().asInstanceOf[ArrayData]
    (0 until ad.numElements()).map { i =>
      val row = ad.getArray(i)
      (0 until row.numElements()).map { j =>
        if (et == FloatType) row.getFloat(j).toDouble else row.getDouble(j)
      }
    }
  }

  val nearestCentroid: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_nearest_centroid"),
    new ExpressionInfo(classOf[NearestCentroid].getName, "graft_nearest_centroid"),
    (children: Seq[Expression]) => NearestCentroid(children.head,
      matrixFromExpr(children(1), "graft_nearest_centroid")))

  val ringOwner: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_ring_owner"),
    new ExpressionInfo(classOf[RingOwner].getName, "graft_ring_owner"),
    (children: Seq[Expression]) => {
      def arr(e: Expression, what: String): ArrayData = {
        require(e.foldable, s"graft_ring_owner: $what must be a literal (foldable)")
        e.eval().asInstanceOf[ArrayData]
      }
      val pts = children(1).dataType match {
        case ArrayType(LongType, _) =>
          val ad = arr(children(1), "ring points")
          (0 until ad.numElements()).map(ad.getLong)
        case other => throw new IllegalArgumentException(
          s"graft_ring_owner: ring points must be array<bigint>, got ${other.catalogString}")
      }
      val owners = children(2).dataType match {
        case ArrayType(StringType, _) =>
          val ad = arr(children(2), "ring owners")
          (0 until ad.numElements()).map(i => ad.getUTF8String(i).toString)
        case other => throw new IllegalArgumentException(
          s"graft_ring_owner: ring owners must be array<string>, got ${other.catalogString}")
      }
      RingOwner(children.head, pts, owners)
    })

  val nearestCentroids: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_nearest_centroids"),
    new ExpressionInfo(classOf[NearestCentroids].getName, "graft_nearest_centroids"),
    (children: Seq[Expression]) => {
      val n = children(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"graft_nearest_centroids(vec, centroids, n): n must be an integer literal, got $other")
      }
      NearestCentroids(children.head,
        matrixFromExpr(children(1), "graft_nearest_centroids"), n)
    })

  /** Foldable array<array<array<float|double>>> literal → PQ codebook. */
  private def cubeFromExpr(e: Expression, fn: String): Seq[Seq[Seq[Double]]] = {
    require(e.foldable, s"$fn: the codebook must be a literal (foldable)")
    val et = e.dataType match {
      case ArrayType(ArrayType(ArrayType(t @ (FloatType | DoubleType), _), _), _) => t
      case other => throw new IllegalArgumentException(
        s"$fn: codebook must be array<array<array<float|double>>>, got ${other.catalogString}")
    }
    val ad = e.eval().asInstanceOf[ArrayData]
    // ArrayData.getDouble on a null slot silently returns garbage (0.0) —
    // a NULL anywhere in the literal would corrupt the codebook without
    // an error, so reject explicitly at analysis
    def noNull(cond: Boolean, where: String): Unit =
      if (cond) throw new IllegalArgumentException(
        s"$fn: codebook must not contain NULLs (found at $where)")
    noNull(ad == null, "root")
    (0 until ad.numElements()).map { s =>
      noNull(ad.isNullAt(s), s"subspace $s")
      val sub = ad.getArray(s)
      (0 until sub.numElements()).map { c =>
        noNull(sub.isNullAt(c), s"subspace $s centroid $c")
        val row = sub.getArray(c)
        (0 until row.numElements()).map { d =>
          noNull(row.isNullAt(d), s"subspace $s centroid $c dim $d")
          if (et == FloatType) row.getFloat(d).toDouble else row.getDouble(d)
        }
      }
    }
  }

  val pqEncode: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_pq_encode"),
    new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
    (children: Seq[Expression]) => PqEncode(children.head,
      cubeFromExpr(children(1), "graft_pq_encode")))

  /** Spark's own runtime-filter predicate
    * (`BloomFilterMightContain(filterBinary, xxhash64Value)`), registered
    * so DataFrame code can apply a driver-built bloom filter as a foldable
    * binary literal — the same scan-side pruning shape
    * `InjectRuntimeFilter` plans, but against a PERSISTED filter (see
    * [[graft.operators.Bloom]]). Not a graft kernel: reusing the built-in
    * beats reimplementing it. */
  val bloomMightContain: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bloom_might_contain"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
      "graft_bloom_might_contain"),
    (children: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        children.head, children(1)))

  val jaroWinkler: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_jaro_winkler"),
    new ExpressionInfo(classOf[JaroWinkler].getName, "graft_jaro_winkler"),
    (children: Seq[Expression]) => JaroWinkler(children.head, children(1)))

  /** Every graft native expression, in `injectFunction` tuple shape —
    * shared by [[register]] and [[graft.GraftSparkExtensions]]. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(cosineSim, shingles, simhash64, minhash, lshSig, lshSigSha,
        minhashSha, simhashSha, vectorSum, nearestCentroid, nearestCentroids,
        pqEncode, bloomMightContain, nfc, jaroWinkler, ringOwner)

  /** Idempotently register on a session's function registry. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
