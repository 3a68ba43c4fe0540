package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector-similarity hot path.
  *
  * The built-in route (`aggregate(zip_with(...))`) evaluates an
  * interpreted lambda per element — ~140× slower than DuckDB's
  * vectorized kernel on the all-pairs cosine benchmark. This expression
  * compiles to a tight primitive loop inside whole-stage codegen (no
  * boxing, no lambda dispatch), which is the idiomatic Spark answer
  * when built-ins can't express the kernel efficiently.
  *
  * Accumulation order is ascending element index, identical to the
  * `aggregate` fold and to the SQL oracle's `list_sum(list_transform)`
  * — results are bit-for-bit unchanged.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"vec_dot expects array<float|double>, got $other")
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<float|double> args, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val getA = if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = $a.numElements() < $b.numElements() ? $a.numElements() : $b.numElements();
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $getA * $getB;
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** All `numPlanes` random-hyperplane sign bits of an embedding in ONE
  * sweep: bit j of the result = (dot(v, plane(planeOffset + j)) > 0).
  *
  * Plane values are derived arithmetically in the inner loop —
  * plane(i)[d] = (((i·1009 + d)·2654435761) mod 1000) / 500 − 1 — so
  * the dimension comes from the data (no hardcoded dim) and no plane
  * matrix is materialized. Each array element is loaded once and
  * multiplied into all plane accumulators (d-major), which preserves
  * the per-plane ascending-d accumulation order of the one-vec_dot-
  * per-plane formulation it replaces: signatures are bit-for-bit
  * identical, at 1/numPlanes the loop and null-check overhead and with
  * far better locality. Multi-table LSH slices per-table buckets out of
  * one wide signature with shift/mask instead of hashing per table.
  */
case class HyperplaneSignature(child: Expression, numPlanes: Int, planeOffset: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(numPlanes >= 1 && numPlanes <= 64, s"numPlanes must be in [1,64], got $numPlanes")

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hyperplane_sig expects array<float|double>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val isFloat = elemIsFloat
    val acc = new Array[Double](numPlanes)
    var d = 0
    while (d < n) {
      val v = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
      var j = 0
      while (j < numPlanes) {
        acc(j) += v * HyperplaneSignature.planeValue(planeOffset + j, d)
        j += 1
      }
      d += 1
    }
    var sig = 0L
    var j = 0
    while (j < numPlanes) {
      if (acc(j) > 0.0) sig |= 1L << j
      j += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val acc = ctx.addMutableState("double[]", "hsigAcc",
        v => s"$v = new double[$numPlanes];")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val j = ctx.freshName("j")
      val v = ctx.freshName("v")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      val getV = if (elemIsFloat) s"(double) $arr.getFloat($d)" else s"$arr.getDouble($d)"
      s"""
         |java.util.Arrays.fill($acc, 0.0);
         |int $n = $arr.numElements();
         |for (int $d = 0; $d < $n; $d++) {
         |  double $v = $getV;
         |  for (int $j = 0; $j < $numPlanes; $j++) {
         |    long $h = (($planeOffset + (long) $j) * 1009L + $d) * 2654435761L % 1000L;
         |    $acc[$j] += $v * ($h / 500.0 - 1.0);
         |  }
         |}
         |long $sig = 0L;
         |for (int $j = 0; $j < $numPlanes; $j++) {
         |  if ($acc[$j] > 0.0) $sig |= 1L << $j;
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneSignature {
  /** The single authoritative plane derivation — plane(i)[d]. The
    * interpreted eval above and every driver-side consumer
    * (ScaleProbe's skewed-bucket staging pins hot rows to a bucket
    * with it) call THIS, so a formula change cannot silently diverge
    * from a private copy. `doGenCode` inlines the same arithmetic as
    * Java source 20 lines up — the one remaining mirror, guarded by
    * the interpreted-vs-codegen equality specs.
    */
  def planeValue(plane: Int, d: Int): Double =
    (plane.toLong * 1009L + d) * 2654435761L % 1000L / 500.0 - 1.0
}

object GraftFunctions {
  /** dot(a, b) over array<float|double> columns — codegen'd. */
  def vec_dot(a: Column, b: Column): Column =
    ColumnShim.column(VectorDot(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  /** L2 norm — sqrt of the self dot product. */
  def vec_norm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(vec_dot(a, a))

  /** numPlanes random-hyperplane sign bits in one codegen'd sweep —
    * the LSH signature kernel (dim inferred from the array).
    */
  def hyperplane_sig(v: Column, numPlanes: Int, planeOffset: Int = 0): Column =
    ColumnShim.column(HyperplaneSignature(
      ColumnShim.expression(v), numPlanes, planeOffset))

  /** space-joined word n-gram shingles of a text column in one fused
    * codegen'd pass (tokenize + window + optional dedup) — see
    * [[WordShingles]] for why the composable HOF route is pathological.
    * `distinct = true` is the shingle-set shape; `false` keeps every
    * occurrence for frequency counting.
    */
  def word_shingles(text: Column, n: Int = 3, distinct: Boolean = true): Column =
    ColumnShim.column(WordShingles(ColumnShim.expression(text), n, distinct))

  /** consecutive fixed-token-window chunks of a text column (last one
    * partial), space-joined — the context-window packing primitive.
    */
  def word_chunks(text: Column, chunkTokens: Int): Column =
    ColumnShim.column(WordChunks(ColumnShim.expression(text), chunkTokens))

  /** one row per (arr[i], arr[j]) pair with i < j — lazy candidate-pair
    * expansion for bucketed dedup.
    */
  def pair_explode(arr: Column): Column =
    ColumnShim.column(PairExplode(ColumnShim.expression(arr)))

  /** per-document (term, tf) pairs in one fused pass — the shuffle-free
    * tf half of tf-idf.
    */
  def word_term_freqs(text: Column): Column =
    ColumnShim.column(WordTermFreqs(ColumnShim.expression(text)))

  /** count of sorted-array elements in [lo, hi] — two binary searches,
    * codegen'd; the broadcast-range-join kernel.
    */
  def sorted_count_between(sortedArr: Column, lo: Column, hi: Column): Column =
    ColumnShim.column(SortedCountBetween(
      ColumnShim.expression(sortedArr), ColumnShim.expression(lo),
      ColumnShim.expression(hi)))

  /** |a ∩ b| of two sorted arrays (set semantics) — one allocation-free
    * codegen'd merge; the adjacency-intersection kernel that replaces
    * `size(array_intersect(...))` in the triangle/support hot paths.
    */
  def sorted_intersect_count(a: Column, b: Column): Column =
    ColumnShim.column(SortedIntersectCount(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  /** whole-matrix covariance grid aggregate over an embedding column —
    * one narrow pass, exact 128-bit integer state, emits the upper
    * triangle as array<struct<i,j,cov>> (see [[CovGrid]]).
    */
  def cov_grid(v: Column): Column =
    ColumnShim.column(CovGrid(ColumnShim.expression(v)).toAggregateExpression())

  /** Jaro-Winkler similarity between two string columns — the ER
    * verifier kernel, byte-exact with the oracle engine's function
    * (see [[JaroWinkler]]).
    */
  def jaro_winkler(a: Column, b: Column): Column =
    ColumnShim.column(JaroWinkler(
      ColumnShim.expression(a), ColumnShim.expression(b)))

  /** count-min sketch aggregate over a string column — fixed
    * depth×width counter matrix as array<bigint> (see [[CmsSketch]]).
    */
  def cms_sketch(value: Column, depth: Int = 4, width: Int = 512): Column =
    ColumnShim.column(
      CmsSketch(ColumnShim.expression(value), depth, width).toAggregateExpression())

  /** point estimate from a [[cms_sketch]] matrix for a key; geometry
    * (depth, width) must match the sketch that built it.
    */
  def cms_query(sketch: Column, key: Column, depth: Int = 4, width: Int = 512): Column =
    ColumnShim.column(CmsQuery(
      ColumnShim.expression(sketch), ColumnShim.expression(key), depth, width))

  /** Spark's native Bloom-filter aggregate (the runtime-filter
    * join-pruning sketch), exposed as a typed Column — the SQL
    * function name is not in the public registry, only the expression.
    */
  def bloom_agg(value: Column, estimatedItems: Long, numBits: Long): Column =
    ColumnShim.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        ColumnShim.expression(value),
        org.apache.spark.sql.catalyst.expressions.Literal(estimatedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())

  /** membership probe against a [[bloom_agg]] filter (never a false
    * negative; false positives at the configured rate).
    */
  def bloom_might_contain(bloom: Column, value: Column): Column =
    ColumnShim.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ColumnShim.expression(bloom), ColumnShim.expression(value)))

  /** Unicode normalization (NFC/NFD/NFKC/NFKD), codegen'd with an
    * ASCII fast path — see [[UnicodeNormalize]].
    */
  def unicode_normalize(text: Column, form: String = "NFC"): Column =
    ColumnShim.column(UnicodeNormalize(ColumnShim.expression(text), form))

  /** exact bounded top-k per group (score desc, id asc) — the
    * map-side-combining replacement for a `row_number` window; emits
    * `array<struct<score,id>>` in rank order (see [[TopKAgg]]).
    */
  def top_k_agg(score: Column, id: Column, k: Int): Column =
    ColumnShim.column(TopKAgg(
      ColumnShim.expression(score), ColumnShim.expression(id), k)
      .toAggregateExpression())

  /** merge of pre-built [[top_k_agg]] sketch arrays — one input row per
    * sketch instead of one per element; see [[TopKMergeAgg]].
    */
  def top_k_merge_agg(sketch: Column, k: Int): Column =
    ColumnShim.column(TopKMergeAgg(ColumnShim.expression(sketch), k)
      .toAggregateExpression())

  /** [[top_k_agg]] with string ids (score desc, id asc binary) carrying
    * one opaque LONG payload per entry (never part of the ordering) —
    * the per-document term ranker; see [[TopKStrPayAgg]].
    */
  def top_k_str_pay_agg(score: Column, id: Column, pay: Column,
      k: Int): Column =
    ColumnShim.column(TopKStrPayAgg(
      ColumnShim.expression(score), ColumnShim.expression(id),
      ColumnShim.expression(pay), k)
      .toAggregateExpression())

  /** ≤k Misra–Gries heavy-hitter candidates (superset of every item
    * with frequency > n/(k+1)) — see [[MGCandidates]].
    */
  def mg_candidates(item: Column, k: Int): Column =
    ColumnShim.column(MGCandidates(ColumnShim.expression(item), k)
      .toAggregateExpression())
}
