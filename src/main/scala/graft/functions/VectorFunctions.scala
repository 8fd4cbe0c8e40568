package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Codegen'd dot product of two `array<float>` columns, in DOUBLE.
  *
  * The similarity/dedup operators fold embedding pairs millions of times
  * per query (e.g. `dd_embed_cosine` at sf0.1: 12.5 M pairs x 64 dims);
  * the equivalent higher-order-function pipeline
  * (`aggregate(zip_with(...))`) is interpreted per element — this
  * expression compiles to a tight Java loop inside whole-stage codegen
  * instead (~20x less per-pair overhead).
  *
  * Semantics are EXACTLY the HOF fold it replaces (and the DuckDB
  * oracle's `list_reduce`): cast each float to double, multiply, add
  * left-to-right from 0.0 — bit-identical IEEE sequence, so swapping it
  * in changes nothing in the correctness gate.
  *
  * Nulls: null if either array is null; arrays are assumed element-
  * complete (embeddings are dense); length mismatch folds the common
  * prefix, matching `zip_with`'s null-padding + `+` null-absorption is
  * NOT mirrored — keep inputs equal-length (they are: fixed-dim vectors).
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<float>, array<float>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftVec.dotFold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd intersection count of two SORTED DISTINCT `array<bigint>`
  * columns — the hot inner loop of pairwise set-similarity (Jaccard).
  *
  * A two-pointer merge: O(|a|+|b|), zero allocation, inside whole-stage
  * codegen. Equals `len(list_intersect(a, b))` in DuckDB (count of common
  * distinct elements) as long as both inputs are sorted ascending with no
  * duplicates — which the call sites guarantee via
  * `array_sort(array_distinct(...))`. Exact integer result, so there is
  * no cross-engine float concern at all.
  */
case class SortedArrayIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_isect expects (array<bigint>, array<bigint>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_isect"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedArrayIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Static kernels behind the vector-quantization expressions. Plain
  * object (static forwarders) so whole-stage codegen can call
  * `graft.functions.GraftVec.argminCell(...)` directly.
  *
  * These exist for SCALE in the model size K: the literal-argmin SQL
  * they replace rendered one `aggregate(zip_with(...))` distance tree
  * PER CENTROID, so the generated Java grew O(K·dim) and a production
  * cell count (K in the thousands) blows Janino's 64 KB method /
  * constant-pool ceilings. Here the codebook is ONE flattened array
  * argument — constant-folded to a single ArrayData the generated code
  * references — and the K·dim loop lives in compiled Scala, so the
  * generated method size is O(1) in K. Same integer arithmetic, same
  * first-minimum tie-break, term for term.
  */
object GraftVec {

  /** Exact integer squared L2 between `x` and centroid `c` (rows of
    * `dim` longs starting at `c * dim` in the flattened codebook) —
    * THE distance of both quantization kernels, defined once.
    */
  private def d2(x: ArrayData, codebook: ArrayData, c: Int,
                 dim: Int): Long = {
    val off = c * dim
    var dist = 0L
    var i = 0
    while (i < dim) {
      val d = x.getLong(i) - codebook.getLong(off + i)
      dist += d * d
      i += 1
    }
    dist
  }

  /** Nearest-centroid assignment against a flattened codebook:
    * `cells(k)` ids (caller passes them sorted ascending) and
    * `codebook` = concat of the K centroids, each `dim = x.length`
    * longs. Distance is the exact integer squared L2 of the quantized
    * vectors — identical to the
    * `aggregate(zip_with(x, c, (p,q) -> (p-q)*(p-q)), 0L, +)` fold the
    * literal form ran per centroid. Strict `<` keeps the FIRST
    * minimum, which over cell-sorted input is the lowest cell id —
    * exactly `array_position(dists, array_min(dists))` on a
    * cell-sorted literal array.
    */
  def argminCell(x: ArrayData, cells: ArrayData, codebook: ArrayData): Long = {
    val dim = x.numElements()
    val k = cells.numElements()
    if (k == 0)
      throw new IllegalArgumentException(
        "graft_argmin_cell: empty cell list (no centroids to assign to)")
    var best = 0
    var bestDist = Long.MaxValue
    var c = 0
    while (c < k) {
      val dist = d2(x, codebook, c, dim)
      if (dist < bestDist) { bestDist = dist; best = c }
      c += 1
    }
    cells.getLong(best)
  }

  /** Per-centroid distance lookup table: element k (0-based) is the
    * exact integer squared L2 between `x` and centroid k of the
    * flattened codebook — the ADC serving LUT, previously K separate
    * literal-array distance trees per query row.
    */
  def distLut(x: ArrayData, codebook: ArrayData): ArrayData = {
    val dim = x.numElements()
    if (dim == 0)
      throw new IllegalArgumentException(
        "graft_dist_lut: empty query vector (centroid count would be " +
          "codebook/0)")
    val k = codebook.numElements() / dim
    val out = new Array[Long](k)
    var c = 0
    while (c < k) {
      out(c) = d2(x, codebook, c, dim)
      c += 1
    }
    new GenericArrayData(out)
  }

  /** THE left-fold dot product (the cross-engine IEEE contract) —
    * shared by [[cosine]] and [[FloatDotProduct]]'s interpreted path.
    * The only other copy is FloatDotProduct's codegen template, which
    * must inline the loop; KernelDifferentialSpec pins all three to
    * the same bit sequence.
    */
  private[functions] def dotFold(a: ArrayData, b: ArrayData): Double = {
    val n = java.lang.Math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Fused raw cosine: the exact IEEE sequence of
    * `graft_dot(a, b) / sqrt(n2a * n2b)` — left-fold dot in double,
    * one multiply, one sqrt, one divide — as a single call, so the
    * pairwise re-score of the banded dedup paths costs one kernel
    * invocation per pair instead of a four-node expression tree.
    * NOT rounded: callers keep `round(..., 6)` outside (it is the
    * cross-engine contract), but can now prefilter on the raw value
    * and pay the BigDecimal rounding only for near-threshold pairs.
    */
  def cosine(a: ArrayData, b: ArrayData, n2a: Double, n2b: Double): Double =
    dotFold(a, b) / java.lang.Math.sqrt(n2a * n2b)
}

/** `graft_argmin_cell(x, cells, codebook)` — see [[GraftVec.argminCell]].
  * The codebook argument is a (large) literal array at every call site;
  * constant folding collapses it to one ArrayData before codegen, so
  * generated-code size is independent of K.
  */
case class ArgminCell(first: Expression, second: Expression,
                      third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(first, second, third).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_argmin_cell expects (array<bigint>, array<bigint>, " +
        s"array<bigint>), got (${first.dataType.sql}, " +
        s"${second.dataType.sql}, ${third.dataType.sql})")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_argmin_cell"

  override protected def nullSafeEval(x: Any, cells: Any,
                                      codebook: Any): Any =
    GraftVec.argminCell(x.asInstanceOf[ArrayData],
      cells.asInstanceOf[ArrayData], codebook.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, cells, cb) =>
      s"${ev.value} = graft.functions.GraftVec.argminCell($x, $cells, $cb);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): ArgminCell =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `graft_dist_lut(x, codebook)` — see [[GraftVec.distLut]]. */
case class DistLut(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dist_lut expects (array<bigint>, array<bigint>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_dist_lut"

  override protected def nullSafeEval(x: Any, codebook: Any): Any =
    GraftVec.distLut(x.asInstanceOf[ArrayData],
      codebook.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (x, cb) => s"graft.functions.GraftVec.distLut($x, $cb)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DistLut =
    copy(left = newLeft, right = newRight)
}

/** `graft_cos(a, b, n2a, n2b)` — see [[GraftVec.cosine]]. */
case class CosineSim(first: Expression, second: Expression,
                     third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val arraysOk = Seq(first, second).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    val normsOk = Seq(third, fourth).forall(_.dataType == DoubleType)
    if (arraysOk && normsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cos expects (array<float>, array<float>, double, double), " +
        s"got (${first.dataType.sql}, ${second.dataType.sql}, " +
        s"${third.dataType.sql}, ${fourth.dataType.sql})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cos"

  override protected def nullSafeEval(a: Any, b: Any, n2a: Any,
                                      n2b: Any): Any =
    GraftVec.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      n2a.asInstanceOf[Double], n2b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, n2a, n2b) =>
      s"${ev.value} = graft.functions.GraftVec.cosine($a, $b, $n2a, $n2b);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression,
      newFourth: Expression): CosineSim =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** The graft SQL function surface, as one builder list. */
object VectorFunctions {
  /** THE canonical (name -> builder) list for every graft SQL function.
    * Both front doors — [[graft.GraftExtensions.attach]] (runtime attach
    * to a session where it enters the library) and
    * [[graft.GraftExtensions]] (session-build injection via
    * `spark.sql.extensions`) — iterate this single list, so the two
    * paths cannot drift apart: a kernel added here is resolvable
    * through either front door.
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (c => FloatDotProduct(c(0), c(1))),
    "graft_isect" -> (c => SortedArrayIntersectCount(c(0), c(1))),
    "graft_argmin_cell" -> (c => ArgminCell(c(0), c(1), c(2))),
    "graft_dist_lut" -> (c => DistLut(c(0), c(1))),
    "graft_cos" -> (c => CosineSim(c(0), c(1), c(2), c(3))),
    "graft_minhash16" -> (c => MinhashSignatures(c(0))),
    "graft_rh_buckets" -> (c => RhLshBuckets(c(0))),
    "graft_rh_buckets_n" -> (c => RhLshBucketsN(c(0), c(1), c(2))),
    "graft_simhash16" -> (c => Simhash16(c(0))),
    "graft_simhash64" -> (c => Simhash64(c(0), c(1))),
    "graft_bloom_contains" -> (c => BloomContains(c(0), c(1))),
    // the build side of graft_bloom_contains (q31, dd_incremental_bloom)
    "graft_bloom_agg" -> org.apache.spark.sql.GraftRegistry
      .aggregate("graft_bloom_agg", org.apache.spark.sql.functions.udaf(BloomAgg)),
    "graft_h16" -> (c => Md5PrefixHash(c(0), 4)),
    "graft_h32" -> (c => Md5PrefixHash(c(0), 8)),
    "graft_h64" -> (c => Md5PrefixHash(c(0), 15)),
    "graft_h16a" -> (c => Md5SegmentHashArray(c(0), 1, 4)),
    "graft_h32a" -> (c => Md5SegmentHashArray(c(0), 1, 8)),
    "graft_h32b" -> (c => Md5SegmentHashArray(c(0), 9, 8)),
    "graft_h64sd" -> (c => Md5PrefixSortedDistinct(c(0), 15)),
    "graft_cdc_ends" -> (c => CdcEnds(c(0))),
    "graft_bigrams" -> (c => WordBigrams(c(0))),
    "graft_word8grams" -> (c => WordNgrams(c(0), 8)),
    "graft_char3grams" -> (c => CharNgrams(c(0), 3)),
    "graft_char5grams" -> (c => CharNgrams(c(0), 5)),
    // the ETL state machine's codegen face (etl_clean_docs)
    "graft_clean_text" -> (c => CleanTextExpression(c.head))
  )
}
