package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Int64 dot product / squared-L2 of two quantized BIGINT vectors as native
  * expressions — ONE compiled JVM loop per row.
  *
  * Why native: these are the innermost kernels of every pair stage
  * (semanticDedup's within-cell pruning, embeddingNearDup's candidate
  * verify, IVF/PQ scoring) where each evaluation touches `dim` elements.
  * The HOF formulation `aggregate(zip_with(a, b, ...), ...)` runs its
  * lambdas INTERPRETED — ~1 µs per element evaluation (round-9 rule a) —
  * so a 64-dim pair filter pays ~128 interpreted evals per PAIR; the
  * native loop is two orders of magnitude cheaper and participates in
  * whole-stage codegen via `doGenCode` (round-10 s5 rule a: the same
  * reshape won 2.5-10× on pair_structs/winnow_mins/simhash_fp).
  *
  * Null semantics REPLICATE the HOF forms bit-for-bit, so swapping them in
  * is invisible to results and to the DuckDB oracles:
  *  - either input NULL → NULL (BinaryExpression default);
  *  - unequal lengths → NULL (zip_with pads with null → null product →
  *    null sum);
  *  - any NULL element → NULL (null propagates through the lambda sum).
  */
object QVecCore {
  def dot(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  def dist2(a: ArrayData, b: ArrayData): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    java.lang.Long.valueOf(s)
  }
}

sealed abstract class QVecBinary extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two ARRAY<BIGINT> args, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  protected def coreMethod: String

  override protected def nullSafeEval(a: Any, b: Any): Any = null // overridden

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""Object r = graft.expressions.QVecCore.$coreMethod($a, $b);
         |if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = ((Long) r).longValue(); }
         |""".stripMargin
    })
}

case class QDot(left: Expression, right: Expression) extends QVecBinary {
  override def prettyName: String = "qdot_q"
  override protected def coreMethod: String = "dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    QVecCore.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): QDot =
    copy(left = l, right = r)
}

case class QDist2(left: Expression, right: Expression) extends QVecBinary {
  override def prettyName: String = "qdist2_q"
  override protected def coreMethod: String = "dist2"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    QVecCore.dist2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): QDist2 =
    copy(left = l, right = r)
}

/** Milli-quantization of a FLOAT embedding to ARRAY<BIGINT> — the encode
  * stage of every ann/dedup vector pipeline, as one compiled JVM loop.
  *
  * Why native: the HOF form `transform(vec, x -> cast(round(x * 1000) as
  * long))` runs its lambda INTERPRETED (round-9 rule a) with a
  * BigDecimal-backed `round` per element (round-7 rule c) — 64 evals per
  * row on every encode of every ann query. At the sf1.0 decade (20k
  * vectors) the encode stage alone carried seconds per query.
  *
  * Semantics replicate the HOF form bit-for-bit under the session's ANSI
  * defaults (Spark 4), pinned by QuantizeMilliSpec on real corpus data
  * plus adversarial values:
  *  - ANSI type coercion widens `x * 1000` to DOUBLE (int→float would be
  *    lossy), so the product is `x.toDouble * 1000.0`;
  *  - `round` is Spark's RoundBase on DOUBLE: NaN/Infinity pass through,
  *    else BigDecimal HALF_UP — reproduced by [[QuantizeMilliCore.halfUp]]
  *    (floor shortcut + BigDecimal fallback in the one-ulp tie band);
  *  - the ANSI double→long cast THROWS on NaN/Infinity (impossible for
  *    real embeddings; the kernel throws the same query-failing way);
  *  - a NULL element stays a NULL element (lambda null-propagation); a
  *    NULL array is NULL (UnaryExpression default).
  *
  * PER-EVAL COST IS LOAD-BEARING here, more than for the pair kernels:
  * Catalyst COLLAPSES a single-referenced native projection into its
  * consumer — including across a join or into k-centroid argmax chains —
  * so the quantize EVALUATION COUNT is not invariant under the HOF→native
  * swap (lambda-bearing projects resist collapse; ann_brute_topk
  * re-evaluates the native form once per query pairing, 5× per corpus
  * row, measured by eval counters). A BigDecimal-per-element kernel
  * (~390 ns/element, microbench) LOST 2-4× to the HOF form through that
  * multiplier in same-window A/Bs; the floor-shortcut kernel
  * (~20 ns/element) wins 2-4× on the same queries in the same windows —
  * the r9 rule (a) native-kernel doctrine holds only when the kernel's
  * per-eval cost times the collapse multiplier stays below the
  * interpreted form's single evaluation (BENCHNOTES "Comment-only
  * A/Bs"). */
object QuantizeMilliCore {
  /** HALF_UP round of `d` to an integral double, bit-identical to
    * `BigDecimal.valueOf(d).setScale(0, HALF_UP)`: the floor(d+0.5)
    * shortcut (20× cheaper — ~20 ns vs ~390 ns per element, microbench)
    * is exact EXCEPT when the computed sum lands within one
    * ulp of an integer (the Math.round(0.49999999999999994) bug class);
    * that narrow band falls back to the reference BigDecimal op. On
    * embedding-like data the band hit rate is ~0. */
  private def halfUp(d: Double): Double = {
    val mag = math.abs(d)
    val s = mag + 0.5
    val c = math.floor(s)
    val r =
      if (s - c < 1e-9 || (c + 1.0) - s < 1e-9)
        java.math.BigDecimal.valueOf(mag)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
      else c
    if (d < 0) -r else r
  }

  /** `isDouble` selects the element accessor: ARRAY<DOUBLE> inputs (e.g.
    * averaged/derived vectors) skip the float→double promotion — the HOF
    * form's `x * 1000` is already double arithmetic there (r18 advice fix:
    * the kernel previously rejected double arrays the HOF chain accepted). */
  def quant(arr: ArrayData, isDouble: Boolean): ArrayData = {
    val n = arr.numElements()
    val res = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val d = (if (isDouble) arr.getDouble(i) else arr.getFloat(i).toDouble) * 1000.0
        if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
          throw new ArithmeticException(
            s"quantize_milli: value $d cannot be cast to BIGINT (ANSI cast overflow)")
        val r = halfUp(d)
        if (r < Long.MinValue.toDouble || r > Long.MaxValue.toDouble)
          throw new ArithmeticException(
            s"quantize_milli: value $r cannot be cast to BIGINT (ANSI cast overflow)")
        res(i) = java.lang.Long.valueOf(r.toLong)
      }
      i += 1
    }
    new GenericArrayData(res)
  }
}

case class QuantizeMilli(child: Expression) extends UnaryExpression {
  override def prettyName: String = "quantize_milli"
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_milli expects ARRAY<FLOAT> or ARRAY<DOUBLE>, got ${other.catalogString}")
  }

  private def isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(input: Any): Any =
    QuantizeMilliCore.quant(input.asInstanceOf[ArrayData], isDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.QuantizeMilliCore.quant($c, $isDouble)")

  override protected def withNewChildInternal(newChild: Expression): QuantizeMilli =
    copy(child = newChild)
}

/** SQ8 encode + reconstruction error over a milli-quantized vector with
  * driver-held per-dimension min/span literal arrays — one compiled JVM
  * loop per row (see [[graft.ops.Similarity.sq8Quantize]]).
  *
  * Replaces the 4-pass HOF chain (`zip_with` diff, `zip_with` code,
  * `zip_with` recon, `aggregate` |err| — ~256 interpreted lambda evals
  * per row, the round-9 rule a tax) with identical arithmetic:
  * `code = (v−mn)·255 div span`, `recon = code·span div 255`,
  * `err = Σ|d − recon|`; all divisions are long divisions truncating
  * toward zero on non-negative values, exactly the SQL `div`.
  *
  * Null contract replicates the HOF chain bit-for-bit: a NULL element of
  * `v` yields a NULL code, which `array_join` SKIPS in the joined string,
  * and its NULL |err| term nulls the whole error sum; length mismatches
  * zip_with-pad with nulls (same effect). NULL input arrays → NULL
  * (null-intolerant default). Returns struct(codes_str, err). */
object Sq8EncodeCore {
  def encode(v: ArrayData, mn: ArrayData, sp: ArrayData):
      org.apache.spark.sql.catalyst.InternalRow = {
    val nv = v.numElements()
    val n = Math.max(nv, Math.max(mn.numElements(), sp.numElements()))
    val sb = new java.lang.StringBuilder(n * 4)
    var errNull = false
    var err = 0L
    var first = true
    var i = 0
    while (i < n) {
      val ok = i < nv && !v.isNullAt(i) &&
        i < mn.numElements() && !mn.isNullAt(i) &&
        i < sp.numElements() && !sp.isNullAt(i)
      if (ok) {
        val d = v.getLong(i) - mn.getLong(i)
        val s = sp.getLong(i)
        val code = d * 255L / s
        val recon = code * s / 255L
        err += Math.abs(d - recon)
        if (!first) sb.append(',')
        sb.append(code)
        first = false
      } else {
        errNull = true // a null term nulls the aggregate sum; code skipped by array_join
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString),
      if (errNull) null else java.lang.Long.valueOf(err)))
  }
}

case class Sq8Encode(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def prettyName: String = "sq8_encode"
  override def dataType: DataType = StructType(Seq(
    StructField("codes_str", StringType, nullable = false),
    StructField("err", LongType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(first.dataType) && ok(second.dataType) && ok(third.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sq8_encode expects three ARRAY<BIGINT> args, got " +
        s"${first.dataType.catalogString}, ${second.dataType.catalogString}, " +
        s"${third.dataType.catalogString}")
  }

  override protected def nullSafeEval(v: Any, mn: Any, sp: Any): Any =
    Sq8EncodeCore.encode(v.asInstanceOf[ArrayData],
      mn.asInstanceOf[ArrayData], sp.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (v, mn, sp) => s"graft.expressions.Sq8EncodeCore.encode($v, $mn, $sp)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Sq8Encode =
    copy(first = f, second = s, third = t)
}
