package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All ordered index pairs (i < j) of a BIGINT array as
  * `array<struct<pa, pb>>` — the row-local pair explode of the
  * co-occurrence graph builder ([[graft.ops.GraphOps]]).
  *
  * Why a native expression: the built-in formulation is a nested
  * `transform(slice(...))` HOF chain, and HOF lambdas run INTERPRETED —
  * ~C(n,2) per-element lambda invocations per row, each building a struct
  * through the interpreter (round-9 rule a; measured same-JVM at sf0.1:
  * the HOF explode adds ~0.5 s warm over the group-by alone, the native
  * loop ~0.1 s, same run; BENCHNOTES "Round-10 session-5: native
  * pair_structs replaces the graph family's HOF pair explode"). This walks
  * the array once per row in plain JVM code and `doGenCode` emits a direct
  * static call so the surrounding projection stays in one
  * whole-stage-codegen span.
  *
  * The caller sorts the array (canonical `pa < pb` needs a sorted input —
  * this expression pairs POSITIONALLY and does not sort or dedup). */
object PairStructsCore {
  def pairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    // n*(n-1)/2 overflows Int at n >= 65536 (NegativeArraySizeException
    // with no clue); a 2B-struct pair set is wrong to build regardless —
    // fail loudly and name the cap (callers cap buckets/baskets upstream:
    // candidatePairs maxBucket, domain-bounded transactions).
    require(n <= 65535,
      s"pair_structs: $n elements would expand to ${n.toLong * (n - 1) / 2} pairs — " +
        "cap the group (e.g. candidatePairs maxBucket) before pairing")
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n - 1) {
      val a = arr.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](a, arr.getLong(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class PairStructs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pa", LongType, nullable = false),
      StructField("pb", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pair_structs expects ARRAY<BIGINT> without nulls, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    PairStructsCore.pairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.PairStructsCore.pairs($c)")

  override protected def withNewChildInternal(newChild: Expression): PairStructs =
    copy(child = newChild)
}
