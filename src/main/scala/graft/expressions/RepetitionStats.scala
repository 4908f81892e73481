package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass per-document repetition statistics over a token array — the
  * Gopher/MassiveText intra-doc repetition signals' core loop.
  *
  * Why a native expression and not built-ins: the signals need per-doc
  * n-gram frequency tables. The two built-in formulations both lose by an
  * order of magnitude at corpus scale (measured at 100k docs, same run;
  * BENCHNOTES "Round-9: repetition signals — three shapes measured"):
  *
  *  - explode + groupBy(doc, kind, gram): near-unique shuffle keys defeat
  *    map-side partial aggregation (round-6 rule b) — 63-72 s;
  *  - map-only HOF chain (transform/array_sort/aggregate): ~120M
  *    INTERPRETED per-element lambda evaluations building gram strings —
  *    100-103 s, with the gram string construction alone 23 s per kind.
  *
  * This expression walks the token array once per row in plain JVM code:
  * a HashSet for distinct tokens, a HashMap for the max bigram count, a
  * HashSet add-failure count for repeated trigrams — O(tokens) per doc,
  * no gram strings materialized (keys are token-slice tuples; UTF8String
  * equality is exact byte comparison, so counts are EXACT — no hashing
  * shortcut, no collision caveat, oracle-identical by construction).
  * Embarrassingly parallel, zero exchanges, and `doGenCode` emits a
  * direct static call so the surrounding projection stays in one
  * whole-stage-codegen span.
  *
  * Returns struct(n_tokens, distinct_tokens, top_token, max_bigram,
  * rep_trigram), all BIGINT: token count, distinct-token count, occurrence
  * count of the most frequent single token (0 on an empty array — r16,
  * makes llm_token_diversity map-only instead of a two-shuffle
  * (doc, token) aggregation), occurrence count of the most frequent
  * bigram (0 when under 2 tokens), repeat occurrences of trigrams
  * `Σ(count−1)` (0 when under 3 tokens), and `dup_trigram_slots` =
  * `Σ_{count>1} count` — every trigram slot belonging to a repeated
  * trigram, the Gopher dup-fraction numerator (0 when under 3 tokens).
  */
object RepetitionCore {
  def stats(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    // One count map serves distinct (its size) AND the top-unigram count —
    // same O(tokens) walk the old HashSet did.
    val uni = new java.util.HashMap[UTF8String, Integer](Math.max(16, n))
    var topTok = 0L
    var i = 0
    while (i < n) {
      val c = uni.merge(arr.getUTF8String(i), Integer.valueOf(1),
        (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
      if (c.intValue > topTok) topTok = c.intValue.toLong
      i += 1
    }
    val distinct = uni
    var maxBi = 0L
    if (n >= 2) {
      val counts = new java.util.HashMap[AnyRef, Integer](Math.max(16, n))
      i = 0
      while (i < n - 1) {
        val k = (arr.getUTF8String(i), arr.getUTF8String(i + 1))
        val c = counts.merge(k, Integer.valueOf(1),
          (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
        if (c.intValue > maxBi) maxBi = c.intValue.toLong
        i += 1
      }
    }
    var repTri = 0L
    var dupTriSlots = 0L
    if (n >= 3) {
      // Count map instead of the old seen-set: rep_trigram = Σ(c−1) falls
      // out as add-beyond-first, and dup_trigram_slots = Σ_{c>1} c (every
      // slot belonging to a repeated trigram — the Gopher dup-fraction
      // numerator) needs the counts (r16, makes llm_dup_ngram_frac
      // map-only and sha-free).
      val counts = new java.util.HashMap[AnyRef, Integer](Math.max(16, n))
      i = 0
      while (i < n - 2) {
        val c = counts.merge((arr.getUTF8String(i), arr.getUTF8String(i + 1),
          arr.getUTF8String(i + 2)), Integer.valueOf(1),
          (a: Integer, b: Integer) => Integer.valueOf(a.intValue + b.intValue))
        if (c.intValue > 1) repTri += 1
        i += 1
      }
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next().intValue()
        if (c > 1) dupTriSlots += c
      }
    }
    new GenericInternalRow(Array[Any](n.toLong, distinct.size.toLong, topTok,
      maxBi, repTri, dupTriSlots))
  }
}

case class RepetitionStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("distinct_tokens", LongType, nullable = false),
    StructField("top_token", LongType, nullable = false),
    StructField("max_bigram", LongType, nullable = false),
    StructField("rep_trigram", LongType, nullable = false),
    StructField("dup_trigram_slots", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"repetition_stats expects ARRAY<STRING>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    RepetitionCore.stats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.RepetitionCore.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}
