package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset assembly — the last mile of a training-data pipeline after
  * clean/dedup/decontaminate: resample sources to a target mixture,
  * fix a deterministic global training order, cut the stream into
  * token-balanced shards, and emit a reproducibility manifest.
  *
  * Scale notes (the whole point of this module):
  *
  *  - Every "global order" here is ordered by a content-addressed 60-bit
  *    hash ([[DedupOps.hash60]]), which makes the order simultaneously (a)
  *    deterministic across runs/engines/topologies, (b) a uniform shuffle
  *    of the input (the training-order requirement), and (c) UNIFORM in
  *    key space — which is what lets the global running sum decompose into
  *    bounded buckets instead of the classic scale-killer
  *    `Window.orderBy(...)` over the whole corpus in ONE task.
  *  - [[hashOrderedCumSum]] is a bucketed two-level prefix sum: high bits
  *    of the hash key define ordered, uniformly-sized buckets; bucket
  *    subtotals (≤ `buckets` rows, bounded by construction — NOT by data)
  *    cumulate through a driver-free single-partition window; per-row
  *    sums run inside each bucket's own window partition. Result is
  *    provably partition-count-independent (asserted by spec at two
  *    bucket widths), so the same plan answers at local[32] and at 1000
  *    executors.
  *  - No collect anywhere: mixture planning joins a per-source count
  *    aggregate (|sources| rows) back via broadcast; shard manifests are
  *    plain group-bys on the shard id.
  */
object Assemble {

  /** Deterministic shuffle key: uniform 60-bit hash of the row id under a
    * salt. Reruns, engines and cluster layouts agree on it. */
  def shuffleKey(id: Column, salt: String): Column =
    DedupOps.hash60(concat(lit(salt + ":"), id.cast("string")))

  /** Modulus for order-insensitive content checksums: keeps per-row terms
    * ~2^20 so int64 sums stay exact up to ~2^43 rows per shard. */
  val ChecksumPrime = 1000003L

  /** Global inclusive running sum of `valueCol` in (shuffleKey, id) order,
    * added as `cum` (internals `_key`, `_b`, `_v` retained for callers that
    * need the order key; drop them at the edge).
    *
    * The input is localCheckpointed once: it feeds BOTH the bucket-subtotal
    * aggregate and the per-bucket window, and at corpus scale re-deriving
    * the value column (typically a tokenization) twice costs more than
    * materializing the narrow (id, value) projection — callers should
    * pre-project to exactly the columns they need downstream.
    *
    * `partitionCols` makes the running sum restart per group — N
    * independent per-group prefix sums in ONE pass over the input (one
    * checkpoint, one bucket rollup, one window stage), exactly equivalent
    * to calling this once per group over the filtered input. The bucket
    * rollup stays bounded at groups × buckets rows. */
  def hashOrderedCumSum(df: DataFrame, idCol: String, value: Column,
                        salt: String, buckets: Int = 4096,
                        partitionCols: Seq[String] = Nil): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0 && buckets <= (1 << 20),
      "buckets must be a power of two in [2, 2^20]")
    // hash60 < 2^60, so the top log2(buckets) bits give buckets that are
    // ordered by key range and uniformly loaded (the key is a sha-derived
    // uniform hash — no skew by construction).
    val shift = 60 - Integer.numberOfTrailingZeros(buckets)
    val pcols = partitionCols.map(col)
    val keyed = df
      .withColumn("_key", shuffleKey(col(idCol), salt))
      .withColumn("_b", shiftright(col("_key"), shift))
      .withColumn("_v", value.cast("long"))
      // eager=false still materializes every query stage below the final
      // one at CONSTRUCTION time under AQE (AdaptiveSparkPlanExec.execute
      // runs getFinalPhysicalPlan), so lazy-vs-eager only moves the final
      // stage + block write out of the build phase — a one-job-round
      // lever (r21; the eager/lazy A/B was never published, see BENCHNOTES
      // "Comment-only A/Bs").
      .localCheckpoint(eager = false)
    // ≤ groups × `buckets` rows: the subtotal window is bounded by
    // construction, never by data volume.
    val offsets = keyed.groupBy(pcols :+ col("_b"): _*)
      .agg(sum(col("_v")).as("_bt"))
      .withColumn("_off", coalesce(
        sum(col("_bt")).over(Window.partitionBy(pcols: _*).orderBy(col("_b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(pcols :+ col("_b") :+ col("_off"): _*)
    val perBucket = Window.partitionBy(pcols :+ col("_b"): _*)
      .orderBy(col("_key"), col(idCol))
    keyed.join(broadcast(offsets), partitionCols :+ "_b")
      .withColumn("cum", col("_off") + sum(col("_v")).over(perBucket))
  }

  /** Deterministic global training order: a dense 0-based `shuffle_pos`
    * permutation ordered by the salted hash. Stable across runs and
    * engines; appending data shifts positions (a permutation must), but
    * the RELATIVE order of existing rows never changes. */
  def shuffledOrder(df: DataFrame, idCol: String, salt: String = "shuffle"): DataFrame =
    hashOrderedCumSum(df, idCol, lit(1L), salt)
      .withColumn("shuffle_pos", col("cum") - 1)
      .drop("_key", "_b", "_v", "cum")

  /** Token-balanced shard assignment over the deterministic global order:
    * each row belongs to the shard its FIRST token lands in (the
    * [[TextOps.packStream]] convention, globalized), so shards hold
    * contiguous runs of the shuffled stream and sum to ~`shardTokens`
    * tokens (± one document). `df` must carry `idCol` and a numeric
    * `tokensCol`; pre-project narrow — the input is checkpointed. */
  def shardPlan(df: DataFrame, idCol: String, tokensCol: String,
                shardTokens: Long, salt: String = "shard",
                buckets: Int = 4096,
                partitionCols: Seq[String] = Nil): DataFrame = {
    require(shardTokens >= 1, "shardTokens must be positive")
    hashOrderedCumSum(df, idCol, col(tokensCol), salt, buckets, partitionCols)
      .withColumn("_start", col("cum") - col("_v"))
      .withColumn("shard_id", expr(s"_start div ${shardTokens}L"))
      .withColumn("shard_offset", expr(s"_start % ${shardTokens}L"))
      .drop("_key", "_b", "_v", "cum", "_start")
  }

  /** Compaction plan for the small-files problem: given a shard MANIFEST
    * (metadata rows — one per shard, never corpus-scale), shards at or
    * above `targetTokens` pass through untouched (`compact = false`,
    * `merge_group` = own shard id) and undersized shards are packed into
    * merge groups by shard-id-ordered prefix sum:
    * `merge_group = −(floor(prefix_before / target) + 1)`.
    *
    * Packed group ids are NEGATIVE so the two id spaces are disjoint:
    * shard ids (and hence pass-through group ids) are the non-negative
    * `_start div target` values from [[shardPlan]], so without the
    * negation the first packed group (0) would collide with the
    * pass-through group of shard 0 and a consumer grouping on
    * `merge_group` alone would merge unrelated shards. With it,
    * `merge_group` alone is a safe grouping key.
    *
    * Bin bound, stated honestly: every merge group totals strictly under
    * `2·targetTokens` (members are each < target and a group spans one
    * target-width prefix interval plus at most one straddling shard); a
    * group can UNDERSHOOT the target when a large small-shard straddles
    * its boundary — a second compaction pass over the merged output
    * converges. The global window is over manifest rows (shard count —
    * at 100 TB with 1 GB shards, ~10⁵ rows), not data, which is why this
    * planner may use one where [[shardPlan]] must not. */
  def compactionPlan(manifest: DataFrame, shardCol: String,
                     tokensCol: String, targetTokens: Long): DataFrame = {
    require(targetTokens >= 1, "targetTokens must be positive")
    val full = manifest.filter(col(tokensCol) >= targetTokens)
      .select(col(shardCol), col(tokensCol).as("shard_tokens"),
        lit(false).as("compact"), col(shardCol).as("merge_group"))
    val w = Window.orderBy(col(shardCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val small = manifest.filter(col(tokensCol) < targetTokens)
      .withColumn("_pre", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .select(col(shardCol), col(tokensCol).as("shard_tokens"),
        lit(true).as("compact"),
        (-(expr(s"_pre div ${targetTokens}L") + 1L)).as("merge_group"))
    full.unionByName(small)
  }

  /** Per-row checksum term for [[shardManifest]]: 60-bit content hash mod
    * [[ChecksumPrime]]. Compute it in the SAME projection that derives the
    * token count — one pass over the corpus text feeds both the shard plan
    * and the manifest, and the term (a small long) rides through the
    * cumsum checkpoint instead of a second text scan + id join. */
  def contentChecksumTerm(content: Column): Column =
    DedupOps.hash60(content) % ChecksumPrime

  /** Reproducibility manifest: one row per shard with document count,
    * token sum, id range, and an order-insensitive content checksum
    * (sum of per-row [[contentChecksumTerm]]s) — two independently
    * produced copies of a dataset agree on the manifest iff they agree on
    * shard membership and bytes. Plain group-by: one shuffle of
    * manifest-sized rows. */
  def shardManifest(planned: DataFrame, shardCol: String, idCol: String,
                    tokensCol: String, checksumTerm: Column,
                    extraKeys: Seq[String] = Nil): DataFrame =
    planned.groupBy(extraKeys.map(col) :+ col(shardCol): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokensCol)).as("shard_tokens"),
        sum(checksumTerm).as("content_sum"),
        min(col(idCol)).as("min_id"),
        max(col(idCol)).as("max_id"))

  /** Columns two manifests are compared on in [[manifestDiff]] — the full
    * [[shardManifest]] stat set, so any membership or byte change in a
    * shard flips it to `changed`. */
  private val ManifestStatCols =
    Seq("n_docs", "shard_tokens", "content_sum", "min_id", "max_id")

  /** Dataset-version diff over two [[shardManifest]]s: one row per shard id
    * present in either version, with
    * `status ∈ {added, removed, changed, unchanged}` and doc/token deltas.
    * The audit a versioned dataset store runs between releases — for an
    * append-only store the invariant is NO `removed`/`changed` rows (a
    * published shard is immutable), and the `added` rows ARE the release
    * notes. Manifests are shard-scale, so this is one full-outer join of
    * small tables at any corpus size. */
  def manifestDiff(oldM: DataFrame, newM: DataFrame,
                   shardCol: String = "shard_id"): DataFrame = {
    val o = oldM.select(col(shardCol) +:
      ManifestStatCols.map(c => col(c).as(s"_o_$c")): _*)
    val n = newM.select(col(shardCol) +:
      ManifestStatCols.map(c => col(c).as(s"_n_$c")): _*)
    o.join(n, Seq(shardCol), "full_outer")
      .withColumn("status",
        when(col("_o_n_docs").isNull, lit("added"))
          .when(col("_n_n_docs").isNull, lit("removed"))
          .when(ManifestStatCols.map(c => col(s"_o_$c") =!= col(s"_n_$c"))
            .reduce(_ || _), lit("changed"))
          .otherwise(lit("unchanged")))
      .withColumn("docs_delta",
        coalesce(col("_n_n_docs"), lit(0L)) - coalesce(col("_o_n_docs"), lit(0L)))
      .withColumn("tokens_delta",
        coalesce(col("_n_shard_tokens"), lit(0L))
          - coalesce(col("_o_shard_tokens"), lit(0L)))
      .select(col(shardCol), col("status"), col("docs_delta"), col("tokens_delta"))
  }

  /** Water-filling mixture resample: keep the LARGEST dataset whose source
    * composition matches integer `weights`, given what is available —
    * the binding source (smallest avail/weight ratio) is kept whole and
    * every other source is deterministically downsampled to match. No
    * upsampling/duplication ever. All integer arithmetic (`div`), so the
    * plan is bit-identical across engines:
    *
    *   N        = min over s of (avail_s * W div w_s)   (W = Σ w_s)
    *   target_s = w_s * N div W                          (≤ avail_s)
    *   keep_ppm = target_s * 1e6 div avail_s             (membership cut)
    *
    * Membership is content-addressed ([[Sampling.bucketOf]] under `salt`):
    * per-source keep decisions are stable under reruns and data growth.
    * Distributed shape: per-source counts are an aggregate of |sources|
    * rows; the plan table (counts × weights × the 1-row min) broadcasts
    * back onto the corpus — the corpus itself is scanned twice (once to
    * count, once to filter), both narrow column-pruned passes, and never
    * collected. Rows from sources without a weight are dropped (weight 0).
    *
    * Output keeps the per-row columns plus the plan columns
    * (`avail`, `target_n`, `keep_ppm`) for auditability. */
  def targetMixResample(df: DataFrame, sourceCol: String, idCol: String,
                        weights: Seq[(String, Long)],
                        salt: String = "mix"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be non-empty and positive")
    require(weights.map(_._1).distinct.size == weights.size,
      "duplicate source in weights")
    val spark = df.sparkSession
    import spark.implicits._
    val wTotal = weights.map(_._2).sum
    val wdf = weights.toDF("_src", "_w")
    // |sources| rows, consumed by BOTH the min-aggregate and the plan
    // join — checkpointed so the corpus-count scan behind it runs once
    // (round-4 rule d; the plan lint rejects the un-checkpointed shape).
    val avail = df.groupBy(col(sourceCol).cast("string").as("_src"))
      .agg(count(lit(1)).as("avail"))
      .join(wdf, Seq("_src"))
      .withColumn("_nfeas", expr(s"avail * ${wTotal}L div _w"))
      .localCheckpoint()
    val n = avail.agg(min(col("_nfeas")).as("_n"))
    val plan = avail.crossJoin(n)
      .withColumn("target_n", expr(s"_w * _n div ${wTotal}L"))
      .withColumn("keep_ppm", expr("target_n * 1000000L div avail"))
      .select(col("_src"), col("avail"), col("target_n"), col("keep_ppm"))
    df.join(broadcast(plan), df(sourceCol).cast("string") === col("_src"))
      .filter(Sampling.bucketOf(col(idCol), salt, 1000000) < col("keep_ppm"))
      .drop("_src")
  }

  /** Integer-exact temperature weight n^α for the supported α grid, built
    * from floor-composed exact square roots ([[Sampling.isqrt]]) so BOTH
    * engines compute the identical integer — no float pow in sight:
    *
    *   α = 0     →  1            (uniform over strata)
    *   α = 0.25  →  ⌊√⌊√n⌋⌋      (= ⌊n^¼⌋ exactly: nested floors commute)
    *   α = 0.5   →  ⌊√n⌋
    *   α = 0.75  →  ⌊√(n·⌊√n⌋)⌋  (within 1 of n^¾; deterministic both ways)
    *   α = 1     →  n            (proportional — sampling becomes a no-op)
    *
    * The α=0.75 product n·⌊√n⌋ stays inside int64 for n < ~4.4·10¹²
    * strata rows — beyond any per-language corpus row count in practice
    * (and the weight only ever consumes per-STRATUM counts, not corpus
    * rows). */
  def temperatureWeight(n: Column, alphaMilli: Int): Column = alphaMilli match {
    case 0    => lit(1L)
    case 250  => Sampling.isqrt(Sampling.isqrt(n))
    case 500  => Sampling.isqrt(n)
    case 750  => Sampling.isqrt(n * Sampling.isqrt(n))
    case 1000 => n
    case a => throw new IllegalArgumentException(
      s"alphaMilli $a unsupported: one of 0, 250, 500, 750, 1000")
  }

  /** Temperature-based mixture sampling (the multilingual α-sampling of
    * Lample & Conneau 2019 §3.1 / Conneau et al. 2020 §3.1): draw a
    * `budgetDocs`-document mix whose per-stratum share follows
    * n_g^α / Σ n_h^α — α < 1 flattens the head so low-resource strata are
    * over-represented relative to their raw share, the standard knob
    * between proportional (α=1) and uniform (α=0). Complements
    * [[unimaxAllocation]] (the epoch-capped alternative) and
    * [[targetMixResample]] (explicit target weights).
    *
    * All plan arithmetic is integer-exact: weights via
    * [[temperatureWeight]] (floor-composed isqrt, no float pow), targets
    * by truncating div, membership by the portable salted hash bucket
    * ([[Sampling.bucketOf]]) — so the DuckDB oracle replays every step
    * bit-identically, and membership is stable across runs and appends
    * like every sampler here. Strata whose target exceeds availability are
    * capped at n_g (hash sampling cannot upsample); the realized count is
    * binomial around target_n like all threshold samplers.
    *
    * Scale shape: ONE map-side-combined count aggregate to the stratum
    * table (checkpointed — it feeds the Σw aggregate AND the plan join,
    * round-4 rule d), a broadcast of ≤ |strata| plan rows, then a map-only
    * filter. No corpus-scale shuffle at any size. Overflow bound:
    * budgetDocs · max w_g must stay inside int64 (budget ≤ 10¹² docs with
    * per-stratum counts ≤ 10¹² leaves two orders of margin). */
  def temperatureSample(df: DataFrame, stratumCol: String, idCol: String,
                        budgetDocs: Long, alphaMilli: Int = 500,
                        salt: String = "temp"): DataFrame = {
    require(budgetDocs >= 0, "budget must be non-negative")
    // Σw rides a single-partition window over the ≤|strata| rollup, so
    // the stratum table has ONE consumer (the plan broadcast) — the
    // checkpoint and the separate Σw broadcast round both delete (r21).
    val plan = df.groupBy(col(stratumCol).cast("string").as("_b"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w_alpha", temperatureWeight(col("n_docs"), alphaMilli))
      .withColumn("_wsum", sum(col("w_alpha")).over(Window.partitionBy()))
      .withColumn("target_n",
        least(col("n_docs"), expr(s"${budgetDocs}L * w_alpha div _wsum")))
      .withColumn("keep_ppm", expr("target_n * 1000000L div n_docs"))
      .select(col("_b"), col("n_docs"), col("w_alpha"), col("target_n"),
        col("keep_ppm"))
    df.join(broadcast(plan), df(stratumCol).cast("string") === col("_b"))
      .filter(Sampling.bucketOf(col(idCol), salt, 1000000) < col("keep_ppm"))
      .drop("_b")
  }

  /** UniMax budget allocation (Chung et al. 2023, arXiv:2304.09151): split
    * a total token budget across strata (languages/domains) so no stratum
    * repeats more than `epochsMilli / 1000` epochs, with surplus budget
    * shared EQUALLY among the high-resource strata rather than
    * proportionally — the long-tail starvation/head-domination trade
    * temperature sampling cannot escape.
    *
    * Closed form of the paper's sequential loop: with per-stratum caps
    * `cap = avail·epochs` sorted ASCENDING, a stratum is "capped" iff
    * `cap·remaining_strata ≤ budget − Σ(preceding caps)`. The capped set
    * is provably a PREFIX of the sort (if i is uncapped then
    * `cap_{i+1}·rem_{i+1} ≥ cap_i·(rem_i − 1) = cap_i·rem_i − cap_i >
    * budget − pre_i − cap_i = budget − pre_{i+1}`), so every uncapped
    * stratum receives the SAME fair share
    * `(budget − Σ capped caps) div n_uncapped`. All integer math (`div`),
    * bit-identical to the SQL oracle.
    *
    * Scale shape: ONE corpus aggregate (per-stratum token sums, map-side
    * combined); everything after runs on ≤ |strata| rows — the windows are
    * bounded by the stratum count, never by data, and the stratum table is
    * checkpointed once (it feeds the fair-share aggregate AND the output).
    *
    * Output: (stratumCol, avail_tokens, cap_tokens, alloc_tokens,
    * epochs_milli), one row per stratum. */
  def unimaxAllocation(df: DataFrame, stratumCol: String, tokensCol: String,
                       totalBudget: Long, epochsMilli: Long = 4000L): DataFrame = {
    require(totalBudget >= 0, "budget must be non-negative")
    require(epochsMilli >= 1, "epochs cap must be positive")
    val avail = df.groupBy(col(stratumCol).cast("string").as("_b"))
      .agg(sum(col(tokensCol)).as("avail_tokens"))
      .withColumn("cap_tokens", expr(s"avail_tokens * ${epochsMilli}L div 1000"))
    val ord = Window.orderBy(col("cap_tokens"), col("_b"))
    // The fair-share scalars ride a second full-frame window over the
    // same single partition the prefix windows already sorted (≤|strata|
    // rows) — one consumer, so the checkpoint and the broadcast round
    // both delete (r21 bounded-rollup fusion).
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    avail
      .withColumn("_pre", coalesce(sum(col("cap_tokens"))
        .over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_rem", count(lit(1))
        .over(ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("_capped",
        col("cap_tokens") * col("_rem") <= lit(totalBudget) - col("_pre"))
      .withColumn("_csum", coalesce(
        sum(when(col("_capped"), col("cap_tokens"))).over(full), lit(0L)))
      .withColumn("_nunc",
        sum(when(col("_capped"), 0L).otherwise(1L)).over(full))
      .withColumn("alloc_tokens",
        when(col("_capped"), col("cap_tokens"))
          .otherwise(expr(s"(${totalBudget}L - _csum) div _nunc")))
      .withColumn("epochs_milli",
        when(col("avail_tokens") > 0, expr("alloc_tokens * 1000 div avail_tokens"))
          .otherwise(0L))
      .select(col("_b").as(stratumCol), col("avail_tokens"), col("cap_tokens"),
        col("alloc_tokens"), col("epochs_milli"))
  }

  /** Zone map + locality audit over a shard assignment: per shard group,
    * the doc count, key min/max, and the shard's key-span as ppm of the
    * global span — the number a scan planner reads to decide whether a
    * key-range predicate can PRUNE shards. A range/sorted layout shows
    * tight spans (span_ppm ≈ 10⁶/shards → most shards prunable); a
    * hash-shuffled layout shows span_ppm ≈ 10⁶ on every shard (zero
    * pruning — the price of shuffle-balanced training shards, and why a
    * lakehouse keeps BOTH layouts). Plan rows are shard metadata scale
    * after the groupBy; the input projection is checkpointed because the
    * zone rollup and the global-span aggregate both consume it. */
  /** Token-budget-constrained quality selection: take documents best-first
    * (by `scoreCol` descending) until `budget` tokens are spent, with a
    * deterministic salted-hash order inside the boundary score — WITHOUT a
    * corpus-scale global sort. Semantically identical to the single global
    * window `sum(tokens) OVER (ORDER BY score DESC, hash, id) <= budget`
    * (the registered oracle runs exactly that — the comparison proves the
    * scalable decomposition), but executed as:
    *
    *   1. a per-score rollup, bounded by the SCORE DOMAIN — callers must
    *      pass an integer score with a bounded range (basis points here);
    *      its collect is score-domain-scale, never corpus-scale;
    *   2. a driver cumsum over that rollup picking the boundary score and
    *      the residual budget (two scalars of driver state);
    *   3. full map-only admission of every doc ABOVE the boundary score;
    *   4. [[hashOrderedCumSum]] (bucketed two-level prefix sum) over the
    *      boundary-score docs only, admitting the hash-ordered prefix that
    *      fits the residual.
    *
    * Output: (idCol, score, n_tokens) of the selected documents. */
  def budgetSelect(scored: DataFrame, idCol: String, scoreCol: String,
                   tokensCol: String, budget: Long,
                   salt: String = "budget"): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    // null scores/token counts are unselectable (a null-key rollup group
    // would NPE the driver cumsum — review catch); callers wanting them
    // in must coalesce to a sentinel score first
    val narrow = scored
      .select(col(idCol), col(scoreCol).cast("long").as("score"),
        col(tokensCol).cast("long").as("n_tokens"))
      .filter(col("score").isNotNull && col("n_tokens").isNotNull)
      .localCheckpoint() // feeds the rollup AND both admission passes
    // ≤ |score domain| rows (caller contract: bounded integer score) —
    // score-domain-scale collect, never corpus-scale.
    val rollup = narrow.groupBy(col("score"))
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1)
    val empty = narrow.filter(lit(false))
      .select(col(idCol), col("score"), col("n_tokens"))
    if (rollup.isEmpty) empty
    else {
      // first score whose bucket total no longer fits; every lower score's
      // docs have global cum > budget by construction (prefix semantics)
      var spent = 0L
      var boundary = Option.empty[(Long, Long)] // (cut score, residual)
      rollup.foreach { case (s, t) =>
        if (boundary.isEmpty) {
          if (spent + t > budget) boundary = Some((s, budget - spent))
          else spent += t
        }
      }
      boundary match {
        case None => // whole corpus fits the budget
          narrow.select(col(idCol), col("score"), col("n_tokens"))
        case Some((cut, residual)) =>
          val above = narrow.filter(col("score") > cut)
            .select(col(idCol), col("score"), col("n_tokens"))
          val part = hashOrderedCumSum(
              narrow.filter(col("score") === cut), idCol, col("n_tokens"), salt)
            .filter(col("cum") <= residual)
            .select(col(idCol), col("score"), col("n_tokens"))
          above.unionAll(part)
      }
    }
  }

  def zoneMap(plan: DataFrame, shardCols: Seq[String], keyCol: String): DataFrame = {
    // The global span is derivable from the zone rollup itself
    // (max over zones of max_key ≡ max over rows of key), so the corpus
    // projection has ONE consumer and needs no materialization — the
    // checkpoint moves to the bounded shard-scale rollup, which both the
    // output and the span aggregate consume (round-4 rule d at the
    // correct scale; r21 — the old shape materialized corpus-scale rows
    // and scanned them twice).
    plan.select(shardCols.map(col) :+ col(keyCol): _*)
      .groupBy(shardCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        min(col(keyCol)).as("min_key"), max(col(keyCol)).as("max_key"))
      .withColumn("_gspan",
        max(col("max_key")).over(Window.partitionBy())
          - min(col("min_key")).over(Window.partitionBy()))
      .withColumn("span_ppm",
        expr("(max_key - min_key) * 1000000 div greatest(_gspan, 1)"))
      .drop("_gspan")
  }
}
