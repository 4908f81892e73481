package graft.state

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import graft.model.{Defaults, Schemas}
import graft.ops.{Dlq, StateOps}
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Parquet-backed snapshot tables: the relay's control tables (watermarks,
  * pauses, dead letters), the stream operators' state, and saved models.
  *
  * Mirrors the reference's SQLite state.db / sinkhole.db
  * (ChangeTrackingBackgroundService.cs:158-173, PauseService.cs:27-48,
  * DeadLetterService.cs:36-72) with snapshot semantics: every mutation
  * writes a NEW versioned snapshot directory and then flips a pointer file —
  * the commit is the atomic pointer write, so a crash mid-write never
  * corrupts the current snapshot (readers always resolve the pointer).
  *
  * Every write is one [[commit]]: a control table changes only through
  * [[mutate]], a stream operator's state only through [[commitBatch]].
  *
  * Control tables are tiny (one row per tracked object / pause / failure),
  * so full-snapshot rewrites are the right trade-off — the data-scale state
  * (the change log itself) never lives here.
  */
final class ParquetStateStore(spark: SparkSession, rootDir: String) {

  private def tableRoot(name: String): Path = Paths.get(rootDir, name)
  private def pointer(name: String): Path = tableRoot(name).resolve("_CURRENT")

  private def currentDir(name: String): Option[Path] = {
    val p = pointer(name)
    if (Files.exists(p)) {
      val v = Files.readString(p).trim
      // Defensive: an empty pointer would resolve to the table root itself.
      if (v.isEmpty) None
      else {
        val dir = tableRoot(name).resolve(v)
        if (Files.exists(dir)) Some(dir) else None
      }
    } else None
  }

  /** Read the current snapshot, or an empty frame with the given schema. */
  def read(name: String, schema: StructType): DataFrame =
    currentDir(name) match {
      case Some(dir) => spark.read.schema(schema).parquet(dir.toString)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Snapshot commits performed by this store instance — an observability
    * counter specs assert per-cycle state-I/O invariants against (e.g. one
    * watermark commit per multi-object cycle, not one per object).
    * AtomicLong, not a @volatile var: commits arrive from Structured
    * Streaming foreachBatch threads (StreamingDedup) and the driver thread
    * concurrently, and += on a volatile is a lost-update race. */
  private val commitCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  def commitCount: Long = commitCounter.get()

  /** Commit a new snapshot: write v{n+1}, flip the pointer, GC old
    * versions (keeping one previous for concurrent readers). */
  def commit(name: String, df: DataFrame): Unit = {
    commitCounter.incrementAndGet()
    Files.createDirectories(tableRoot(name))
    val next = System.nanoTime().toString
    val dir = tableRoot(name).resolve(s"v$next")
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir.toString)
    val prev = currentDir(name)
    // The pointer flip IS the commit, so it must be atomic: writeString
    // truncates in place, and a crash mid-write would leave an empty or
    // partial pointer — read() would then see an empty store and the next
    // commit would snapshot WITHOUT all prior rows (total state loss).
    // Write-temp + ATOMIC_MOVE makes the flip all-or-nothing.
    val tmp = tableRoot(name).resolve(s"_CURRENT.tmp$next")
    Files.writeString(tmp, s"v$next")
    Files.move(tmp, pointer(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // GC everything except the new current and its immediate predecessor.
    val keep = Set(Some(dir), prev).flatten.map(_.getFileName.toString)
    val listing = Files.list(tableRoot(name))
    try listing.filter(p =>
        Files.isDirectory(p) && !keep.contains(p.getFileName.toString))
      .forEach { p =>
        val walk = Files.walk(p)
        try walk.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
        finally walk.close()
      }
    finally listing.close()
  }

  /** The one shape of a control-table mutation: the current rows that
    * `keep` admits and whose `key` does not occur in `add`, plus `add`
    * ([[StateOps.upsert]]), committed as one plan in one snapshot. */
  private def mutate(name: String, schema: StructType, keep: Column = lit(true),
      add: Option[DataFrame] = None, key: Seq[String] = Nil): Unit = {
    val kept = read(name, schema).filter(keep)
    commit(name, add.fold(kept)(StateOps.upsert(kept, _, key)))
  }

  // ---- micro-batch progress ---------------------------------------------

  /** The stream operators' exactly-once gate: the last micro-batch id
    * [[commitBatch]] landed in `table`, or -1. A replayed batch at or below
    * it is skipped by the caller — its output and state already landed. */
  def committedBatch(table: String): Long =
    read(table, new StructType().add("committed_batch", LongType))
      .agg(coalesce(max(col("committed_batch")), lit(-1L))).head().getLong(0)

  /** Commit `state` with `batchId` in the same rows: state and progress
    * flip in ONE pointer write, so a crash never leaves a batch
    * half-applied. Callers write their idempotent per-batch output first. */
  def commitBatch(table: String, state: DataFrame, batchId: Long): Unit =
    commit(table, state.withColumn("committed_batch", lit(batchId)))

  // ---- watermarks (LastVersions) ----------------------------------------

  def watermarks: DataFrame = read("watermarks", Schemas.watermarkSchema)

  /** J6 — the `INSERT … ON CONFLICT DO UPDATE` upsert. */
  def setWatermark(env: String, obj: String, version: Long): Unit =
    setWatermarks(Seq((env, obj, version)))

  /** J6 batched — the whole cycle's watermark advances in ONE snapshot
    * commit. The per-object form rewrites the O(objects) table once per
    * object per cycle — O(objects²) row writes per cycle; batching makes
    * per-cycle watermark I/O one read + one write regardless of how many
    * tracked objects advanced ([[graft.streaming.ChangeRelay.runCycles]]
    * collects the cycle's advances and lands here). The merge is
    * [[StateOps.watermarkUpsert]]'s: the driver-built update is broadcast
    * into a key anti-join, so the table is never shuffled. */
  def setWatermarks(updates: Seq[(String, String, Long)]): Unit = {
    if (updates.isEmpty) return
    import spark.implicits._
    val update = updates
      .toDF("environment_name", "object_name", "last_version")
      .withColumn("last_updated", current_timestamp())
    mutate("watermarks", Schemas.watermarkSchema, add = Some(update),
      key = StateOps.WatermarkKey)
  }

  def getWatermark(env: String, obj: String): Option[Long] =
    watermarks
      .filter(col("environment_name") === env && col("object_name") === obj)
      .select("last_version")
      .collect().headOption.map(_.getLong(0))

  /** T8 — state reset: deleting the row re-initializes the object per its
    * InitialSyncMode on the next cycle (Program.cs:401-432). */
  def resetWatermark(env: String, obj: String): Unit =
    mutate("watermarks", Schemas.watermarkSchema,
      keep = !(col("environment_name") === env && col("object_name") === obj))

  // ---- pauses -----------------------------------------------------------

  def pauses: DataFrame = read("pauses", Schemas.pauseSchema)

  def pause(scope: String, reason: String, by: String): Unit = {
    import spark.implicits._
    val row = Seq((scope.toLowerCase, reason, by))
      .toDF("scope", "reason", "paused_by")
      .withColumn("paused_at", current_timestamp())
    mutate("pauses", Schemas.pauseSchema, add = Some(row), key = Seq("scope"))
  }

  /** T7 — resume = delete the row; holds survive restarts because they live
    * in the store, not in config (PauseService.cs:10-16). */
  def resume(scope: String): Unit =
    mutate("pauses", Schemas.pauseSchema, keep = col("scope") =!= scope.toLowerCase)

  // ---- dead letters -----------------------------------------------------

  def deadLetters: DataFrame = read("dead_letters", Schemas.deadLetterSchema)

  /** K9/D1 — append failures with exactly-once-per-payload semantics:
    * a (source_key, data_hash) already present is skipped (T4), and so is
    * every row of the batch but the first per payload.
    *
    * Ids are the current max id + `row_number()` in (source_key, data_hash)
    * order: dense, monotone across appends, and independent of the input
    * partitioning. The numbering window has no partition key, which costs
    * nothing here — [[commit]] writes the snapshot from one task anyway. */
  def appendDeadLetters(rows: DataFrame): Unit = {
    val existing = deadLetters
    val maxId = existing.agg(coalesce(max("id"), lit(0L))).head().getLong(0)
    val payload = Seq("source_key", "data_hash")
    val fresh = rows
      // D1 holds WITHIN the incoming batch too: several sinks failing on the
      // same payload produce one dead letter (first by error_message).
      .withColumn("_rn", row_number().over(
        Window.partitionBy(payload.map(col): _*).orderBy("error_message")))
      .filter(col("_rn") === 1).drop("_rn")
      .join(existing.select(payload.map(col): _*), payload, "left_anti")
      .withColumn("id", lit(maxId) + row_number().over(Window.orderBy(payload.map(col): _*)))
      .withColumn("attempts", lit(0))
      .withColumn("next_attempt", lit(null).cast("timestamp"))
    mutate("dead_letters", Schemas.deadLetterSchema, add = Some(fresh))
  }

  /** T5 — one replay round, settled in ONE commit: the due batch at `now`
    * (attempts left, backoff elapsed, routable; oldest first, capped) is
    * offered letter by letter to `attempt(source_key, data)`; delivered
    * letters are deleted and failed ones take [[Dlq.retryState]] from
    * `now`. Nothing is committed when nothing was due. Returns (delivered,
    * failed). */
  def replayDeadLetters(now: java.sql.Timestamp, maxAttempts: Int,
      backoffBaseSeconds: Int)(attempt: (String, String) => Boolean): (Long, Long) = {
    val due = Dlq.replayBatch(Dlq.dueFilter(deadLetters, maxAttempts, lit(now)),
        Defaults.DlqReplayBatchSize)
      .select("id", "source_key", "data").collect()
    val (ok, bad) = due.partition(r => attempt(r.getString(1), r.getString(2)))
    val badIds = bad.map(_.getLong(0)).toSeq
    if (due.nonEmpty)
      mutate("dead_letters", Schemas.deadLetterSchema,
        keep = !col("id").isin(ok.map(_.getLong(0)).toSeq: _*),
        add = Option.when(badIds.nonEmpty)(
          Dlq.retryState(deadLetters.filter(col("id").isin(badIds: _*)), lit(now),
            backoffBaseSeconds).drop("backoff_seconds")),
        key = Seq("id"))
    (ok.length.toLong, bad.length.toLong)
  }

  /** Purge dead letters older than the retention window (reference
    * DeadLetterService.cs:148-159). Returns the purged count; the snapshot
    * is only rewritten when something was actually purged. The count is
    * ONE aggregate — rows minus rows [[Dlq.retained]] keeps — so a replay
    * cycle with nothing to purge costs one job, not two full counts. */
  def purgeExpiredDeadLetters(now: java.sql.Timestamp,
      retentionDays: Int = Defaults.DlqRetentionDays): Long = {
    val keep = Dlq.retained(lit(now), retentionDays)
    val purged = deadLetters.agg(count(lit(1)) - count_if(keep)).head().getLong(0)
    if (purged > 0) mutate("dead_letters", Schemas.deadLetterSchema, keep = keep)
    purged
  }
}
