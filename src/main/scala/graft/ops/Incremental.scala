package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The incremental-diff core: version predicate, transaction-horizon gate,
  * gated watermark, stale-watermark fallback, full scan and seed modes.
  *
  * These are the semantics of the reference's canonical stored procedures
  * (reference: Source/SQL/02-stored-procedure.postgres.table.sql:21-60,
  * 02-stored-procedure.sqlserver.table.sql:17-56) re-expressed as declarative
  * DataFrame transforms. All of them are single narrow filters or partial
  * aggregations — at 100 TB they push down to the parquet/JDBC scan
  * (`id > v` and `xact_id < h` are both min/max-prunable range predicates)
  * and the watermark aggregate is a map-side-combined 1-row reduction, so
  * nothing here shuffles more than one row per partition.
  */
object Incremental {

  /** P1 — the core diff filter `WHERE id > from_version`.
    * Ref: 02-stored-procedure.postgres.table.sql:59. */
  def sinceVersion(changes: DataFrame, fromVersion: Long, idCol: String = "id"): DataFrame =
    changes.filter(col(idCol) > fromVersion)

  /** P2 — transaction-horizon gate: exclude in-flight transactions so
    * out-of-order id assignment never skips rows; they arrive late, in order,
    * on a later cycle. Ref: 02-stored-procedure.postgres.table.sql:21-31;
    * rationale Documentation/docs/reference/stored-procedure.md:231-243. */
  def horizonGate(changes: DataFrame, horizon: Long, xactCol: String = "xact_id"): DataFrame =
    changes.filter(col(xactCol) < horizon)

  /** P2's default horizon for a change snapshot the caller already holds
    * and knows of no in-flight transaction in: everything in it is
    * committed. The constant `Long.MaxValue`, not a `max(xact_id) + 1`
    * probe: against the same snapshot both gates admit exactly the rows
    * with a non-null `xact_id`, but the probe costs a Spark job per call and
    * overflows (ANSI `ARITHMETIC_OVERFLOW`) when that max is `Long.MaxValue`.
    * The gate is strict, so an `xact_id` of `Long.MaxValue` itself reads as
    * never committed. Callers that can see in-flight transactions pass the
    * real horizon instead. */
  def committedHorizon(changes: DataFrame): Long = Long.MaxValue

  /** P1 + P2 — one incremental read cycle. */
  def incrementalRead(changes: DataFrame, fromVersion: Long, horizon: Long): DataFrame =
    horizonGate(sinceVersion(changes, fromVersion), horizon)

  /** A2 — the watermark computed through the SAME horizon gate as the rows
    * (`COALESCE(MAX(id), from_version)`): the invariant that makes the gate
    * safe. Ref: 02-stored-procedure.postgres.table.sql:26-31. */
  def gatedWatermark(changes: DataFrame, fromVersion: Long, horizon: Long): DataFrame =
    horizonGate(changes, horizon)
      .agg(coalesce(max(col("id")), lit(fromVersion)).as("new_version"))

  /** A1 — max(`$version`) over a parsed batch, defaulting to the envelope
    * version when no row carries one; becomes the next watermark.
    * Ref: Source/Services/ChangeTrackingBackgroundService.cs:588-591. */
  def maxVersion(batch: DataFrame, envelopeVersion: Long, versionCol: String = "version"): DataFrame =
    batch.agg(coalesce(max(col(versionCol)), lit(envelopeVersion)).as("max_version"))

  /** S7 — full initial scan (`InitialSyncMode=Full` / `fromVersion=0`):
    * the entire base table as a `Type:"Full"` envelope (no `$operation`).
    * Ref: 02-stored-procedure.sqlserver.table.sql:22-30. */
  def fullScan(base: DataFrame, reasonCode: Int = 0): DataFrame =
    base.withColumn("sync_type", lit("Full"))
        .withColumn("reason_code", lit(reasonCode))

  /** P3 — stale-watermark fallback: when the requested version predates the
    * server's minimum valid version, reset to a full resync with ReasonCode=1.
    * Ref: 02-stored-procedure.sqlserver.table.sql:17-20;
    * stored-procedure.md:125-133. */
  def readWithStaleFallback(
      changes: DataFrame,
      base: DataFrame,
      fromVersion: Long,
      minValidVersion: Long,
      horizon: Long): DataFrame =
    if (fromVersion < minValidVersion) fullScan(base, reasonCode = 1)
    else incrementalRead(changes, fromVersion, horizon)
      .withColumn("sync_type", lit("Diff"))
      .withColumn("reason_code", lit(0))

  /** S8 — seed / start-from-now: record the current max version, emit no
    * rows. Ref: 02-stored-procedure.postgres.table.sql:34-41;
    * ChangeTrackingBackgroundService.cs:470-479.
    *
    * `horizon` must be the SAME transaction horizon the sync path gates on:
    * seeding from the raw max(id) could watermark past a row inside an
    * in-flight transaction, permanently skipping it once that transaction
    * commits — the exact hazard the horizon gate exists to prevent. */
  def seed(changes: DataFrame, idCol: String = "id",
           horizon: Long = Long.MaxValue): DataFrame =
    changes.filter(col("xact_id") < horizon)
      .agg(coalesce(max(col(idCol)), lit(0L)).as("version"))
      .withColumn("sync_type", lit("Seed"))

  /** S2 — CLOB chunk reassembly: SQL Server streams large JSON as ~2k-char
    * chunks; concatenate non-null chunks in order per document.
    * Ref: ChangeTrackingBackgroundService.cs:492-511.
    *
    * Implemented as a hash aggregation (one group per document) with an
    * in-group sort — no global sort, no window, scales linearly with the
    * number of documents. */
  def reassembleChunks(
      chunks: DataFrame,
      keyCol: String,
      idxCol: String,
      chunkCol: String): DataFrame =
    chunks
      .filter(col(chunkCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col(idxCol).as("i"), col(chunkCol).as("c")))),
            x => x.getField("c")),
          "").as("doc"))

  /** SCD2 (slowly-changing-dimension type 2) interval reconstruction over
    * the versioned change stream — the canonical downstream consumer of the
    * relay's CDC output: each change row opens a version valid in id space
    * `[valid_from, valid_to)` where `valid_to` is the key's NEXT change id
    * (NULL while current); a row is the key's live version iff it is last
    * AND not a delete. Deletes still emit a (closed-at-next-insert or
    * current-tombstone) interval so consumers can distinguish "deleted" from
    * "never existed" — the same tri-state discipline as the `$changed`
    * column mask.
    *
    * One key-partitioned window (lead) — a single shuffle on the entity
    * key, exactly the partitioning every per-key consumer downstream needs
    * anyway. Intervals are in version/id space, not time: ids are the
    * reference's total order ("Versions are read as 64-bit signed
    * integers", stored-procedure.md:84) and stay exact cross-engine. */
  def scd2Intervals(changes: DataFrame, keyCol: String, idCol: String,
                    opCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(idCol))
    changes
      .withColumn("valid_from", col(idCol))
      .withColumn("valid_to", lead(col(idCol), 1).over(w))
      .withColumn("is_current",
        col("valid_to").isNull && col(opCol) =!= "D")
  }
}
