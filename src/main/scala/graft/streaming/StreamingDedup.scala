package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import graft.ops.DedupOps
import graft.state.ParquetStateStore

/** Structured-Streaming flavor of [[DedupOps.incrementalNearDedup]]: a
  * continuous ingest where each micro-batch is admitted against the
  * committed LSH (band, bucket) set, survivors land in a per-batch output
  * directory, and the enlarged bucket set commits back to the state store —
  * batch-over-batch admission whose concatenated output equals running the
  * batch operator over the same batches in arrival order
  * (`llm_incremental_neardedup` semantics, proven in StreamingDedupSpec).
  *
  * Exactly-once across micro-batch REPLAYS (foreachBatch is at-least-once)
  * without a driver-side log:
  *   - survivors write `overwrite` into `survivorsDir/batch=<id>` — a
  *     replayed batch rewrites its own directory idempotently;
  *   - the bucket state and the id of the batch that produced it commit in
  *     ONE atomic pointer flip ([[ParquetStateStore.commitBatch]]) — two
  *     separate commits could crash apart and leave a batch half-applied
  *     (admission against post-batch state recomputes DIFFERENT survivors);
  *   - a batch id at-or-below [[ParquetStateStore.committedBatch]]
  *     short-circuits: its survivors directory and state contribution
  *     already landed.
  *
  * Scale: state is one row per distinct (band, bucket) — signatures, not
  * corpus rows — and each micro-batch does hash semi/anti joins against it
  * exactly like the batch operator; nothing re-reads prior batches. */
object StreamingDedup {

  private val SeenTable = "seen_buckets"
  private val seenSchema = new StructType().add("band", IntegerType).add("bucket", StringType)

  /** Admitted-state read, shaped for [[DedupOps.incrementalNearDedup]]. */
  def seenBuckets(store: ParquetStateStore): DataFrame =
    store.read(SeenTable, seenSchema)

  /** Run one micro-batch's admission; exposed for direct reuse and for the
    * spec's batch-oracle replay. Returns the survivor count. */
  def admitBatch(store: ParquetStateStore, batch: DataFrame, batchId: Long,
      survivorsDir: String, idCol: String, textCol: String,
      numPerms: Int, bands: Int): Long = {
    if (batchId <= store.committedBatch(SeenTable)) return 0L // replay of a landed batch
    val (survivors, updatedSeen) = DedupOps.incrementalNearDedup(
      batch, seenBuckets(store), idCol, textCol, numPerms, bands)
    // Idempotent per-batch output first, atomic state commit second: a
    // crash between them replays the batch against UNCHANGED state and
    // rewrites the identical directory.
    survivors.write.mode(SaveMode.Overwrite)
      .parquet(s"$survivorsDir/batch=$batchId")
    store.commitBatch(SeenTable, updatedSeen, batchId)
    survivors.count()
  }

  /** Start the continuous query: `stream` must carry `idCol` and `textCol`.
    * One query per state store — admission is ordered by micro-batch. */
  def start(spark: SparkSession, stream: DataFrame, store: ParquetStateStore,
      survivorsDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      numPerms: Int = 8, bands: Int = 4): StreamingQuery =
    ForeachBatch.start(stream,
        s"graft-neardedup-${survivorsDir.hashCode.toHexString}", checkpointDir) {
      (batch, batchId) =>
        admitBatch(store, batch, batchId, survivorsDir, idCol, textCol, numPerms, bands)
    }
}
