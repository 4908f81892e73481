package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Incremental

/** Source contracts: the pluggable procedure-shaped source (U1/S1) and its
  * offline implementations.
  *
  * The reference's single user extension point is the stored procedure:
  * one JSON param `{"fromVersion":N,"mode":"sync"|"seed"}` in, one JSON
  * envelope out (Documentation/docs/reference/stored-procedure.md:12-93).
  * The Spark-native analog is a function `(spark, fromVersion, mode) →
  * DataFrame` — a UDTF-shaped contract where the returned frame carries the
  * change rows plus their version column.
  */
object SyncMode extends Enumeration {
  val Sync, Seed = Value
}

/** U1 — the pluggable source contract. Implementations must honor:
  *  - `Sync`: rows with version > fromVersion, horizon-gated, plus the new
  *    watermark observable via max(version) (gated the same way);
  *  - `Seed`: zero rows; the frontier version only.
  */
trait ChangeSource {
  def fetch(spark: SparkSession, fromVersion: Long, mode: SyncMode.Value): DataFrame

  /** S4 analog — the current server-side frontier. */
  def currentVersion(spark: SparkSession): Long
}

/** S1 (offline flavor) — incremental scan over a versioned change table
  * (the outbox). At deployment the same contract fronts a per-cycle JDBC
  * procedure call (no Catalyst strategy can push a procedure invocation, so
  * that flavor is a driver-side fetch per micro-batch — SURVEY §4). */
final class OutboxSource(outbox: () => DataFrame,
                         horizonOf: DataFrame => Long = Incremental.committedHorizon)
    extends ChangeSource {

  override def fetch(spark: SparkSession, fromVersion: Long, mode: SyncMode.Value): DataFrame = {
    val df = outbox()
    mode match {
      // Seed gates on the same horizon as Sync: an un-gated seed could
      // watermark past an in-flight transaction's rows and skip them
      // forever once that transaction commits.
      case SyncMode.Seed => Incremental.seed(df, horizon = horizonOf(df))
      case SyncMode.Sync =>
        Incremental.incrementalRead(df, fromVersion, horizonOf(df))
    }
  }

  override def currentVersion(spark: SparkSession): Long = {
    val df = outbox()
    Incremental.gatedWatermark(df, 0L, horizonOf(df))
      .collect()(0).getLong(0)
  }
}

/** S1 (JDBC flavor), guard-level: renders the dialect call + parameter the
  * reference sends, without a live database (zero egress here). The
  * per-dialect call templates mirror Source/Data/SqlDialect.cs:52,70. */
object ProcedureCall {
  /** The single JSON parameter (stored-procedure.md:16-24). */
  def parameter(fromVersion: Long, mode: SyncMode.Value): String =
    s"""{"fromVersion":$fromVersion,"mode":"${if (mode == SyncMode.Seed) "seed" else "sync"}"}"""

  def callSql(provider: String, procName: String): Option[String] =
    graft.runtime.Config.dialect(provider).map(_.callSql(procName))
}
