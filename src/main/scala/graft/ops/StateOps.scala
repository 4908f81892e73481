package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Watermark / pause / routing state operators and the operational queries
  * over them.
  *
  * Ref: Source/Services/ChangeTrackingBackgroundService.cs:608-642,
  * Source/Services/PauseService.cs:27-69, Source/Services/DeadLetterReplayer.cs:49-72,
  * Source/Services/EnvironmentConfigService.cs:83-155, Program.cs:930-977.
  */
object StateOps {

  /** The key of the watermark table: one row per (environment, object). */
  val WatermarkKey: Seq[String] = Seq("environment_name", "object_name")

  /** Keyed replace, the one control-table merge: `state` rows whose `keys`
    * are not in `updates`, plus all of `updates` (no keys: an append). A
    * small `updates` is broadcast into the anti-join — no shuffle. */
  def upsert(state: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = state.columns.toSeq.map(col)
    val kept =
      if (keys.isEmpty) state
      else state.join(updates.select(keys.map(col): _*), keys, "left_anti")
    kept.select(cols: _*).unionByName(updates.select(cols: _*))
  }

  /** J6 — watermark upsert: `INSERT … ON CONFLICT (env, object) DO UPDATE`.
    * [[upsert]] on (environment, object): the update wins, untouched rows
    * survive, new keys insert.
    * Ref: ChangeTrackingBackgroundService.cs:625-642. */
  def watermarkUpsert(state: DataFrame, updates: DataFrame): DataFrame =
    upsert(state, updates, WatermarkKey)

  /** W4 — latest state per key from a log-structured state table. */
  def latestPerKey(log: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc)
    log.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Mask-aware CDC snapshot apply: fold the versioned change stream into
    * the CURRENT state per entity — the reference's tri-state `$changed`
    * discipline materialized (a column's current value is the latest
    * write that actually CARRIED it: any `I` (full payload by contract —
    * stored-procedure.md:62-70) or a `U` whose mask names the column /
    * has no mask; a masked-out `U` leaves the column at its prior value,
    * which is exactly the absent-key reading of
    * 02-stored-procedure.postgres.column.sql:120-133). Entities whose
    * last operation is `D` are gone from the snapshot.
    *
    * Scale shape: ONE entity-keyed aggregation — per payload column a
    * conditional `max(struct(id, value))` (lexicographic max on the
    * unique id = arg-max of the latest visible write) with map-side
    * partials; no window, no join, no per-version row retention. Prior
    * snapshots compose: re-emitting a snapshot row as a synthetic full
    * `I` at its `last_id` and applying the next delta reproduces the
    * one-shot fold (spec-pinned on generated valid streams). */
  def applyCdc(changes: DataFrame, keyCol: String, idCol: String,
               opCol: String, maskCol: String,
               payloadCols: Seq[String]): DataFrame = {
    def visible(c: String) = col(opCol) === "I" ||
      (col(opCol) === "U" &&
        (col(maskCol).isNull || array_contains(col(maskCol), c)))
    val aggs = Seq(
      max(col(idCol)).as("last_id"),
      max_by(col(opCol), col(idCol)).as("_last_op")) ++
      payloadCols.map(c =>
        max(when(visible(c), struct(col(idCol).as("_i"), col(c).as("_v"))))
          .getField("_v").as(c))
    changes.groupBy(col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("_last_op") =!= "D")
      .drop("_last_op")
  }

  /** A7 — per-environment rollup of the watermark table (object count,
    * frontier versions). Ref: Program.cs:930-977. */
  def envRollup(state: DataFrame): DataFrame =
    state.groupBy(col("environment_name"))
      .agg(
        count(lit(1)).as("objects"),
        min(col("last_version")).as("min_version"),
        max(col("last_version")).as("max_version"))

  /** P7 — pause filter: drop objects whose environment scope or object scope
    * is held. Scopes are lowercase `env:<env>` / `obj:<env>/<obj>`; one read
    * of the pause table per cycle, applied as a broadcast anti-join (the
    * pause table is tiny by construction).
    * Ref: ChangeTrackingBackgroundService.cs:348-382; PauseService.cs:27-69. */
  def pauseFilter(objects: DataFrame, pauses: DataFrame,
                  envCol: String = "environment_name",
                  objCol: String = "object_name"): DataFrame = {
    val envScope = concat(lit("env:"), lower(col(envCol)))
    val objScope = concat(lit("obj:"), lower(col(envCol)), lit("/"), lower(col(objCol)))
    val p = broadcast(pauses.select(col("scope")))
    objects
      .withColumn("_env_scope", envScope)
      .withColumn("_obj_scope", objScope)
      .join(p, col("_env_scope") === col("scope"), "left_anti")
      .join(p, col("_obj_scope") === col("scope"), "left_anti")
      .drop("_env_scope", "_obj_scope")
  }

  /** P10 — routing lookup: resolve environment then object case-
    * insensitively against the config dimension; unmatched rows are marked
    * Unroutable (and parked by [[Dlq.retryState]]). Broadcast join — the
    * config dimension is per-deployment small.
    * Ref: DeadLetterReplayer.cs:49-62. */
  def route(rows: DataFrame, config: DataFrame): DataFrame = {
    val dim = broadcast(config.select(
      lower(trim(col("environment_name"))).as("_cfg_env"),
      lower(trim(col("object_name"))).as("_cfg_obj"),
      col("endpoint_key")))
    rows.join(dim,
        lower(trim(col("environment_name"))) === col("_cfg_env") &&
        lower(trim(col("tracking_object_name"))) === col("_cfg_obj"),
        "left_outer")
      .withColumn("routed", col("endpoint_key").isNotNull)
      .drop("_cfg_env", "_cfg_obj")
  }

  /** J3 — config-route fan-out: every change batch goes to every endpoint of
    * its environment (broadcast-to-all). Small-dimension cross join →
    * Catalyst broadcasts the endpoint side.
    * Ref: ExportService.cs:51-154; Documentation/docs/guide/export-http.md:8. */
  def fanOut(batch: DataFrame, endpoints: DataFrame): DataFrame =
    batch.crossJoin(broadcast(endpoints))

  /** J4 — health config join: objects resolve their connection string by
    * database key, first match wins. Ref: Health/HealthCheckService.cs:106-120. */
  def healthJoin(objects: DataFrame, connStrings: DataFrame): DataFrame = {
    val dim = broadcast(
      connStrings.groupBy(col("database_name"))
        .agg(min(col("conn_string")).as("conn_string")))
    objects.join(dim, Seq("database_name"), "left_outer")
  }

  /** J5 — interval-overlap theta self-join: the reference's stress oracle
    * proving no two pollers ran concurrently in one environment.
    * Ref: Tests/Trignis.Tests/Stress/DuplicatePollerStressTests.cs:74-82.
    *
    * Implemented as a BANDED range join: each interval is exploded onto the
    * fixed-width time buckets it touches and the self-join runs on
    * (env, bucket), so candidates are only intervals near each other in
    * time. A plain env-equi-join with range residuals degenerates to
    * |env|² comparisons (measured: 84 s at sf0.1, and quadratic beyond);
    * banding keeps it linear in rows × bucket occupancy, which is the only
    * shape that survives 100 TB. Pairs spanning several buckets are kept
    * only in the canonical bucket of the overlap start (a pure filter — no
    * distinct() shuffle).
    *
    * Precondition: intervals are well-formed (`started_at <= ended_at`) —
    * the canonical-bucket coverage proof relies on it. The probe fixture
    * guarantees this (duration = floor(value*10) >= 0); filter malformed
    * rows upstream if the source cannot. */
  def intervalOverlaps(probe: DataFrame, bucketSeconds: Long = 3600): DataFrame = {
    def side(p: String) = probe.select(col("env"), col("id").as(s"${p}_id"),
        col("started_at").as(s"${p}_start"), col("ended_at").as(s"${p}_end"))
      .withColumn("_bucket", explode(sequence(
        floor(col(s"${p}_start") / bucketSeconds).cast("long"),
        floor(col(s"${p}_end") / bucketSeconds).cast("long"))))
    side("a").join(side("b"), Seq("env", "_bucket"))
      .filter(
        col("a_id") < col("b_id") &&
        col("a_start") < col("b_end") && col("b_start") < col("a_end") &&
        // Canonical-bucket dedup: a pair overlapping across several buckets
        // matches the join in each of them — count it only in the bucket
        // holding the overlap start (max of the two starts, which both
        // intervals cover). Pure filter, so no distinct() shuffle over the
        // full output.
        col("_bucket") ===
          floor(greatest(col("a_start"), col("b_start")) / bucketSeconds).cast("long"))
      .drop("_bucket")
  }

  /** SET1 — config diff on reload: added / removed / updated object sets.
    * Ref: EnvironmentConfigService.cs:83-155. */
  def configDiff(oldCfg: DataFrame, newCfg: DataFrame,
                 keyCol: String, valueCol: String): DataFrame = {
    val o = oldCfg.select(col(keyCol).as("key"), col(valueCol).as("old_value"))
    val n = newCfg.select(col(keyCol).as("key"), col(valueCol).as("new_value"))
    o.join(n, Seq("key"), "full_outer")
      .withColumn("change",
        when(col("old_value").isNull, "added")
          .when(col("new_value").isNull, "removed")
          .when(!(col("old_value") <=> col("new_value")), "updated"))
      .filter(col("change").isNotNull)
      .select(col("key"), col("change"), col("old_value"), col("new_value"))
  }
}
