package perfbench

import graft.model.{EnvironmentConfig, SinkEndpoint, TrackingObject}
import graft.state.ParquetStateStore
import graft.streaming.ChangeRelay
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** relay_initial_sync: one object with `initialSyncMode = "Full"` over a
  * large change table. Each pass resets the watermark and runs one full-sync
  * cycle, so the whole table goes through the incremental read, batch
  * numbering, envelope encode and the executor-side fan-out to a file sink
  * and a gzip HTTP sink; control state is a single row. */
object InitialSync {

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val data = ctx.args.path("data")
    val work = ctx.args.path("work")
    val rows = ctx.args.apply("rows").toLong
    val cap = ctx.args.int("batch_rows")
    val store = new ParquetStateStore(spark, work.resolve("state").toString)
    val rx = new Receiver
    val sinkDir = work.resolve("sink")
    val obj = TrackingObject("events", "db0", "t_events", "sp_events", initialSyncMode = "Full")
    val config = EnvironmentConfig("bulk", "postgres", Seq(obj),
      Seq(SinkEndpoint("receiver", "http", s"http://127.0.0.1:${rx.port}/live/{object}/{batch}",
        enableCompression = true)),
      maxRecordsPerBatch = cap)
    val relay = new ChangeRelay(spark, store, config,
      Some(sinkDir.toString + "/{object}/{batch}-{guid}.json"), performHttp = true)
    val table = data.resolve("sync_table")
    val failures = mutable.LinkedHashMap.empty[String, Int]
    def fail(what: String): Unit = failures(what) = failures.getOrElse(what, 0) + 1
    val expectedEnvelopes = ((rows + cap - 1) / cap).toInt

    /** One pass: watermark reset, then one full-sync cycle, timed; then,
      * untimed, the check of what it delivered. */
    def pass(traced: Boolean): Map[String, Any] = {
      val c0 = System.currentTimeMillis()
      val commits0 = store.commitCount
      val (exported, wm) = ctx.op(traced) {
        try {
          store.resetWatermark(config.name, obj.name)
          relay.runCycles(Seq(obj -> ctx.changes(table)), ctx.nowUtc)(obj.name)
        } catch { case e: Exception => e.printStackTrace(); (-1L, -1L) }
      }
      val c1 = System.currentTimeMillis()
      val reqs = rx.drain()
      // Versions 1..N, each exactly once, in ceil(N / cap) envelopes and files.
      val seen = new java.util.BitSet(rows.toInt + 1)
      var dup = false
      reqs.foreach(r => Receiver.versions(Receiver.text(r)).foreach { v =>
        if (v < 1 || v > rows || seen.get(v.toInt)) dup = true else seen.set(v.toInt)
      })
      val files = if (!Files.exists(sinkDir)) Vector.empty else {
        val w = Files.walk(sinkDir)
        try w.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally w.close()
      }
      val ok = !dup && seen.cardinality() == rows && reqs.size == expectedEnvelopes &&
        files.size == expectedEnvelopes && exported == rows && wm == rows
      if (!ok) fail("full_sync_incomplete")
      val rec = Map("start_ms" -> c0, "end_ms" -> c1, "ok" -> ok, "traced" -> traced,
        "envelopes" -> reqs.size, "files" -> files.size,
        "arrivals_s" -> reqs.map(r => (r.arrivalMs - c0) / 1000.0),
        "http_bytes" -> reqs.map(_.body.length.toLong).sum,
        "file_bytes" -> files.map(Files.size).sum,
        "commits" -> (store.commitCount - commits0))
      ctx.deleteTree(sinkDir)
      rec
    }

    (1 to ctx.args.int("warm_passes")).foreach(_ => pass(traced = false))
    val setupDoneMs = ctx.setupDone()

    val t0 = System.currentTimeMillis()
    val windowMs = ctx.args.dbl("seconds") * 1000
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (passes.size < ctx.minOps || System.currentTimeMillis() - t0 < windowMs) {
      passes += pass(ctx.tracedOp(passes.size))
    }
    ctx.trace.settle()
    rx.stop()
    Map("workload" -> "relay_initial_sync", "setup_done_ms" -> setupDoneMs, "rows" -> rows,
      "passes" -> passes,
      "attempted" -> passes.size, "failures" -> failures,
      "jobs" -> ctx.trace.records, "layers" -> ctx.layerCounters())
  }
}
