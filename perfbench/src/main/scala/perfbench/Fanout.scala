package perfbench

import graft.model.{EnvironmentConfig, SinkEndpoint, TrackingObject}
import graft.sinks.Sinks
import graft.state.ParquetStateStore
import graft.streaming.ChangeRelay
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** relay_fanout: many tracked objects with tiny open-loop commits, polled by
  * back-to-back `runCycles` over two environments. The second environment
  * also lists a broker endpoint that always fails (a required field is
  * empty), so every one of its envelopes is dead-lettered, and each cycle's
  * `replayCycle` POSTs the stored data to the receiver, draining the DLQ.
  *
  * Open loop: a generator thread commits each staged change file at its
  * scheduled time whether or not the relay keeps up; delivery latency runs
  * from that scheduled time to the receiver's first arrival of the commit's
  * highest version. */
object Fanout {

  final case class Commit(obj: String, file: Path, minV: Long, maxV: Long, dueMs: Long) {
    @volatile var actualMs = -1L
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val data = ctx.args.path("data")
    val work = ctx.args.path("work")
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(data.resolve("manifest.json")))
    val objs = manifest.get("objects").elements().asScala.toVector
    val store = new ParquetStateStore(spark, work.resolve("state").toString)
    val rx = new Receiver
    val fileTpl = work.resolve("sink").toString + "/{environment}/{object}/{batch}-{guid}.json"
    val live = SinkEndpoint("receiver", "http",
      s"http://127.0.0.1:${rx.port}/live/{environment}/{object}/{batch}")
    // A broker endpoint whose required field is empty fails the guard on
    // every envelope, so this environment dead-letters everything it sends.
    val broken = SinkEndpoint("broker", "kafka", "graft-changes",
      headers = Map("sasl.password" -> ""))
    def tracked(env: String) = objs.filter(_.get("env").asText == env).map { o =>
      val n = o.get("name").asText
      (TrackingObject(n, "db0", s"t_$n", s"sp_$n"), data.resolve(o.get("table").asText))
    }
    val envs = Seq("primary" -> Seq(live), "secondary" -> Seq(live, broken)).map {
      case (name, endpoints) =>
        val objects = tracked(name)
        val config = EnvironmentConfig(name, "postgres", objects.map(_._1), endpoints)
        (name, new ChangeRelay(spark, store, config, Some(fileTpl), performHttp = true), objects)
    }
    val replayer = envs.last._2

    val lastWm = mutable.Map.empty[String, Long]
    val failures = mutable.LinkedHashMap.empty[String, Int]
    def fail(what: String): Unit = failures(what) = failures.getOrElse(what, 0) + 1
    val replayedBodies = mutable.Set.empty[String]

    /** Replay the failing environment's due dead letters to the receiver.
      * A (key, body) pair offered twice in one batch breaks DLQ dedup. */
    def replay(): Long = {
      val batch = mutable.Set.empty[(String, String)]
      replayer.replayCycle((key: String, body: String) => {
        if (!batch.add((key, body))) fail("dlq_duplicate_in_replay_batch")
        val sent = Sinks.httpPost(Sinks.HttpRequest(s"http://127.0.0.1:${rx.port}/replay/$key",
          Map("Content-Type" -> "application/json"), body.getBytes("UTF-8"))).isRight
        if (sent) replayedBodies += body
        sent
      }, new java.sql.Timestamp(System.currentTimeMillis()))._1
    }

    /** One polling cycle: every environment's batched cycle, then the
      * replay of the failing environment's dead letters. */
    def cycle(): Map[String, Any] = {
      val c0 = System.currentTimeMillis()
      val commits0 = store.commitCount
      envs.foreach { case (_, relay, objects) =>
        try {
          val out = relay.runCycles(objects.map { case (o, dir) => (o, ctx.changes(dir)) }, ctx.nowUtc)
          out.foreach { case (name, (_, wm)) =>
            if (lastWm.get(name).exists(_ > wm)) fail("watermark_regressed")
            lastWm(name) = wm
          }
        } catch { case e: Exception => fail("cycle_threw"); e.printStackTrace() }
      }
      val r0 = System.currentTimeMillis()
      val ok = try replay() catch { case e: Exception => fail("replay_threw"); e.printStackTrace(); 0L }
      val c1 = System.currentTimeMillis()
      Map("start_ms" -> c0, "end_ms" -> c1, "replay_ms" -> (c1 - r0), "replayed" -> ok,
        "commits" -> (store.commitCount - commits0))
    }

    def stage(c: Commit): Unit = {
      val tableDir = data.resolve(objs.find(_.get("name").asText == c.obj).get.get("table").asText)
      Files.move(c.file, tableDir.resolve(c.file.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
    def commitsOf(key: String, t0: Long): Vector[Commit] = objs.flatMap { o =>
      o.get(key).elements().asScala.map { c =>
        Commit(o.get("name").asText, data.resolve(c.get("file").asText),
          c.get("min").asLong, c.get("max").asLong, t0 + (c.get("due_s").asDouble * 1000).toLong)
      }
    }.sortBy(_.dueMs)

    // ---- setup: every object starts at its table's frontier, then the
    // warm commits take the export path once before the clock starts ----
    val warmCycles = ctx.args.int("warm_cycles")
    val baseMax = objs.map(o => o.get("name").asText -> o.get("base_max").asLong).toMap
    store.setWatermarks(envs.flatMap { case (env, _, objects) =>
      objects.map { case (o, _) => (env, o.name, baseMax(o.name)) }
    })
    commitsOf("warm", 0L).foreach(stage)
    (1 to warmCycles).foreach(_ => cycle())
    rx.drain()
    val setupDoneMs = ctx.setupDone()

    // ---- timed window ----
    val t0 = System.currentTimeMillis()
    val commits = commitsOf("commits", t0)
    @volatile var generatorDoneMs = Long.MaxValue
    val generator = new Thread(() => {
      commits.foreach { c =>
        val wait = c.dueMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        stage(c)
        c.actualMs = System.currentTimeMillis()
      }
      generatorDoneMs = System.currentTimeMillis()
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()

    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    var deadLettered = 0L
    var done = false
    while (!done) {
      val traced = ctx.tracedOp(cycles.size)
      // Rows dead-lettered by a traced cycle: the DLQ's growth plus what the
      // cycle's replay removed (read outside the cycle's own timing).
      val dlq0 = if (traced) store.deadLetters.count() else 0L
      val startedAfterGenerator = System.currentTimeMillis() > generatorDoneMs
      val c = ctx.op(traced)(cycle())
      if (traced)
        deadLettered += store.deadLetters.count() - dlq0 + c("replayed").asInstanceOf[Long]
      cycles += (c + ("traced" -> traced))
      done = startedAfterGenerator && cycles.size >= ctx.minOps
    }
    generator.join()
    ctx.trace.settle()
    val dlqEnd = store.deadLetters.count()

    // ---- checks, untimed ----
    val dupLetters = store.deadLetters.groupBy("source_key", "data_hash").count()
      .filter("count > 1").count()
    if (dupLetters > 0) fail("dlq_not_unique")
    var drains = 0
    while (store.deadLetters.count() > 0 && drains < 10) { replay(); drains += 1 }
    if (store.deadLetters.count() > 0) fail("dlq_not_drained")
    val reqs = rx.drain()
    rx.stop()
    val liveReqs = reqs.filter(_.path.startsWith("/live/"))
    val firstArrival = mutable.Map.empty[(String, Long), Long]
    liveReqs.foreach { r =>
      val obj = r.path.split("/")(3)
      val body = Receiver.text(r)
      Receiver.versions(body).foreach { v =>
        val k = (obj, v)
        if (firstArrival.get(k).forall(_ > r.arrivalMs)) firstArrival(k) = r.arrivalMs
      }
      // Every envelope of the failing environment was dead-lettered, so
      // the drain must have replayed exactly that body.
      if (r.path.startsWith("/live/secondary/") && !replayedBodies.contains(body))
        fail("dead_letter_not_replayed")
    }
    val commitRecs = commits.map { c =>
      val complete = (c.minV to c.maxV).forall(v => firstArrival.contains((c.obj, v)))
      if (!complete) fail("commit_not_delivered")
      Map("obj" -> c.obj, "due_ms" -> (c.dueMs - t0),
        "actual_ms" -> (if (c.actualMs < 0) -1L else c.actualMs - t0),
        "delivered_ms" -> firstArrival.get((c.obj, c.maxV)).map(_ - t0).getOrElse(-1L))
    }
    val tracedCycles = cycles.filter(_("traced") == true)
      .map(c => (c("start_ms").asInstanceOf[Long], c("end_ms").asInstanceOf[Long]))
    def inTraced(ms: Long) = tracedCycles.exists { case (a, b) => a <= ms && ms <= b }
    val sinkFiles = {
      val w = Files.walk(work.resolve("sink"))
      try w.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        inTraced(Files.getLastModifiedTime(p).toMillis)).toVector
      finally w.close()
    }
    val tracedReqs = reqs.filter(r => inTraced(r.arrivalMs))

    Map("workload" -> "relay_fanout", "setup_done_ms" -> setupDoneMs,
      "cycles" -> cycles, "commits" -> commitRecs,
      "attempted" -> (cycles.size + commits.size),
      "failures" -> failures,
      "jobs" -> ctx.trace.records, "layers" -> (ctx.layerCounters() ++ Map(
        "dlq_rows" -> dlqEnd,
        "envelopes" -> tracedReqs.count(_.path.startsWith("/live/")),
        "http_requests" -> tracedReqs.size,
        "http_bytes" -> tracedReqs.map(_.body.length.toLong).sum,
        "files" -> sinkFiles.size,
        "file_bytes" -> sinkFiles.map(Files.size).sum,
        "sink_failures" -> deadLettered)))
  }
}
