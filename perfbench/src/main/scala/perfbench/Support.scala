package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Minimal JSON writer over plain Scala values (Map, Seq, String, numbers,
  * Boolean, None). The benchmark's raw record is read by the Python side. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + graft.Harness.jsonEscape(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }
}

/** Loopback HTTP receiver with one handler thread: it reads the body,
  * answers 200 and queues (arrival ms, path, body, gzip flag). Parsing
  * happens after the timed window so it never slows the sender. */
final class Receiver {
  import Receiver.Req
  val received = new ConcurrentLinkedQueue[Req]()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.createContext("/", (ex: HttpExchange) => {
    val body = ex.getRequestBody.readAllBytes()
    val gz = "gzip".equalsIgnoreCase(ex.getRequestHeaders.getFirst("Content-Encoding"))
    received.add(Req(System.currentTimeMillis(), ex.getRequestURI.getPath, body, gz))
    ex.sendResponseHeaders(200, -1)
    ex.close()
  })
  server.setExecutor(java.util.concurrent.Executors.newSingleThreadExecutor())
  server.start()
  val port: Int = server.getAddress.getPort

  def drain(): Vector[Req] = {
    val b = Vector.newBuilder[Req]
    var r = received.poll()
    while (r != null) { b += r; r = received.poll() }
    b.result()
  }

  def stop(): Unit = server.stop(0)
}

object Receiver {
  final case class Req(arrivalMs: Long, path: String, body: Array[Byte], gzip: Boolean)

  private val VersionRe = "\"\\$version\":(\\d+)".r

  def text(r: Req): String =
    if (r.gzip) new String(new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(r.body)).readAllBytes(), "UTF-8")
    else new String(r.body, "UTF-8")

  /** Every `$version` carried by one envelope's Data rows. */
  def versions(json: String): Iterator[Long] =
    VersionRe.findAllMatchIn(json).map(_.group(1).toLong)
}

/** Records every Spark job from outside the engine through the public
  * listener API: its wall interval, its call site and the task metrics of
  * its stages. The call site (innermost frame first) is that of the job's
  * SQL execution when it has one, because jobs that adaptive execution
  * submits from its own threads carry no user frames in their stages;
  * otherwise it is the result stage's `details`. Events are kept only while
  * `enabled` is set. */
final class JobTrace extends SparkListener {
  final class JobRec(val id: Int, val startMs: Long, val stageSite: String, val execId: String) {
    @volatile var endMs: Long = -1L
    var stages, tasks = 0
    var cpuNs, runMs, shuffleWrite, spill = 0L
  }
  @volatile var enabled = false
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val execSites = new java.util.concurrent.ConcurrentHashMap[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if enabled =>
      execSites.put(s.executionId.toString, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val execId = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    e.stageIds.foreach(s => stageToJob.putIfAbsent(s, e.jobId))
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, site, execId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageToJob.get(info.stageId)).flatMap(j => Option(jobs.get(j))).foreach { rec =>
      rec.synchronized {
        rec.stages += 1
        rec.tasks += info.numTasks
        val m = info.taskMetrics
        if (m != null) {
          rec.cpuNs += m.executorCpuTime
          rec.runMs += m.executorRunTime
          rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Wait until every recorded job has ended and its events are in. */
  def settle(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
  }

  def records: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map { r =>
    r.synchronized {
      Map("id" -> r.id, "start_ms" -> r.startMs, "end_ms" -> r.endMs,
        "call_site" -> Option(execSites.get(r.execId)).getOrElse(r.stageSite), "stages" -> r.stages, "tasks" -> r.tasks,
        "cpu_ns" -> r.cpuNs, "run_ms" -> r.runMs, "shuffle_write" -> r.shuffleWrite,
        "spill" -> r.spill)
    }
  }
}

/** JVM-level counters read around a measured window. */
object JvmStats {
  import java.lang.management.ManagementFactory
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def resetPeaks(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  def janino: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
