package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's JVM side. It drives graft only through public entry
  * points and writes one raw JSON record (timings, samples, job trace,
  * correctness findings) that `run.py` turns into metrics.
  *
  * Usage: Main workload=<name> data=<dir> work=<dir> out=<file>
  *        seconds=<n> trace=<0|1> [workload parameters]
  */
object Main {

  /** The outbox change-table contract the relay reads (FIXTURES.md §2). */
  val changeSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("xact_id", LongType),
    StructField("operation", StringType), StructField("value", DoubleType),
    StructField("props", StringType), StructField("changed", ArrayType(StringType))))

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
    def int(k: String): Int = apply(k).toInt
    def dbl(k: String): Double = apply(k).toDouble
    def path(k: String): Path = Paths.get(apply(k))
  }

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors()).toString
    val spark = graft.Harness.session(cpus)
    val trace = new JobTrace
    spark.sparkContext.addSparkListener(trace)
    val ctx = Ctx(spark, args, trace, args("trace") == "1")
    // Exit explicitly either way: the receiver's server threads would keep
    // a failed run's JVM alive.
    val code =
      try {
        val result = args("workload") match {
          case "relay_fanout" => Fanout.run(ctx)
          case "relay_initial_sync" => InitialSync.run(ctx)
          case "registry" => RegistryRun.run(ctx)
          case w => sys.error(s"unknown workload $w")
        }
        Files.writeString(args.path("out"), Json.write(result))
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }
}

/** Shared run context plus the measured-window helpers every workload uses. */
final case class Ctx(spark: SparkSession, args: Main.Args, trace: JobTrace, traced: Boolean) {

  /** Setup ends here, just before the first timed operation: the epoch
    * millisecond the launcher subtracts its own start time from. */
  def setupDone(): Long = System.currentTimeMillis()

  /** In a traced run every second operation (cycle, pass) runs with the
    * listener on, so one run yields the per-layer split from the traced
    * operations and the tracing overhead against the untraced ones, with
    * warm-up drift falling on both alike. */
  def tracedOp(index: Int): Boolean = traced && index % 2 == 1

  /** Operations a window runs at least: a traced run needs one of each kind. */
  val minOps: Int = if (traced) 2 else 1

  private var gcMs, janinoN = 0L
  private var janinoMs = 0.0
  private var peaksReset = false

  /** Run one operation, traced or not; a traced one also adds its GC and
    * Janino deltas to the layer counters. */
  def op[T](traced: Boolean)(f: => T): T =
    if (!traced) f
    else {
      if (!peaksReset) { JvmStats.resetPeaks(); peaksReset = true }
      val g0 = JvmStats.gcMs
      val (n0, m0) = JvmStats.janino
      trace.enabled = true
      try f
      finally {
        trace.enabled = false
        val (n1, m1) = JvmStats.janino
        gcMs += JvmStats.gcMs - g0
        janinoN += n1 - n0
        janinoMs += math.max(0.0, n1 * m1 - n0 * m0)
      }
    }

  def layerCounters(): Map[String, Any] = Map("gc_s" -> gcMs / 1000.0,
    "heap_peak_mb" -> (if (peaksReset) JvmStats.heapPeakMb else 0.0),
    "janino_compiles" -> janinoN, "janino_s" -> janinoMs / 1000.0)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally walk.close()
  }

  def changes(dir: Path): DataFrame =
    spark.read.schema(Main.changeSchema).parquet(dir.toString)

  def nowUtc: String = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
    .format(java.time.LocalDateTime.now(java.time.ZoneOffset.UTC))
}
