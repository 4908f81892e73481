package graft

import org.apache.spark.sql.SparkSession

/** Shared plumbing for the driver-facing mains (Verify/Bench/PlanAudit):
  * ONE session configuration and ONE JSON escaper, so the correctness dump
  * and the benchmark always measure the same engine configuration and emit
  * driver-parseable JSON the same way. */
object Harness {

  /** The canonical local session: shuffle partitions = cores, small file
    * splits (the test parquet is one ~15 MB file per table — split it so
    * narrow pipelines parallelize like real file splits on a cluster),
    * UTC, Graft extensions registered. */
  def session(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      // 256k (r18, was 1m): Spark's split size is
      // min(maxPartitionBytes, max(openCostInBytes, bytes/defaultParallelism)),
      // so openCost is the floor on split granularity for MB-scale single
      // files — at the sf1.0 decade the 6 MB documents corpus split into 6
      // tasks and the map-heavy BPE queries ran 2.4-5× slower than at 24
      // tasks (three-leg same-JVM A/B, the 4m return leg slowest — not
      // warmth; BENCHNOTES "Comment-only A/Bs"). Local file opens cost
      // ~nothing, unlike the cloud-store assumption behind Spark's 4 MB
      // default; real corpora are many files and never feel this knob.
      .config("spark.sql.files.openCostInBytes", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20) —
    * a stray tab/CR in builder-authored SQL would otherwise break the
    * driver's json.load and zero a round's correctness. */
  def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
