package perfbench

import graft.runtime.ExecPolicy
import java.nio.file.Files
import scala.collection.mutable

/** registry: a fixed slice of `SparkEntry.queries`, each forced exactly as
  * `graft.Bench` forces it (`ExecPolicy.run` + noop write) and timed from
  * the query's construction to the end of its write. Setup is Bench's
  * class warm-up plus one untimed pass that writes every result for the
  * DuckDB oracle check (run after the JVM exits); that pass also builds the
  * session-cached fixtures and models the slice uses, which Bench builds
  * for the whole registry up front. */
object RegistryRun {

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val dir = ctx.args.path("data").resolve("tables").toString
    val outDir = ctx.args.path("work").resolve("results")
    val registry = graft.SparkEntry.queries
    val names = ctx.args("queries").split(",").toSeq
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"not registered: ${unknown.mkString(",")}")
    val errors = mutable.LinkedHashMap.empty[String, String]
    def attempt(name: String)(f: => Unit): Boolean =
      try { f; true } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300); false
      }

    val startMs = System.currentTimeMillis()
    attempt("_warm_classes") {
      import org.apache.spark.sql.functions._
      spark.range(256)
        .select(col("id"), graft.functions.Scalars.gunzip(
          graft.functions.Scalars.gzip(concat(lit("warm"), col("id")).cast("binary"))).as("rt"),
          sha2(concat(lit("w"), col("id")), 256).as("h"))
        .groupBy(length(col("rt")).as("k")).agg(count(lit(1)).as("n"), max(col("h")))
        .write.format("noop").mode("overwrite").save()
    }
    val warmedMs = System.currentTimeMillis()
    names.foreach { n =>
      attempt(n)(ExecPolicy.run(registry(n)(spark, dir).coalesce(1))(
        _.write.mode("overwrite").parquet(outDir.resolve(n).toString)))
    }
    System.err.println(s"[perfbench] registry warm-up ${(warmedMs - startMs) / 1000.0} s, " +
      s"result pass ${(System.currentTimeMillis() - warmedMs) / 1000.0} s")
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(outDir.resolve("oracle_sql.json"), Json.write(oracle))
    Files.writeString(outDir.resolve("errors.json"), Json.write(errors.filter(!_._1.startsWith("_"))))
    val setupDoneMs = ctx.setupDone()

    // Timed passes over the slice until the window is used; whole passes
    // only, so every query has the same number of samples.
    val t0 = System.currentTimeMillis()
    val windowMs = ctx.args.dbl("seconds") * 1000
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (passes.size < ctx.minOps || System.currentTimeMillis() - t0 < windowMs) {
      val traced = ctx.tracedOp(passes.size)
      val times = mutable.LinkedHashMap.empty[String, Any]
      val phases = mutable.LinkedHashMap.empty[String, Any]
      var small = 0
      val p0 = System.currentTimeMillis()
      ctx.op(traced)(names.foreach { n =>
        val q0 = System.nanoTime()
        val ok = attempt(n) {
          val df = registry(n)(spark, dir)
          if (traced) {
            // Force each QueryExecution phase in order, then execute.
            val qe = df.queryExecution
            val b = System.nanoTime(); qe.analyzed
            val a = System.nanoTime(); qe.optimizedPlan
            val o = System.nanoTime(); qe.executedPlan
            val p = System.nanoTime()
            if (ExecPolicy.isSmall(df)) small += 1
            val x0 = System.nanoTime()
            ExecPolicy.run(df)(_.write.format("noop").mode("overwrite").save())
            val x1 = System.nanoTime()
            phases(n) = Map("build" -> (b - q0) / 1e9, "analyze" -> (a - b) / 1e9,
              "optimize" -> (o - a) / 1e9, "plan" -> (p - o) / 1e9, "execute" -> (x1 - x0) / 1e9)
          } else ExecPolicy.run(df)(_.write.format("noop").mode("overwrite").save())
        }
        if (ok) times(n) = (System.nanoTime() - q0) / 1e9
      })
      passes += Map("start_ms" -> p0, "end_ms" -> System.currentTimeMillis(),
        "traced" -> traced, "queries" -> times, "phases" -> phases, "small_tier" -> small)
    }
    ctx.trace.settle()
    Map("workload" -> "registry", "setup_done_ms" -> setupDoneMs,
      "passes" -> passes, "names" -> names, "attempted" -> names.size * passes.size,
      "errors" -> errors, "jobs" -> ctx.trace.records, "layers" -> ctx.layerCounters())
  }
}
