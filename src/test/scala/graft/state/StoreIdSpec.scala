package graft.state

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.util.Random

/** Invariants of the dead-letter id assignment — the current max id plus
  * `row_number()` in (source_key, data_hash) order: ids are dense, unique
  * and monotone across appends, D1 dedup holds, and the same rows get the
  * same ids however the input is partitioned. */
class StoreIdSpec extends SparkSpec {
  import spark.implicits._

  private def randomRows(rnd: Random, n: Int) =
    (1 to n).map { _ =>
      val k = s"key-${rnd.nextInt(8)}"
      val h = s"hash-${rnd.nextInt(20)}"
      (k, "obj", "env", "db", h, s"{}", s"err-${rnd.nextInt(3)}")
    }.toDF("source_key", "tracking_object_name", "environment_name",
      "database_name", "data_hash", "data", "error_message")
      .withColumn("timestamp", current_timestamp())

  test("ids are dense, unique, and monotone across appends; D1 dedup holds") {
    val rnd = new Random(7)
    val store = new ParquetStateStore(spark,
      Files.createTempDirectory("graft-ids").resolve("state").toString)
    (1 to 4).foreach(_ => store.appendDeadLetters(randomRows(rnd, 30)))
    val rows = store.deadLetters
      .select($"id", $"source_key", $"data_hash").collect()
    val ids = rows.map(_.getLong(0)).sorted
    assert(ids.toSeq == (1L to ids.length).toSeq,
      s"ids must be dense 1..n with no gaps: ${ids.toSeq}")
    // exactly-once per payload across all appends
    val keys = rows.map(r => (r.getString(1), r.getString(2)))
    assert(keys.distinct.length == keys.length, "duplicate (source_key, data_hash) row")
  }

  test("id assignment is independent of the input partitioning") {
    val rnd = new Random(11)
    val batch = randomRows(rnd, 60).cache()
    def tableFor(parts: Int) = {
      val store = new ParquetStateStore(spark,
        Files.createTempDirectory(s"graft-ids-$parts").resolve("state").toString)
      store.appendDeadLetters(batch.repartition(parts))
      store.deadLetters.select($"id", $"source_key", $"data_hash", $"error_message")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    }
    assert(tableFor(1) == tableFor(7),
      "same rows must get the same ids regardless of partitioning")
  }

  test("an append submits no zipWithIndex or range-sample job") {
    val store = new ParquetStateStore(spark,
      Files.createTempDirectory("graft-ids-jobs").resolve("state").toString)
    store.appendDeadLetters(randomRows(new Random(3), 20))
    val group = s"dlq-append-${System.nanoTime()}"
    // Call sites of the append's jobs: every stage's, plus the SQL
    // execution's (jobs adaptive execution submits from its own threads
    // carry no caller frames in their stages).
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val execSites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val execIds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execSites.put(x.executionId.toString, x.details)
          case _ =>
        }
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && group == j.properties.getProperty("spark.jobGroup.id")) {
          j.stageInfos.foreach(si => sites.add(si.details))
          Option(j.properties.getProperty("spark.sql.execution.id")).foreach(execIds.add)
        }
    }
    spark.sparkContext.setJobGroup(group, "dead-letter append")
    spark.sparkContext.addSparkListener(listener)
    try {
      store.appendDeadLetters(randomRows(new Random(5), 40).repartition(3))
      // The listener bus is async: wait until the recorded count stops moving.
      var last = -1
      while (sites.size != last) { last = sites.size; Thread.sleep(200) }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.sparkContext.clearJobGroup()
    }
    import scala.jdk.CollectionConverters._
    val all = sites.asScala.toSeq ++
      execIds.asScala.toSeq.flatMap(id => Option(execSites.get(id)))
    assert(all.exists(_.contains("appendDeadLetters")), "the append's jobs must be observed")
    // On a small append adaptive execution coalesces a range shuffle to one
    // partition, so a range sample + zipWithIndex numbering shows up as the
    // jobs of a `Dataset.rdd` execution rather than under its own names.
    for (probe <- Seq("zipWithIndex", "RangePartitioner", "Dataset.rdd"))
      assert(!all.exists(_.contains(probe)), s"a job ran from $probe")
  }
}
