package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The distributed single-group batch numbering must agree exactly with
  * the W2 window form it replaces in the relay path. */
class WindowsSpec extends SparkSpec {
  import spark.implicits._

  test("numberBatchesRange equals the window form for one group, any partitioning") {
    val n = 100
    // 1, n and n + 1 straddle the single-batch path (no job, no sort); 537
    // has a remainder batch.
    val numbered = Seq(1L, n.toLong, n + 1L, 537L).map { totalRows =>
      val rnd = new scala.util.Random(5)
      val rows = rnd.shuffle((1L to totalRows).toVector).map(v => ("orders", v, s"p$v"))
        .toDF("g", "version", "payload")
      val viaWindow = Windows.numberBatches(rows, "g", "version", n)
        .select($"version", $"batch", $"total_batches")
        .as[(Long, Int, Int)].collect().toSet
      val viaRange = Windows.numberBatchesRange(rows.repartition(7), "version", n, totalRows)
        .select($"version", $"batch", $"total_batches")
        .as[(Long, Int, Int)].collect().toSet
      assert(viaRange == viaWindow, s"totalRows = $totalRows")
      assert(viaRange.size == totalRows)
      totalRows -> viaRange
    }.toMap
    assert(numbered(n.toLong).forall(b => b._2 == 0 && b._3 == 1), "n rows fill one batch")
    assert(numbered(n + 1L).count(_._2 == 1) == 1, "n + 1 rows spill one row into batch 1")
    assert(numbered(537L).forall(_._3 == 6), "537 rows at 100/batch = 6 batches")
    assert(numbered(537L).count(_._2 == 5) == 37, "last batch holds the remainder")
  }
}
