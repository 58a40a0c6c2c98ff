package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  private def candidates(items: Seq[String], k: Int,
      partitions: Int): Set[String] = {
    graft.GraftExtensions.setup(spark)
    items.toDF("item").repartition(partitions)
      .agg(call_function("graft_heavy_hitters", col("item"), lit(k)).as("c"))
      .collect()(0).getSeq[String](0).toSet
  }

  test("every item with frequency > n/(k+1) is captured, any partitioning") {
    // 1000 items: 'a' 400×, 'b' 200×, tail of 400 distinct singletons.
    // With k = 4: threshold n/5 = 200 → 'a' must always be captured.
    val items = Seq.fill(400)("a") ++ Seq.fill(200)("b") ++
      (1 to 400).map(i => s"t$i")
    for (p <- Seq(1, 3, 16)) {
      val c = candidates(items, k = 4, partitions = p)
      assert(c.contains("a"), s"heavy hitter lost at $p partitions")
      assert(c.size <= 4)
    }
  }

  test("k >= distinct items degenerates to the exact item set") {
    val items = Seq("x", "x", "y", "z")
    assert(candidates(items, k = 10, partitions = 3) == Set("x", "y", "z"))
  }

  test("null items are ignored, empty input yields an empty sketch") {
    graft.GraftExtensions.setup(spark)
    val withNulls = Seq(Some("a"), None, Some("a"), None).toDF("item")
    val c = withNulls
      .agg(call_function("graft_heavy_hitters", col("item"), lit(2)).as("c"))
      .collect()(0).getSeq[String](0)
    assert(c == Seq("a"))
    val empty = Seq.empty[String].toDF("item")
      .agg(call_function("graft_heavy_hitters", col("item"), lit(2)).as("c"))
      .collect()(0).getSeq[String](0)
    assert(empty.isEmpty)
  }
}
