package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.Scale

class BloomSpec extends SparkSpec {
  import spark.implicits._

  test("no false negatives: every dim key probes true, any partitioning") {
    graft.GraftExtensions.setup(spark)
    val keys = (1 to 5000).map(i => s"k$i")
    for (p <- Seq(1, 7)) {
      val bloom = keys.toDF("k").repartition(p)
        .agg(call_function("graft_bloom", col("k"), lit(1 << 16), lit(5))
          .as("b")).collect()(0).getAs[Array[Byte]](0)
      val misses = keys.count(k =>
        !Bloom.mightContain(bloom, org.apache.spark.unsafe.types.UTF8String.fromString(k)))
      assert(misses == 0, s"false negatives at $p partitions")
    }
  }

  test("false-positive rate is near the sized expectation") {
    graft.GraftExtensions.setup(spark)
    // 5k keys in 2^16 bits at 5 hashes ≈ 13 bits/key → FP well under 5%
    val bloom = (1 to 5000).map(i => s"k$i").toDF("k")
      .agg(call_function("graft_bloom", col("k"), lit(1 << 16), lit(5))
        .as("b")).collect()(0).getAs[Array[Byte]](0)
    val fp = (1 to 5000).count(i => Bloom.mightContain(bloom,
      org.apache.spark.unsafe.types.UTF8String.fromString(s"absent$i")))
    assert(fp < 250, s"false-positive count $fp out of 5000 probes")
  }

  test("bloomSemiFilter output is a superset of the semi-join, join result unchanged") {
    val dim = Seq((1L, "a"), (3L, "b"), (5L, "c")).toDF("k", "v")
    val fact = (1L to 100L).map(i => (i, i % 10)).toDF("fk", "payload")
    val pre = Scale.bloomSemiFilter(fact, "fk", dim, "k")
    val semi = fact.join(dim.select(col("k").as("fk")), Seq("fk"), "left_semi")
    // superset: nothing the semi-join keeps is lost
    assert(semi.exceptAll(pre).count() == 0)
    // join equality: prefilter invisible in the final join result
    val plain = fact.join(dim, col("fk") === col("k")).orderBy("fk").collect()
    val viaBloom = pre.join(dim, col("fk") === col("k")).orderBy("fk").collect()
    assert(plain.toSeq == viaBloom.toSeq)
  }
}
