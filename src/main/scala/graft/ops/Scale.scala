package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale utilities for the 100 TB deployment shape (SURVEY §4.1): salted
  * aggregation/joins for skewed keys and bucketed-table layout for
  * shuffle-free spine joins. These complement AQE (enabled in the session
  * config): AQE handles *discovered* skew at runtime; salting is for keys
  * known to be pathological (the canonical example: one mega-study or one
  * power-user in the events table).
  */
object Scale {

  /** Bloom semi-filter: keep only fact rows whose key MIGHT exist on the
    * dim side — the explicit runtime semi-join reduction. The dim keys
    * aggregate into one self-describing bloom bitset
    * (`graft.functions.Bloom`), broadcast as a scalar; the fact side is
    * prefiltered by the codegen'd probe BEFORE any join/shuffle. The
    * output is a superset of the true semi-join (false positives only —
    * a subsequent real join removes them, so join results are unchanged;
    * j8's oracle hash-checks exactly that). Sizing: ~10 bits/key at 5
    * hashes ≈ 1% false-positive rate. */
  def bloomSemiFilter(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String, numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    // build and probe hash each side's key AS A STRING: mixed key types
    // would render differently ("7.00" vs "7"), silently breaking the
    // no-false-negatives contract a join's numeric coercion would hide
    require(fact.schema(factKey).dataType == dim.schema(dimKey).dataType,
      s"bloomSemiFilter key types must match: " +
        s"${fact.schema(factKey).dataType.sql} vs ${dim.schema(dimKey).dataType.sql}")
    graft.GraftExtensions.setup(fact.sparkSession)
    // the bloom is an INDEX: build it eagerly (one aggregate action over
    // dim keys — the IVF-index precedent) and embed the bytes as a
    // BinaryType literal, so the probe filter stays inside whole-stage
    // codegen directly on the fact scan. The broadcast-join formulation
    // ends up as an interpreted BroadcastNestedLoopJoin condition —
    // measured ~40µs/row, 6.6 s vs 0.4 s for this shape at sf0.1.
    val bloomBytes = dim.agg(call_function("graft_bloom",
        col(dimKey).cast("string"), lit(numBits), lit(numHashes)).as("b"))
      .collect()(0).getAs[Array[Byte]](0)
    fact.filter(call_function("graft_bloom_contains",
      lit(bloomBytes), col(factKey).cast("string")))
  }

  /** Two-stage salted aggregation: groupBy (key, salt) partially, then
    * groupBy key to merge. Breaks a hot key across `salts` reducers.
    * `aggs` must be algebraic (sum/count/min/max) — they merge by the same
    * function at the second stage.
    */
  def saltedSumCount(df: DataFrame, key: Column, value: Column,
      salts: Int): DataFrame = {
    val salted = df.select(key.as("k"),
      (pmod(xxhash64(monotonically_increasing_id()), lit(salts))).as("salt"),
      value.as("v"))
    salted.groupBy("k", "salt")
      .agg(sum(col("v")).as("partial_sum"), count(lit(1)).as("partial_cnt"))
      .groupBy("k")
      .agg(sum(col("partial_sum")).as("sum_v"), sum(col("partial_cnt")).as("cnt"))
  }

  /** Salted skew join: the skewed (large) side gets a random salt in
    * [0, salts); the small side is exploded `salts`× so every salted key
    * finds its match. Output equals the plain inner join on `key`.
    * Use when one key dominates and broadcast is impossible (both sides
    * large) — AQE's skew-join split is the first resort, this is the
    * explicit fallback. */
  def saltedJoin(skewed: DataFrame, other: DataFrame, key: String,
      salts: Int): DataFrame = {
    val saltedBig = skewed.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts)).cast("int"))
    val explodedSmall = other.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(explodedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Write a table bucketed+sorted on the join key. Two tables bucketed
    * with the same count on the join key plan as a ZERO-exchange
    * sort-merge join (Catalyst recognizes the bucket spec's
    * HashPartitioning on both sides) — measured at exactly 0 shuffle
    * bytes in ShuffleAuditSpec ("bucketed spine join runs shuffle-free"),
    * the layout the 100 TB nightly spine rebuild (j2/cp3 shape) wants.
    * Sizing: buckets ≈ largest-member bytes / 128–256 MB; every member of
    * a join family shares the count. Catalog required: bucketing metadata
    * lives there, hence `saveAsTable`, not a bare path. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    // idempotent across JVMs: a previous session's managed-table files can
    // outlive the (in-memory) catalog entry, and saveAsTable refuses to
    // reuse an existing location it did not create (LOCATION_ALREADY_EXISTS)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Repartition by key then sort within partitions before writing —
    * gives parquet min/max row-group skipping on `sortCol` (the poor
    * man's index, SURVEY §4.1 "indexes" row). */
  def writeSortedLayout(df: DataFrame, path: String, partitionKey: String,
      sortCol: String): Unit =
    df.repartition(col(partitionKey))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)
}
