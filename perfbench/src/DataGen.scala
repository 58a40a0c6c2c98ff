package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the `graft.io.Tables` tables the
  * benchmark's queries read (region, nation, customer, supplier, part,
  * orders, lineitem, events), with the schemas and value domains of the
  * TPC-H-ish testdata the query board is written against.
  *
  * Every value is a pure function of (DataSeed, stream name, row id)
  * through `xxhash64`, so the bytes do not depend on partitioning or
  * core count and the query mix's result hashes can be stored with the
  * benchmark. `sf` scales row counts like the testdata (sf 0.01 ≈ 60k
  * lineitem rows).
  */
object DataGen {
  val DataSeed: Long = 42L

  private def h(stream: String, ids: Column*): Column =
    xxhash64((lit(DataSeed) +: lit(stream) +: ids): _*)

  /** Integer uniform in [lo, hi]. */
  private def ri(stream: String, id: Column, lo: Long, hi: Long): Column =
    lit(lo) + pmod(h(stream, id), lit(hi - lo + 1))

  /** Uniform double in [0, 1). */
  private def u(stream: String, ids: Column*): Column =
    pmod(h(stream, ids: _*), lit(1000000000L)).cast("double") / 1e9

  private def pick(stream: String, id: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (pmod(h(stream, id), lit(values.size.toLong)) + 1).cast("int"))

  private def money(stream: String, id: Column, lo: Double, hi: Double): Column =
    round(lit(lo) + u(stream, id) * (hi - lo), 2)

  private def day(base: String, offset: Column): Column =
    date_add(to_date(lit(base)), offset.cast("int")).cast("timestamp")

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    def rows(n: Long) = spark.range(0, math.max(n, 1L), 1, 4).withColumnRenamed("id", "i")
    val i = col("i")
    val nCust = (150000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrders = (1500000 * sf).toLong
    val region = rows(5).select(i.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (i + 1).cast("int")).as("r_name"))
    val nation = rows(25).select(i.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), i.cast("string")).as("n_name"),
      pmod(i, lit(5L)).cast("int").as("n_regionkey"))
    val customer = rows(nCust).select(i.as("c_custkey"),
      format_string("Customer#%09d", i).as("c_name"),
      ri("c_nation", i, 0, 24).cast("int").as("c_nationkey"),
      money("c_acctbal", i, -999.99, 9999.99).as("c_acctbal"),
      pick("c_seg", i, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val supplier = rows(nSupp).select(i.as("s_suppkey"),
      format_string("Supplier#%09d", i).as("s_name"),
      ri("s_nation", i, 0, 24).cast("int").as("s_nationkey"),
      money("s_acctbal", i, -999.99, 9999.99).as("s_acctbal"))
    val part = rows(nPart).select(i.as("p_partkey"),
      concat_ws(" ",
        pick("p_adj", i, Seq("red", "new", "hot", "small", "blue", "old", "big", "dark")),
        pick("p_noun", i, Seq("bolt", "anvil", "ring", "rod", "widget", "gear",
          "pipe", "valve"))).as("p_name"),
      concat(lit("Brand#"), ri("p_brand", i, 1, 25).cast("string")).as("p_brand"),
      pick("p_type", i, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      ri("p_size", i, 1, 50).cast("int").as("p_size"),
      (lit(900.0) + pmod(i, lit(1000L)).cast("double") / 10).as("p_retailprice"))
    val orders = rows(nOrders).select(i.as("o_orderkey"),
      ri("o_cust", i, 0, nCust - 1).as("o_custkey"),
      pick("o_status", i, Seq("F", "O", "P")).as("o_orderstatus"),
      money("o_price", i, 1000.0, 500000.0).as("o_totalprice"),
      day("1995-01-01", ri("o_date", i, 0, 2403)).as("o_orderdate"),
      pick("o_prio", i, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    val lineitem = rows(nOrders)
      .select(i.as("l_orderkey"),
        explode(sequence(lit(1L), ri("l_count", i, 1, 7))).as("ln"),
        ri("o_date", i, 0, 2403).as("od"))
      .select(col("l_orderkey"),
        ri("l_part", col("l_orderkey") * 8 + col("ln"), 0, nPart - 1).as("l_partkey"),
        ri("l_supp", col("l_orderkey") * 8 + col("ln"), 0, nSupp - 1).as("l_suppkey"),
        col("ln").cast("int").as("l_linenumber"),
        ri("l_qty", col("l_orderkey") * 8 + col("ln"), 1, 50).cast("double").as("l_quantity"),
        money("l_price", col("l_orderkey") * 8 + col("ln"), 900.0, 105000.0)
          .as("l_extendedprice"),
        (ri("l_disc", col("l_orderkey") * 8 + col("ln"), 0, 10).cast("double") / 100)
          .as("l_discount"),
        (ri("l_tax", col("l_orderkey") * 8 + col("ln"), 0, 8).cast("double") / 100)
          .as("l_tax"),
        pick("l_rf", col("l_orderkey") * 8 + col("ln"), Seq("A", "N", "R")).as("l_returnflag"),
        pick("l_ls", col("l_orderkey") * 8 + col("ln"), Seq("F", "O")).as("l_linestatus"),
        day("1995-01-01", col("od") + ri("l_ship", col("l_orderkey") * 8 + col("ln"), 1, 121))
          .as("l_shipdate"))
    val events = rows((1000000 * sf).toLong).select(i.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        pmod(h("e_ts", i), lit(30L * 86400L * 1000000L))).as("ts"),
      ri("e_user", i, 0, math.max(nCust / 10, 1) - 1).as("user_id"),
      pick("e_type", i, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      money("e_value", i, 0.0, 560.0).as("value"),
      format_string("{\"k\": %d}", ri("e_k", i, 0, 99)).as("props"))
      .orderBy("ts")
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events)
  }

  /** Write every table as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: String, sf: Double): Unit =
    tables(spark, sf).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
