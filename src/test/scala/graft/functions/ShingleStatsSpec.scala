package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.text.TextFunctions.shingleArray

class ShingleStatsSpec extends SparkSpec {
  import spark.implicits._

  private def stats(n: Int) =
    call_function("graft_shingle_stats", col("text"), lit(n))

  /** The tricky corpus: dup shingles, degenerate loops, under-n docs,
    * empty/whitespace-only, multi-space runs, leading tab (trim must
    * strip 0x20 ONLY — Spark's trim, not Java's), and NULL. */
  private lazy val docs = Seq(
    (1L, "a b c d e"),
    (2L, "x y x y x y x y"),           // degenerate loop, heavy repeats
    (3L, "a b c a b c a b c"),
    (4L, "too short"),                  // < 3 tokens
    (5L, ""),                           // one empty token
    (6L, "   "),                        // trims to one empty token
    (7L, "a  b   c  a  b"),             // multi-space runs collapse
    (8L, "\ta b c d"),                  // leading tab survives trim -> "" token
    (9L, null.asInstanceOf[String]))
    .toDF("doc_id", "text")

  test("expression equals the composed shingleArray/array_distinct form") {
    graft.GraftExtensions.setup(spark)
    val sh = shingleArray(col("text"), 3)
    val rows = docs.select(col("doc_id"),
        stats(3).as("st"),
        size(sh).cast("long").as("ref_total"),
        size(array_distinct(sh)).cast("long").as("ref_distinct"))
      .collect()
    rows.foreach { r =>
      val st = r.getStruct(r.fieldIndex("st"))
      assert(st.getLong(0) == r.getAs[Long]("ref_total"),
        s"doc ${r.getLong(0)}: total ${st.getLong(0)} != ref ${r.getAs[Long]("ref_total")}")
      assert(st.getLong(1) == r.getAs[Long]("ref_distinct"),
        s"doc ${r.getLong(0)}: distinct ${st.getLong(1)} != ref ${r.getAs[Long]("ref_distinct")}")
    }
  }

  test("hand-checked values incl. null -> (0,0) and leading-tab token") {
    graft.GraftExtensions.setup(spark)
    val m = docs.select(col("doc_id"), stats(3).as("st")).collect()
      .map(r => r.getLong(0) -> {
        val st = r.getStruct(1); (st.getLong(0), st.getLong(1))
      }).toMap
    assert(m(1L) == ((3L, 3L)))
    assert(m(2L) == ((6L, 2L)))   // "x y x","y x y" alternating
    assert(m(3L) == ((7L, 3L)))
    assert(m(4L) == ((0L, 0L)))
    assert(m(5L) == ((0L, 0L)))   // [""] is 1 token < 3
    assert(m(6L) == ((0L, 0L)))
    assert(m(7L) == ((3L, 3L)))   // multi-space runs are one separator
    assert(m(8L) == ((3L, 3L)))   // ["", a, b, c, d] -> 3 shingles
    assert(m(9L) == ((0L, 0L)))   // NULL text has zero shingles
  }

  test("interpreted eval matches codegen") {
    graft.GraftExtensions.setup(spark)
    val fromCodegen = docs.select(stats(3).as("st"))
      .collect().map(r => { val s = r.getStruct(0); (s.getLong(0), s.getLong(1)) }).toSeq
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interpreted = docs.select(stats(3).as("st"))
        .collect().map(r => { val s = r.getStruct(0); (s.getLong(0), s.getLong(1)) }).toSeq
      assert(interpreted == fromCodegen)
    }
  }

  test("n is validated and non-string input is rejected at analysis time") {
    graft.GraftExtensions.setup(spark)
    val err = intercept[Exception] {
      docs.select(call_function("graft_shingle_stats", col("doc_id"), lit(3)))
        .collect()
    }
    assert(err.getMessage.contains("string"))
  }

  private def withSQLConf[A](pairs: (String, String)*)(f: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
