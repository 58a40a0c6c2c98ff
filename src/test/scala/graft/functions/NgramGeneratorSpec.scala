package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class NgramGeneratorSpec extends SparkSpec {
  import spark.implicits._

  graft.GraftExtensions.setup(spark)

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps"),
    (2L, "  padded   with   runs  "),
    (3L, "two words"),
    (4L, ""),
    (5L, null.asInstanceOf[String]),
    (6L, "a a a a")).toDF("doc_id", "text")

  test("streams positioned word n-grams; null/blank/short docs emit none") {
    val got = docs.selectExpr("doc_id", "graft_ngrams(text, 3)")
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(got == Seq(
      (1L, 0L, "the quick brown"), (1L, 1L, "quick brown fox"),
      (1L, 2L, "brown fox jumps"),
      (2L, 0L, "padded with runs"),
      (6L, 0L, "a a a"), (6L, 1L, "a a a")))
  }

  test("SQL LATERAL VIEW form works and n=1 degenerates to posexplode of tokens") {
    docs.createOrReplaceTempView("ngram_docs")
    val lv = spark.sql(
      """SELECT doc_id, pos, ngram
         FROM ngram_docs LATERAL VIEW graft_ngrams(text, 1) t AS pos, ngram
         WHERE doc_id = 3""").as[(Long, Long, String)].collect().toSeq
    assert(lv == Seq((3L, 0L, "two"), (3L, 1L, "words")))
  }

  test("distinct shingle set matches Dedup.wordShingles on real text") {
    val d = Seq(
      (1L, "alpha beta gamma delta alpha beta gamma"),
      (2L, "one two three"),
      (3L, "x y")).toDF("doc_id", "text")
    val viaGen = d.selectExpr("doc_id", "graft_ngrams(text, 3)")
      .select(col("doc_id"), col("ngram").as("shingle")).distinct()
      .as[(Long, String)].collect().toSet
    val viaChain = graft.dedup.Dedup.wordShingles(d, "doc_id", "text", 3)
      .as[(Long, String)].collect().toSet
    assert(viaGen == viaChain)
  }

  test("rejects non-literal or invalid n and non-string text") {
    val e = intercept[Exception] {
      docs.selectExpr("doc_id", "graft_ngrams(text, doc_id)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("literal integer") ||
      e.getMessage.toLowerCase.contains("datatype_mismatch"))
    val e2 = intercept[Exception] {
      docs.selectExpr("doc_id", "graft_ngrams(text, 0)").collect()
    }
    assert(e2.getMessage.contains("n >= 1") ||
      e2.getMessage.toLowerCase.contains("datatype_mismatch"))
    val e3 = intercept[Exception] {
      docs.selectExpr("doc_id", "graft_ngrams(doc_id, 3)").collect()
    }
    assert(e3.getMessage.toLowerCase.contains("string") ||
      e3.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("generator streams: no materialized all-ngrams array per row") {
    // a 20k-token doc through the generator — the point is the shape
    // (windows stream; this would OOM-ish as a single array-of-structs
    // column long before 20k in a tight heap, and measurably allocate);
    // here we just pin correctness at size
    val big = (1 to 20000).map(i => s"w$i").mkString(" ")
    val n = Seq((1L, big)).toDF("doc_id", "text")
      .selectExpr("graft_ngrams(text, 5)").count()
    assert(n == 20000 - 5 + 1)
  }
}
