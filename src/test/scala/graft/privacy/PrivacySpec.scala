package graft.privacy

import org.apache.spark.sql.functions._
import graft.SparkSpec

class PrivacySpec extends SparkSpec {
  import spark.implicits._

  test("hmac tokenize/detokenize round-trips through the codegen path") {
    graft.GraftExtensions.setup(spark)
    val df = Seq("SUBJ0001", "SUBJ0002", "pii@example.com").toDF("v")
    val out = df
      .withColumn("tok", Privacy.tokenize(col("v"), "key-123"))
      .withColumn("back", Privacy.detokenize(col("tok"), "key-123"))
    assert(out.filter(col("back") =!= col("v")).count() == 0)
    // deterministic: same value+key => same token
    val toks = out.select("tok").as[String].collect()
    val toks2 = df.withColumn("tok", Privacy.tokenize(col("v"), "key-123"))
      .select("tok").as[String].collect()
    assert(toks.toSeq == toks2.toSeq)
  }

  test("detokenize returns null on wrong key or garbage (no exception)") {
    graft.GraftExtensions.setup(spark)
    val df = Seq("SUBJ0001").toDF("v")
      .withColumn("tok", Privacy.tokenize(col("v"), "key-123"))
    val wrongKey = df.select(Privacy.detokenize(col("tok"), "other-key").as("r"))
    assert(wrongKey.filter(col("r").isNotNull).count() == 0)
    val garbage = Seq("not-a-token!!", "QUJD").toDF("tok")
      .select(Privacy.detokenize(col("tok"), "key-123").as("r"))
    assert(garbage.filter(col("r").isNotNull).count() == 0)
  }

  test("tokenize matches the reference layout: urlsafe_b64(mac ++ '::' ++ value)") {
    val tok = HmacUtil.tokenize("key-123",
      org.apache.spark.unsafe.types.UTF8String.fromString("hello")).toString
    val raw = java.util.Base64.getUrlDecoder.decode(tok)
    assert(raw.length == 32 + 2 + 5) // sha256 mac ++ '::' ++ value
    assert(new String(raw.slice(34, 39), "UTF-8") == "hello")
  }

  test("detokenize parses at the fixed 32-byte MAC offset, so tokens whose " +
    "MAC bytes contain '::' still round-trip (identity needed by the rule)") {
    import org.apache.spark.unsafe.types.UTF8String
    val key = "key-123"
    // brute-force a value whose raw MAC contains adjacent ':' bytes
    // (~1 in 2000 values; cap the search defensively)
    val v = (0 until 200000).iterator.map(i => s"val$i").find { s =>
      val mac = HmacUtil.hmac(key, s.getBytes("UTF-8"))
      mac.indexOfSlice(Seq[Byte](':', ':')) >= 0
    }
    assert(v.isDefined, "no MAC containing '::' found in 200k candidates")
    val tok = HmacUtil.tokenize(key, UTF8String.fromString(v.get))
    assert(HmacUtil.detokenize(key, tok) == UTF8String.fromString(v.get))
    // and a value that itself contains "::" is also unaffected
    val tricky = UTF8String.fromString("a::b::c")
    assert(HmacUtil.detokenize(key, HmacUtil.tokenize(key, tricky)) == tricky)
  }

  test("irreversible hash = sha256(salt || value)") {
    val got = Seq("abc").toDF("v")
      .select(Privacy.irreversibleHash(col("v"), "salt").as("h")).as[String].head()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update("saltabc".getBytes("UTF-8"))
    val expected = md.digest().map("%02x".format(_)).mkString
    assert(got == expected)
  }

  test("PHI redaction scrubs the reference's pattern families in order") {
    val df = Seq(
      "ssn 123-45-6789 ok",
      "id 123456789 ok",
      "call (555) 123-4567 now",
      "mail a.b+c@example.org please",
      "dob 2024-01-01 and 1/2/1999",
      "patient = John Smith, next").toDF("t")
      .select(Privacy.redactText(col("t")).as("r"))
    val rows = df.as[String].collect()
    assert(rows.forall(_.contains("[REDACTED]")))
    assert(!rows.exists(r => r.contains("123-45-6789") || r.contains("example.org")
      || r.contains("John Smith") || r.contains("2024-01-01")))
  }

  // plan assertions use the parquet-backed testdata — a local Seq would be
  // constant-folded into a LocalRelation and hide the expressions entirely
  private def srcDocs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("lang").as("v"))

  test("optimizer rule eliminates hmac round-trip with equal literal keys") {
    graft.GraftExtensions.setup(spark)
    val df = srcDocs
      .select(Privacy.detokenize(Privacy.tokenize(col("v"), "k1"), "k1").as("r"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("hmac_detokenize"), optimized)
    assert(df.limit(3).as[String].collect().forall(_ != null))
  }

  test("optimizer rule does NOT fire for different or nullable keys") {
    graft.GraftExtensions.setup(spark)
    // different keys: round-trip is not the identity (detokenize → null)
    val diff = srcDocs
      .select(Privacy.detokenize(Privacy.tokenize(col("v"), "k1"), "k2").as("r"))
    assert(diff.queryExecution.optimizedPlan.toString.contains("hmac_detokenize"))
    assert(diff.limit(3).as[String].collect().forall(_ == null))
    // nullable key column: NULL key yields NULL, not v — must not rewrite
    val keyed = srcDocs
      .select(col("v"), when(col("doc_id") % 2 === 0, lit("k1")).as("key"))
      .select(col("v"),
        call_function("hmac_detokenize",
          call_function("hmac_tokenize", col("v"), col("key")), col("key")).as("r"))
    assert(keyed.queryExecution.optimizedPlan.toString.contains("hmac_detokenize"))
  }

  test("MRN pattern redacts 6-12 alnum words followed by 'mrn' (reference order)") {
    // expected strings precomputed with the reference's ordered fold
    // (compliance/phi_redaction.py:14-23) — including the fold artifacts:
    // an earlier-pass [REDACTED] re-matches as an 8-char word before "mrn"
    val cases = Seq(
      "record AB12CD34 mrn on file" ->
        "[REDACTED] [REDACTED] mrn on file",
      "mrn trailing words here stay" ->
        "mrn trailing words here stay",
      "id 445566 before mrn, short xy after" ->
        "id [REDACTED] [REDACTED] mrn, short xy after",
      "patient = P7, ssn 123-45-0007 mail u7@example.org visit 2024-01-01 ok mrn code A1B2C3" ->
        "[REDACTED] = P7, ssn [[REDACTED]] mail u7@[REDACTED].org visit [REDACTED] ok mrn code A1B2C3")
    val got = cases.map(_._1).toDF("t")
      .select(Privacy.redactText(col("t")).as("r")).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, e) => assert(g == e) }
  }
}
