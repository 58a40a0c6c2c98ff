package graft.privacy

import java.util.Base64
import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** PHI-safe privacy operators (SURVEY.md F11/F12, reference
  * `security/phi_redaction.py` + `compliance/phi_redaction.py`):
  * salted irreversible hash, deterministic HMAC-SHA256 tokenize /
  * detokenize, date shifting, ordered multi-pattern redaction.
  *
  * Tokenization is the one operator Spark's built-ins cannot express
  * (SURVEY §2.11), implemented as a native Catalyst [[HmacSha256Base64]]
  * expression with `doGenCode` so it participates in whole-stage codegen
  * (no UDF serialization, no codegen fence).
  */
object HmacUtil {
  /** HMAC-SHA256 of `value` under `key`. Mac instances are not
    * thread-safe → one per call (cheap relative to the hash itself). */
  def hmac(key: String, value: Array[Byte]): Array[Byte] = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(key.getBytes("UTF-8"), "HmacSHA256"))
    mac.doFinal(value)
  }

  /** Reference `tokenize` (`security/phi_redaction.py:18-26`):
    * urlsafe_b64(mac ++ "::" ++ value). */
  def tokenize(key: String, value: UTF8String): UTF8String = {
    val v = value.getBytes
    val mac = hmac(key, v)
    val payload = new Array[Byte](mac.length + 2 + v.length)
    System.arraycopy(mac, 0, payload, 0, mac.length)
    payload(mac.length) = ':'
    payload(mac.length + 1) = ':'
    System.arraycopy(v, 0, payload, mac.length + 2, v.length)
    UTF8String.fromString(Base64.getUrlEncoder.encodeToString(payload))
  }

  /** HMAC-SHA256 output length; the payload layout is always
    * mac(32) ++ "::" ++ value, so the separator offset is fixed. */
  val MacLen = 32

  /** Reference `detokenize` (`security/phi_redaction.py:28-38`): null on
    * tamper/garbage rather than an exception.
    *
    * Deliberate divergence: the reference splits at the FIRST "::" in the
    * decoded bytes, which mis-parses (and rejects) the ~1-in-2000 genuine
    * tokens whose 32 raw MAC bytes themselves contain "::". We parse at the
    * fixed 32-byte MAC offset instead, so detokenize∘tokenize is a true
    * identity on every input — which [[EliminateHmacRoundTrip]] requires to
    * be a semantics-preserving rewrite. */
  def detokenize(key: String, token: UTF8String): UTF8String =
    try {
      val raw = Base64.getUrlDecoder.decode(token.toString)
      if (raw.length < MacLen + 2 || raw(MacLen) != ':' || raw(MacLen + 1) != ':') null
      else {
        val mac = raw.slice(0, MacLen)
        val value = raw.slice(MacLen + 2, raw.length)
        if (java.security.MessageDigest.isEqual(mac, hmac(key, value)))
          UTF8String.fromBytes(value)
        else null
      }
    } catch { case _: IllegalArgumentException => null }
}

/** Codegen'd HMAC-SHA256 tokenize: `hmac_tokenize(value, key)`. */
case class HmacSha256Base64(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = StringType
  override def prettyName: String = "hmac_tokenize"

  override protected def nullSafeEval(value: Any, key: Any): Any =
    HmacUtil.tokenize(key.asInstanceOf[UTF8String].toString,
      value.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, k) =>
      s"graft.privacy.HmacUtil.tokenize($k.toString(), $v)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd HMAC verify + unwrap: `hmac_detokenize(token, key)`,
  * null on tampered/garbage tokens (nullable even for non-null input). */
case class HmacDetokenize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "hmac_detokenize"

  override protected def nullSafeEval(token: Any, key: Any): Any =
    HmacUtil.detokenize(key.asInstanceOf[UTF8String].toString,
      token.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val resultVar = ctx.freshName("detok")
    nullSafeCodeGen(ctx, ev, (t, k) =>
      s"""org.apache.spark.unsafe.types.UTF8String $resultVar =
            graft.privacy.HmacUtil.detokenize($k.toString(), $t);
          if ($resultVar == null) { ${ev.isNull} = true; }
          else { ${ev.value} = $resultVar; }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Privacy {

  /** F11: salted irreversible SHA-256 (`security/phi_redaction.py:10-15`). */
  def irreversibleHash(value: Column, salt: String): Column =
    sha2(concat(lit(salt), value), 256)

  /** Deterministic date shifting (`security/phi_redaction.py:40-41`). */
  def shiftDate(d: Column, days: Int): Column = date_add(d, days)

  /** The reference's ordered PHI regex patterns
    * (`compliance/phi_redaction.py:14-23`), translated to Java regex.
    * Order matters — they are applied as a fold, like the reference. */
  val PhiPatterns: Seq[String] = Seq(
    "\\b\\d{3}-\\d{2}-\\d{4}\\b",                                    // SSN
    "\\b\\d{9}\\b",                                                  // bare 9-digit id
    "(?i)\\b[a-z0-9]{6,12}\\b(?=.*\\bmrn\\b)",                       // MRN (word later followed by "mrn")
    "\\b(?:\\+?1[-.\\s]?)?\\(?\\d{3}\\)?[-.\\s]\\d{3}[-.\\s]\\d{4}\\b", // phone
    "\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}\\b",         // email
    "\\b\\d{4}-\\d{2}-\\d{2}\\b",                                    // ISO date
    "\\b\\d{1,2}/\\d{1,2}/\\d{2,4}\\b",                              // US date
    "(?i)(name|patient|first_name|last_name)\\s*=\\s*[^,;]+")        // kv pairs

  /** Named aliases for the corpus PII-audit scan (t24) — the same
    * engine-portable patterns the redaction fold applies. */
  val SsnPattern: String = PhiPatterns(0)
  val EmailPattern: String = PhiPatterns(4)

  val RedactionToken = "[REDACTED]"

  /** F12: ordered multi-pattern redaction as a regexp_replace fold — stays
    * inside codegen, no UDF. */
  def redactText(value: Column): Column =
    PhiPatterns.foldLeft(value)((c, p) => regexp_replace(c, p, RedactionToken))

  /** Redact every string column of a frame (the dataframe twin of the
    * reference's dict scrub, `compliance/phi_redaction.py:72-171`). */
  def redactStringColumns(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (f.dataType == StringType)
        acc.withColumn(f.name, redactText(col(f.name)))
      else acc
    }

  /** Column API for the HMAC pair (requires
    * [[graft.GraftExtensions.setup]] first). */
  def tokenize(value: Column, key: String): Column =
    call_function("hmac_tokenize", value, lit(key))
  def detokenize(token: Column, key: String): Column =
    call_function("hmac_detokenize", token, lit(key))
}
