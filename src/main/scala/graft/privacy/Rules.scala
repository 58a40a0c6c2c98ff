package graft.privacy

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Custom optimizer rule (SURVEY §2.11 tier (c), the `Rule[LogicalPlan]`
  * leg): algebraic elimination of an HMAC round-trip —
  * `hmac_detokenize(hmac_tokenize(x, k), k)` → `x`.
  *
  * The pattern appears whenever a privacy-preserving view is re-joined
  * to a pipeline that detokenizes the same column with the same key
  * (tokenize-at-write, detokenize-at-read composed in one plan). The
  * pair is the identity on x — including null x, since both expressions
  * are null-intolerant — so evaluating two HMAC-SHA256 passes per row is
  * pure waste.
  *
  * Guards: the two key expressions must be semantically equal,
  * deterministic and non-nullable (a NULL key makes the round-trip
  * return NULL, not x, so rewriting a nullable key would be wrong).
  */
object EliminateHmacRoundTrip extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case HmacDetokenize(HmacSha256Base64(v, k1), k2)
          if k1.semanticEquals(k2) && k1.deterministic && !k1.nullable => v
    }
}
