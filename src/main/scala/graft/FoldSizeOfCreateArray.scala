package graft

import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Folds `size(array(e1, …, en))` to the literal `n`.
  *
  * Why Spark needs help here: `InferFiltersFromGenerate` plants
  * `size(c) > 0 AND isnotnull(c)` under every explode of an array
  * ATTRIBUTE `c` (SPARK-33544 deliberately skips non-attribute inputs as
  * too expensive to re-evaluate — but predicate pushdown then substitutes
  * the attribute's defining expression anyway). When `c` is a computed
  * `array(...)` — the PQ code column `array(assign(subvec, codebook), …)`
  * in [[llm.VectorOps]] — the pushed filter re-runs the entire m-subspace
  * encode fold per input row, interpreted, below the scan (r17 profile:
  * a 2.4 s one-task Filter stage under llm_ann_ivfpq_res).
  *
  * `CreateArray` is non-nullable with a statically known element count,
  * so `isnotnull` already constant-folds via NullPropagation; this rule
  * supplies the missing half, after which `n > 0` folds to `true` and
  * PruneFilters deletes the inferred filter — all inside the same
  * fixed-point batch that pushed it down. Round 17 papered over this
  * with a session-wide `excludedRules=InferFiltersFromGenerate`; that
  * off-switch also cost every OTHER generate the row-skipping filter the
  * rule exists to provide (an explode of a frequently-empty stored array
  * wants that filter at scale), so the global exclusion is gone and this
  * expression-level fold replaces it.
  *
  * Semantics: `size(array(e1..en))` is `n` for every input — CreateArray
  * never returns null and its arity is fixed at plan time — so the
  * folded VALUE is exact. Folding does skip evaluating the elements,
  * though: an element that would raise at runtime (an ANSI-mode
  * arithmetic or cast failure, a throwing UDF) no longer raises. Spark's
  * own SimplifyExtractValueOps drops element evaluation the same way.
  * The rule is session-wide (injected through [[GraftExtensions]]), so
  * this applies to user queries as well as to the inferred filter.
  */
object FoldSizeOfCreateArray extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(arr: CreateArray, _) => Literal(arr.children.length)
    }
}
