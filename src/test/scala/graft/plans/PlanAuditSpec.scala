package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/** Suite-wide structural audit over EVERY registered query's executed
  * physical plan at sf0.001. Catches scale-killers that correctness
  * gates can't see and per-operator specs only pin for the operator
  * they were written for — the r6→r7 lesson (c13/t12/t11 all carried
  * global windows for three rounds while hash-matching their oracles):
  *
  *  1. No WindowExec with an empty partitionSpec (single-partition
  *     global window — the whole input through one task at 100 TB),
  *     except where the window input is already bounded by a LIMIT:
  *     b1/b3/k1 rank ≤30 TakeOrdered survivors, which is O(k) work
  *     wherever it lands.
  *  2. No CartesianProductExec anywhere. The tiny broadcast crossJoins
  *     (1-row corpus stats against the corpus) plan as
  *     BroadcastNestedLoopJoin over a broadcast side, never a
  *     partitioned cartesian.
  *
  * One execution pass collects both properties; failures name the
  * query and print its plan.
  */
class PlanAuditSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Global windows over inputs bounded by an upstream LIMIT — the
    * rank-the-top-k shape; O(k) rows reach the window regardless of
    * corpus size. Anything else in this set is a bug. */
  private val boundedGlobalWindow = Set(
    "b1_bm25_topk",     // ranks the 10 TakeOrdered survivors
    "b3_hybrid_rrf",    // ranks ≤40 fused rows from two top-20 legs
    "b4_prf_expand",    // ranks the 10 TakeOrdered re-scored survivors
    "b6_bm25f",         // ranks the 10 TakeOrdered field-weighted survivors
    "k1_kmer_spectrum"  // ranks the 30 TakeOrdered k-mers
  )

  /** Interpreted-HOF hot loops DELIBERATELY kept: HOF lambdas run
    * interpreted per element (DRIFT_r12 §8 — ~10× the compiled cost
    * and a per-run JIT lottery on the hottest scans), so every entry
    * here must argue why the loop is cold or why the HOF form is the
    * better plan. Anything not listed that plans a
    * HigherOrderFunction — or a built-in explode of a hash-bearing/
    * HOF-bearing expression, whose inferred size(e)>0 guard
    * re-evaluates the expression per row — fails. */
  private val hofAllowed: Map[String, String] = Map(
    "b2_phrase" ->
      ("adjacent-pair match over the token array, lambdas touch only lambda " +
       "variables by design (the file documents the pushdown-inlining hazard " +
       "the alternative form hits, measured 4× slower); per-element body is " +
       "two string equalities"),
    // (c6_window_dedup retired r14: its in-place position-mask lambda
    // became the native JoinExceptPositions merge-walk kernel —
    // isolated mask stage 0.21 → 0.12 s/pass at sf0.1, ~1.8× on the
    // steady-state min of 6 interleaved reps, scratch/MaskAB.scala as
    // of commit 8bd5a55;
    // whole-pipeline cost unchanged because the mask is ~4% of c6)
    "d2b_minhash_md5" ->
      ("the DECLARATIVE md5-minhash parity twin: its ngram shingles exist " +
       "precisely to cross-check the native U-family kernels against the r1-r7 " +
       "baseline arithmetic; making them native would erase the thing it tests " +
       "(its md5 minima are the native MinHashMd5 aggregate, byte-identical to " +
       "the declarative min(md5(concat)) per MinHashMd5Spec)"),
    "n10_mmr_rerank" ->
      ("the bounded MMR greedy recursion evaluated as ONE HOF projection " +
       "over k≤25-element broadcast-sized arrays; the unrolled join+window " +
       "plan was measured 4× slower (r9: 15 s/987 tasks → 3.6 s/7 tasks) — " +
       "per-row work is O(k²) on k-bounded data, not corpus-scale"))

  private def collectNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => collectNodes(a.executedPlan)
    case q: QueryStageExec        => q +: collectNodes(q.plan)
    case other => other +: other.children.flatMap(collectNodes)
  }

  private def nodesOf(df: DataFrame): Seq[SparkPlan] = {
    df.collect() // finalize AQE so the real stages are visible
    collectNodes(df.queryExecution.executedPlan)
  }

  /** An expression whose PER-ELEMENT cost makes an interpreted loop or
    * a re-evaluated subtree a hot-loop problem rather than a per-row
    * nuisance: cryptographic hashes and HOF lambdas themselves. */
  private def isHot(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    e.exists {
      case _: HigherOrderFunction => true
      case _: Md5 | _: Sha1 | _: Sha2 | _: Conv => true
      case _ => false
    }
  }

  /** Per-input-row HOF lambdas in a node. Aggregate nodes count only
    * their grouping keys and aggregate functions (evaluated per input
    * row in the partial pass); a lambda in an aggregate's RESULT
    * expressions — e.g. array_sort of a collected group — runs once
    * per group over already-reduced rows and is cold by construction. */
  private def hofLambdas(n: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    val exprs = n match {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.groupingExpressions ++ a.aggregateExpressions
      case other => other.expressions
    }
    exprs.flatMap(_.collect {
      case h: HigherOrderFunction => s"${n.nodeName}: ${h.prettyName}(…, lambda)"
    })
  }

  private def hofFindings(nodes: Seq[SparkPlan]): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.execution.GenerateExec
    val lambdas = nodes.flatMap(hofLambdas)
    // the r12 guard tax: a hot generator child whose expression ALSO
    // appears verbatim in another node (the inferred size(e)>0 guard
    // after predicate pushdown inlines it) — the md5 chain then runs
    // 2-3× per input row instead of once
    val dupGen = nodes.flatMap {
      case g: GenerateExec => g.generator match {
        case ex: ExplodeBase
            if !ex.child.isInstanceOf[Attribute] && isHot(ex.child) &&
              nodes.exists(o => (o ne g) &&
                o.expressions.exists(_.exists(_.semanticEquals(ex.child)))) =>
          Seq(s"GenerateExec: explode child ${ex.child.prettyName}(…) " +
            "re-evaluated by another node (inferred-guard tax)")
        case _ => Nil
      }
      case _ => Nil
    }
    lambdas ++ dupGen
  }

  test("no query plans an unbounded global window, cartesian, or interpreted-HOF hot loop") {
    val offenders = Seq.newBuilder[String]
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, dir)
      // HOF sweep of the plan BEFORE execution: AQE's runtime
      // empty-side propagation can erase a whole branch on this small
      // fixture (u2's chunked coloc leg never goes hot at sf0.001, so
      // its interpreted-HOF pair expansion was invisible here while
      // running hot at sf1 — r18). Pre-execution,
      // AdaptiveSparkPlanExec.executedPlan is the initial physical
      // plan with every branch intact.
      val hofPre = hofFindings(collectNodes(df.queryExecution.executedPlan))
      val nodes = nodesOf(df)
      val gw = nodes.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      if (gw.nonEmpty && !boundedGlobalWindow.contains(name))
        offenders += s"$name: ${gw.size} global window(s)\n" +
          df.queryExecution.executedPlan.toString
      val cp = nodes.collect { case c: CartesianProductExec => c }
      if (cp.nonEmpty)
        offenders += s"$name: ${cp.size} CartesianProductExec\n" +
          df.queryExecution.executedPlan.toString
      val hof = (hofPre ++ hofFindings(nodes)).distinct
      if (hof.nonEmpty && !hofAllowed.contains(name))
        offenders += s"$name: ${hof.size} interpreted-HOF site(s):\n  " +
          hof.distinct.mkString("\n  ")
    }
    val bad = offenders.result()
    assert(bad.isEmpty, s"${bad.size} plan-audit offender(s):\n" +
      bad.mkString("\n---\n"))
  }

  test("the interpreted-HOF allowlist is still needed (no stale entries)") {
    assert(hofAllowed.size < 10, "the HOF allowlist must stay short — " +
      "replace hot loops with native kernels instead of listing them")
    for (name <- hofAllowed.keys.toSeq.sorted) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      assert(hofFindings(nodesOf(df)).nonEmpty,
        s"$name no longer plans a HOF — remove it from the allowlist")
    }
  }

  test("the bounded-global-window allowlist is still needed (no stale entries)") {
    // if an allowlisted query stops planning a global window, drop it
    // from the set so the audit tightens instead of rotting
    for (name <- boundedGlobalWindow.toSeq.sorted) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val gw = nodesOf(df).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(gw.nonEmpty,
        s"$name no longer plans a global window — remove it from the allowlist")
    }
  }
}
