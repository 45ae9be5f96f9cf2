package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate

/** SparkSessionExtensions entry point (SURVEY.md §2.12): installs the
  * engine's native functions into any session at build time —
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * Currently: `cosine_sim(array<float>, array<float>) → double` and
  * `simhash_fp(array<bigint>) → bigint`, the codegen'd Catalyst
  * expressions backing the similarity and near-dup tiers, plus SQL-callable
  * handles on Spark's own bloom-filter expressions (`graft_bloom_agg`,
  * `graft_might_contain` — the pair Catalyst itself uses for runtime
  * semi-join filters, not registered in the public FunctionRegistry), so
  * the bloom probe stays a codegen'd native expression instead of a Scala
  * UDF. Also injects the optimizer rule lowering the custom
  * [[graft.plans.GraftAsOfJoin]] logical operator (§2.12 whole-operator
  * extension demo) — that lowering lands on operators Spark already
  * executes well, keeping column pruning/AQE applicable (SURVEY.md §7.3).
  * ONE custom physical strategy IS injected: [[graft.plans.PlanBroadcastAsOf]]
  * plans [[graft.plans.BroadcastAsOfJoin]] to a custom SparkPlan for the
  * small-build-side as-of, where the union+window rewrite would shuffle
  * the (huge) probe side and a broadcast + binary-search probe shuffles
  * nothing — the case where a custom operator genuinely beats composition.
  *
  * Every engine session passes through here, including one built by a
  * driver that only sets `spark.sql.extensions`, so this is also where the
  * engine's `file:` filesystem ([[LocalFs]]) is installed on the
  * SparkContext's Hadoop conf: the builder runs it after the SparkContext
  * starts and before the session first opens a `file:` filesystem.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    LocalFs.install(SparkContext.getOrCreate().hadoopConfiguration)
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[functions.CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => functions.CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("hilbert_idx"),
      new ExpressionInfo(classOf[functions.HilbertIndex].getName, "hilbert_idx"),
      (exprs: Seq[Expression]) => functions.HilbertIndex(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("simhash_fp"),
      new ExpressionInfo(classOf[functions.SimHashFingerprint].getName, "simhash_fp"),
      (exprs: Seq[Expression]) => functions.SimHashFingerprint(exprs(0))))
    e.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[aggregate.BloomFilterAggregate].getName, "graft_bloom_agg"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => new aggregate.BloomFilterAggregate(c)
        case Seq(c, n) => new aggregate.BloomFilterAggregate(c, n)
        case Seq(c, n, b) => new aggregate.BloomFilterAggregate(c, n, b)
        case other => throw new IllegalArgumentException(
          s"graft_bloom_agg expects 1-3 arguments, got ${other.size}")
      }))
    e.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[BloomFilterMightContain].getName, "graft_might_contain"),
      (exprs: Seq[Expression]) => BloomFilterMightContain(exprs(0), exprs(1))))
    e.injectOptimizerRule(session => plans.RewriteGraftAsOfJoin(session))
    // MV aggregate-navigation (round-14): rewrites a bare-fact aggregate
    // to re-aggregate a registered rollup MV; inert unless a query batch
    // registers an MV in plans.MvRegistry (see its soundness contract)
    e.injectOptimizerRule(session => plans.RewriteToMaterializedView(session))
    e.injectPlannerStrategy(session => plans.PlanBroadcastAsOf(session))
    // parser seam: the ASOF JOIN statement island (everything else
    // delegates to Spark's parser) — completes the four-seam matrix
    e.injectParser((session, delegate) =>
      new plans.GraftSqlParser(session, delegate))
  }
}
