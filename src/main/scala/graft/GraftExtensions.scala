package graft

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate
import org.apache.spark.sql.graftbridge.Bridge

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
  *
  * It is also where every engine session is made to share the executors'
  * default session state ([[GraftExtensions.shareSessionState]]), so code
  * generated for one streaming query run serves the next.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    val sc = SparkContext.getOrCreate()
    LocalFs.install(sc.hadoopConfiguration)
    GraftExtensions.shareSessionState(Bridge.sparkConf(sc))
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

object GraftExtensions {

  /** Turn off Spark's per-session artifact isolation in `conf` unless it
    * is set explicitly. With isolation on (Spark's default), every session
    * sends its own UUID with its tasks, and the executor builds an isolated
    * session state with a fresh classloader for each one. Every streaming
    * query run executes on a clone of its session, so each run's tasks
    * would load under a new classloader and miss the generated-code cache,
    * which is keyed by classloader, and compile the same classes again.
    *
    * The engine adds no jars, files or other artifacts to any session, so
    * there is nothing to isolate. A deployment that does add per-session
    * artifacts (Spark Connect, for example) sets the key itself, and its
    * value wins. Sessions read the key when they are built, from the
    * SparkContext's conf as it stands then, so this runs on the running
    * SparkContext's own conf before the engine session is built.
    */
  def shareSessionState(conf: SparkConf): Unit =
    conf.setIfMissing("spark.sql.artifact.isolation.enabled", "false")
}
