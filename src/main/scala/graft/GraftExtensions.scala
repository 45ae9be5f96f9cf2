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
  * It is also where the engine's SparkContext-level defaults are set
  * ([[GraftExtensions.setContextDefaults]]): every engine session shares
  * the executors' default session state, so code generated for one
  * streaming query run serves the next, and broadcasts are cut into pieces
  * small enough to stay out of G1's humongous regions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    val sc = SparkContext.getOrCreate()
    LocalFs.install(sc.hadoopConfiguration)
    GraftExtensions.setContextDefaults(Bridge.sparkConf(sc))
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

  /** Set the engine's SparkContext-level defaults in `conf`, each only if
    * it is not set explicitly, so a deployment's own value wins. This runs
    * on the running SparkContext's own conf before the engine session is
    * built.
    *
    * Per-session artifact isolation is off. With isolation on (Spark's
    * default), every session sends its own UUID with its tasks, and the
    * executor builds an isolated session state with a fresh classloader
    * for each one. Every streaming query run executes on a clone of its
    * session, so each run's tasks would load under a new classloader and
    * miss the generated-code cache, which is keyed by classloader, and
    * compile the same classes again. The engine adds no jars, files or
    * other artifacts to any session, so there is nothing to isolate; a
    * deployment that does (Spark Connect, for example) sets the key itself.
    * Sessions read the key when they are built, from the SparkContext's
    * conf as it stands then.
    *
    * Broadcast pieces are 256 KB. `TorrentBroadcast` writes every
    * broadcast (each stage's task binary, each Hadoop-conf broadcast) into
    * a buffer whose first chunk is a whole piece, whatever the payload
    * size. Spark's 4 MB piece is at least half a G1 region at any heap up
    * to 8 GB, so each such chunk is a humongous object allocated straight
    * into the old generation. A piece below half the smallest region
    * (1 MB) never is; a broadcast above it is cut into more pieces.
    * `TorrentBroadcast` reads the key from `SparkEnv.get.conf`, this same
    * conf, on every broadcast.
    */
  def setContextDefaults(conf: SparkConf): Unit = {
    conf.setIfMissing("spark.sql.artifact.isolation.enabled", "false")
    conf.setIfMissing("spark.broadcast.blockSize", "256k")
  }
}
