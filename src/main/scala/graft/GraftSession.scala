package graft

import org.apache.spark.sql.SparkSession

/** The one owner of session configuration. Every entry point (`Bench`,
  * `Verify`, `ScaleStress`, the drivers in `graft.tools`) and the test
  * base build their session here; every row that needs a conf for part
  * of its work scopes it with [[withConfs]]; every row that writes
  * through the graft catalog mounts it with [[mountCatalog]].
  */
object GraftSession {

  private val shufflePartitions = "spark.sql.shuffle.partitions"

  /** A local session on `cores` threads with the engine's settings:
    *  - `shuffle.partitions` = `cores` (the default width; work that knows
    *    its input size scopes its own with [[withWidth]]);
    *  - the graft extensions (native functions, planner rules);
    *  - UTC session time zone;
    *  - `nanosAsLong`, so legacy TIMESTAMP(NANOS) `events.ts` reads as a raw
    *    long (see [[Tables.events]]);
    *  - parquet output as TIMESTAMP_MICROS (not INT96), the physical type
    *    the DuckDB oracle writes;
    *  - UI off and log level WARN.
    */
  def build(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config(shufflePartitions, cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with `pairs` set on the session, then put every key back:
    * to its explicit prior value, or unset if it had none. Prior values
    * come from `conf.getAll`, which holds explicit settings only
    * (`conf.getOption` would report a registered default as if it were
    * set, and restoring it would pin that default). Restores on throw too,
    * and nests: an inner scope restores the outer scope's value.
    *
    * The conf is session-global: scopes must not run concurrently on one
    * session (see [[util.inParallel]]).
    */
  def withConfs[T](s: SparkSession, pairs: Seq[(String, String)])(body: => T): T = {
    val prior = s.conf.getAll
    try {
      pairs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally pairs.foreach { case (k, _) =>
      prior.get(k) match {
        case Some(v) => s.conf.set(k, v)
        case None    => s.conf.unset(k)
      }
    }
  }

  /** The shuffle width for work over `bytes` of input or state: one
    * partition per 32 MB, at least one. A stateful streaming operator
    * keeps one state store per partition and opens and commits every
    * store on every micro-batch, and an iterative loop pays every
    * partition's task on every round, so width beyond the data is fixed
    * cost. The rule has no floor above one: an input of a few MB runs
    * one store per operator, a 100 TB input sizes to millions of
    * partitions. The rule reads bytes, never the core count.
    */
  def width(bytes: Long): Long = math.max(1L, bytes / (32L << 20))

  /** Run `body` with `spark.sql.shuffle.partitions` scoped to
    * [[width]]`(bytes)`, restored as [[withConfs]] restores. The only
    * writer of the width besides [[build]].
    */
  def withWidth[T](s: SparkSession, bytes: Long)(body: => T): T =
    withConfs(s, Seq(shufflePartitions -> width(bytes).toString))(body)

  /** Mount the graft catalog as `graft_cat` on the JVM's one warehouse
    * (Spark caches a catalog instance per session at first use, so every
    * mount must agree on the path). Idempotent.
    */
  def mountCatalog(s: SparkSession): Unit = {
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat.warehouse", util.catalogWarehouse)
  }
}
