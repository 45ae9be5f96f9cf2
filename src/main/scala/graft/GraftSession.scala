package graft

import org.apache.spark.sql.SparkSession

/** The one owner of session configuration. Every entry point (`Bench`,
  * `Verify`, `ScaleStress`, the drivers in `graft.tools`) and the test
  * base build their session here; every row that needs a conf for part
  * of its work scopes it with [[withConfs]]; every row that writes
  * through the graft catalog mounts it with [[mountCatalog]].
  */
object GraftSession {

  /** A local session on `cores` threads with the engine's settings:
    *  - `shuffle.partitions` = `cores`;
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
      .config("spark.sql.shuffle.partitions", cores.toString)
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

  /** Mount the graft catalog as `graft_cat` on the JVM's one warehouse
    * (Spark caches a catalog instance per session at first use, so every
    * mount must agree on the path). Idempotent.
    */
  def mountCatalog(s: SparkSession): Unit = {
    s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat.warehouse", util.catalogWarehouse)
  }
}
