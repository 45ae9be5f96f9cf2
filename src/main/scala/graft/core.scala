package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One declared operator from SURVEY.md §2: a named query over the driver's
  * testdata plus (when SQL-expressible) the equivalent DuckDB oracle SQL.
  *
  * Determinism contract (SURVEY.md §2 footer): every oracle-checked query ends
  * with a total-order sort including a unique tiebreak, rounds float
  * aggregates via [[util.r2]] (bitwise-identical across engines), and pins
  * UTC. The reference checkout (/root/reference, v1) contains only LICENSE —
  * capabilities are reconstructed per SURVEY.md §0 provenance tags.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** Table loaders for the driver's parquet fixtures (TESTDATA.md).
  *
  * Scale posture: `spark.read.parquet` is a plain file-source scan — at
  * 100 TB the same call reads a partitioned S3 prefix; predicate pushdown,
  * column pruning and partition pruning all apply unchanged.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` ships in one of TWO parquet layouts across driver testdata
    * generations: TIMESTAMP(NANOS) (rounds ≤7), which Spark's vectorized
    * reader rejects and we read as a raw nanosecond long (`nanosAsLong`),
    * or TIMESTAMP(MICROS) (round 8+), which reads as a plain timestamp.
    * Both normalize to the SAME output contract — columns
    * `(event_id, ts_ns, user_id, event_type, value, props, ts)` with
    * `ts_ns` epoch nanos (exact nanos in the legacy layout, µs·1000 in the
    * micros layout — matching DuckDB's `epoch_ns(ts)` on the same file
    * either way) and `ts` a µs TIMESTAMP_NTZ (the truncation DuckDB applies
    * too, so oracle SQL uses `ts` directly).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          // cast to NTZ: the rest of the fixtures read as TIMESTAMP_NTZ
          // (naive parquet), and the DuckDB oracle sees naive TIMESTAMP too
          .withColumn("ts",
            timestamp_micros(expr("ts_ns div 1000")).cast("timestamp_ntz"))
      case _ =>
        // µs layout: session TZ is pinned UTC everywhere (bench/verify/
        // tests), so NTZ→TZ cast is the identity instant and unix_micros
        // is exact
        raw.withColumn("ts_ns",
            expr("unix_micros(cast(ts as timestamp)) * 1000"))
          .withColumn("ts", col("ts").cast("timestamp_ntz"))
          .select("event_id", "ts_ns", "user_id", "event_type", "value",
            "props", "ts")
    }
  }
}

object util {
  /** Round a double to 2 decimals with a formula that is bitwise-identical
    * in Spark and DuckDB: `floor(x*100 + 0.5)/100` uses only IEEE-exact ops
    * (multiply, add, floor, divide) evaluated identically by both engines —
    * unlike `round()`, whose half-up decimal expansion differs between them.
    * SQL mirror: `floor(x * 100 + 0.5) / 100`.
    */
  def r2(c: Column): Column = floor(c * 100 + 0.5) / 100

  /** Oracle-side mirror of [[r2]]. */
  def r2sql(e: String): String = s"floor(($e) * 100 + 0.5) / 100"

  /** Scale-adaptive map-side fanout (optimization guide §2.5 "input skew:
    * one huge unsplittable file — repartition immediately after the read",
    * §6 input split size). The driver fixtures ship each table as ONE
    * parquet file with ONE row group, so every scan is a single input
    * split and all narrow per-row work after it runs in ONE task no
    * matter how many cores the session has. For rows whose map side is
    * CPU-heavy (image codecs, n-gram explodes, minhash banding) a
    * round-robin repartition to the session's default parallelism spreads
    * that work across the cores; the width tracks the session
    * (`defaultParallelism` = `local[N]`'s N here, executor slots on a
    * cluster), never a constant tuned for one machine. At 100 TB the same
    * call is a no-op-sized shuffle of the projected columns and the scan
    * itself already arrives split by file/row group. Use ONLY in front of
    * expensive per-row compute — fanning out a cheap scan adds an
    * exchange for nothing. Row-to-partition assignment is deterministic
    * under retries (sortBeforeRepartition, SPARK-23207) and every
    * oracle-checked query is partitioning-agnostic by construction.
    */
  // Contract (ADVICE r16): callers pass a SCAN-SHAPED frame (every current
  // call site reads the single-file fixture tables). Checking the input's
  // partition count here to skip the exchange is NOT safe in general:
  // `df.rdd` on a frame that already contains exchanges makes AQE
  // materialize those stages eagerly — real jobs at plan-build time.
  def fanout(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Run independent Spark actions concurrently from driver threads
    * (optimization guide §2.6 "overlap independent jobs"): the scheduler
    * happily runs several jobs at once inside one application — actions
    * are only sequential because driver code calls them sequentially, so
    * a later job's tasks back-fill executors freed by the current job's
    * straggler tail. Callers guarantee the thunks share no mutable state
    * (distinct output paths/cursors). Thunks must not scope session conf
    * ([[GraftSession.withConfs]] or a row that does): the conf is
    * session-global, so concurrent scopes race and leak each other's
    * values. Every thread finishes before anything is rethrown (no
    * half-joined threads leak); the first failure is rethrown with every
    * further failure attached via `addSuppressed`.
    */
  def inParallel(thunks: Seq[() => Unit]): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = thunks.map { th =>
      new Thread(() =>
        try th() catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!errs.isEmpty) {
      val first = errs.poll()
      errs.forEach(first.addSuppressed(_))
      throw first
    }
  }

  /** One staging root per JVM run, deleted recursively on exit — queries
    * that need scratch dirs (stream sinks, schema-evolution fixtures,
    * replicated sources) allocate under it instead of leaking a fresh
    * `/tmp/graft_*` per invocation.
    */
  private lazy val runRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_run_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(p)))
    p
  }

  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try {
        walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(f => { Files.deleteIfExists(f); () })
      } finally walk.close()
    }
  }

  /** Fresh scratch dir under the per-run staging root. */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(runRoot, prefix).toString

  /** ONE warehouse per JVM for the graft catalog: Spark caches catalog
    * instances per session at first use, so every row that mounts
    * `graft_cat` must agree on the same warehouse path.
    */
  lazy val catalogWarehouse: String = tempDir("graft_warehouse_")

  /** Delete stale `/tmp/graft_*` scratch dirs left by earlier JVM runs
    * (pre-round-3 runs predate the runRoot shutdown hook and leaked one dir
    * per invocation). The live runRoot of THIS run is excluded, and the
    * sweep is AGE-GATED: only dirs untouched for an hour are removed, so a
    * concurrently-running graft JVM (Verify while Bench runs, two Verify
    * shards) cannot lose in-flight stream checkpoints or half-written
    * parquet to the sweep. The sweep is for long-lived sandboxes where
    * rounds accrete scratch state, and anything a live run cares about has
    * a recent mtime.
    */
  def sweepStaleScratch(): Unit = {
    import java.nio.file.{Files, Paths}
    val tmp = Paths.get(System.getProperty("java.io.tmpdir", "/tmp"))
    val live = runRoot // force allocation so it exists and is excluded
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    if (Files.isDirectory(tmp)) {
      val ds = Files.newDirectoryStream(tmp, "graft_*")
      try {
        ds.forEach { p =>
          val stale =
            try Files.getLastModifiedTime(p).toMillis < cutoff
            catch { case _: java.io.IOException => false } // racing delete
          if (p != live && stale)
            try deleteRecursively(p)
            catch { case _: java.io.IOException => () } // in use elsewhere
        }
      } finally ds.close()
    }
  }
}
