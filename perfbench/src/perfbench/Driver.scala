package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's JVM side: one closed-loop client thread drives one
  * `local[N]` session through a seeded operation sequence for a fixed
  * wall-clock budget, then re-runs each distinct registry row once, untimed,
  * into parquet for the oracle comparison that `run.py` performs.
  *
  * Usage (normally invoked by perfbench/run.py):
  *   Driver --workload W --seed S --seconds T --trace 0|1 --cores N
  *          --inputs DIR --out DIR [--plan-only] [--no-check]
  */
object Driver {

  /** Rows of a workload. With `named`, exactly those rows, most popular
    * first. Otherwise the registry rows with a DuckDB oracle whose name
    * starts with one of `prefixes`: `perFamily` rows from each prefix
    * family, in a fixed order (a hash of the name, independent of the
    * seed), so every run of a workload executes the same row mix.
    */
  final case class Mix(prefixes: Seq[String], perFamily: Map[String, Int], head: Int = 4,
      named: Seq[String] = Nil)

  val mixes: Map[String, Mix] = Map(
    "replica_query" -> Mix(
      Seq("sql_", "join_", "agg_", "win_", "filter_", "set_", "subq_", "sort_"),
      Map.empty[String, Int].withDefaultValue(1)),
    "corpus_pipeline" -> Mix(
      Seq("text_", "dedup_", "sim_", "embed_", "eval_", "pipeline_dedup_"),
      Map.empty[String, Int].withDefaultValue(1)),
    // the two stream_* rows that slow down most from c8 to c32 in the
    // recorded suite runs, 7.6x and 6.1x (see perfbench/README.md)
    "stream_ops" -> Mix(Seq("stream_"), Map.empty, head = 8, named = Seq(
      "stream_stateful_running", "stream_chained_windows")))

  /** Zipf(s = 1) multiplicities for popularity ranks 1..k in one cycle:
    * round(head / rank), at least 1.
    */
  def zipfCounts(k: Int, head: Int): Seq[Int] =
    (1 to k).map(r => math.max(1, math.round(head.toDouble / r).toInt))

  private def stableHash(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  /** The working set of a row workload, most popular first. */
  def workingSet(workload: String): Seq[graft.Q] = {
    val mix = mixes(workload)
    val eligible = graft.SparkEntry.all.filter(_.oracle.isDefined)
    if (mix.named.nonEmpty) {
      val byName = eligible.map(q => q.name -> q).toMap
      return mix.named.map(n => byName.getOrElse(n,
        throw new IllegalArgumentException(s"$workload: no row $n with an oracle")))
    }
    // a row belongs to the longest prefix it matches
    def family(n: String) = mix.prefixes.filter(n.startsWith).maxByOption(_.length)
    val picked = mix.prefixes.flatMap { p =>
      eligible.filter(q => family(q.name).contains(p))
        .sortBy(q => stableHash(workload + "/" + q.name))
        .take(mix.perFamily(p))
    }
    picked.sortBy(q => stableHash("rank/" + workload + "/" + q.name))
  }

  /** Nominal cycle length. A run measures `ceil(seconds / CycleNominalS)`
    * whole cycles, a count fixed by `--seconds` alone, so two runs of the
    * same arguments execute the same operations however fast the code is.
    */
  val CycleNominalS = 30.0

  def cycles(seconds: Double): Int = math.max(1, math.ceil(seconds / CycleNominalS).toInt)

  /** Cycle `c` of the operation sequence: every row of the working set
    * with its Zipf multiplicity, in an order drawn from the seed. Cycle 0
    * opens with one execution of each row in rank order, so that the cold
    * first executions see the same order in every run.
    */
  def cycle[T: scala.reflect.ClassTag](rows: Seq[T], head: Int, seed: Long, c: Int): Seq[T] = {
    val ops = rows.zip(zipfCounts(rows.size, head))
      .flatMap { case (r, n) => Seq.fill(if (c == 0) n - 1 else n)(r) }.toArray
    val rnd = new java.util.SplittableRandom(seed * 1000003L + c)
    for (i <- ops.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = ops(i); ops(i) = ops(j); ops(j) = t
    }
    (if (c == 0) rows else Nil) ++ ops.toSeq
  }

  /** The one place the benchmark builds its session. These are the
    * deployment settings of `graft.Bench`; a program-side width policy can
    * still set conf on the session it is handed.
    */
  def buildSession(cores: Int, runDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", runDir.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, inputs: Path, out: Path, planOnly: Boolean, noCheck: Boolean)

  def parse(a: Seq[String]): Args = {
    def get(k: String) = a.indexOf(k) match {
      case -1 => throw new IllegalArgumentException(s"missing $k")
      case i => a(i + 1)
    }
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", get("--cores").toInt, Paths.get(get("--inputs")),
      Paths.get(get("--out")), a.contains("--plan-only"), a.contains("--no-check"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq)
    if (args.planOnly) { planOnly(args); return }
    val trace = new Trace(args.trace)
    val out = mutable.LinkedHashMap.empty[String, Any]
    val dataDir = args.inputs.resolve("data").toString
    Files.createDirectories(args.out)

    // ---- set-up: session, extensions, catalog, workload state; each step
    // is timed into `out` (the report's set-up breakdown) and, when
    // tracing, recorded as a span
    def step[T](layer: String, name: String)(body: => T): T = {
      val t0 = trace.now()
      try body finally {
        val t1 = trace.now()
        out(name) = (t1 - t0) / 1e9
        trace.add(Span(layer, name, -1, t0, t1))
      }
    }
    val spark = step("session", "session.build")(buildSession(args.cores, args.out))
    if (trace.enabled) {
      spark.sparkContext.addSparkListener(trace.sparkListener)
      spark.listenerManager.register(trace.queryListener)
      spark.streams.addListener(trace.streamListener)
    }
    // JVM/session warm-up, as graft.Bench does before its first row
    step("session", "session.warmup")(spark.range(1000000).selectExpr("sum(id)").collect())
    step("catalog", "catalog.register")(graft.Catalog.registerAll(spark, dataDir))
    out("catalog.register_calls") = 1
    val workload: Workload = step("workload", "workload.setup")(args.workload match {
      case "replica_sync" => new SyncWorkload(spark, args, trace, out)
      case w if mixes.contains(w) => new RowWorkload(spark, args, trace, out)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    })
    out("ready_epoch_ns") = trace.now()

    // ---- timed closed loop: a fixed number of whole cycles
    val samples = mutable.ArrayBuffer.empty[Sample]
    val nCycles = Driver.cycles(args.seconds)
    val nOps = nCycles * workload.cycleLen
    out("cycles") = nCycles
    val loop0 = System.nanoTime()
    var i = 0
    while (i < nOps) {
      spark.sparkContext.setJobGroup(s"op-$i", s"op $i", interruptOnCancel = false)
      val t0 = trace.now()
      val s = workload.run(i)
      val t1 = trace.now()
      trace.add(Span("op", s.name, i, t0, t1))
      samples += s.copy(seconds = (t1 - t0) / 1e9)
      i += 1
    }
    out("timed_wall_s") = (System.nanoTime() - loop0) / 1e9
    out("peak_rss_mb") = vmHwmMb() // before the untimed checks
    spark.sparkContext.clearJobGroup()

    // ---- untimed checks (skipped in a traced run's untraced baseline)
    if (!args.noCheck) trace.span("check", "check", -2)(workload.check())
    out("samples") = samples.map(_.json)
    spark.stop() // drains the listener bus before the counters are read
    if (trace.enabled) out("trace") = traceJson(trace)
    Files.writeString(args.out.resolve("result.json"), Json.render(out.toMap))
  }

  private def planOnly(args: Args): Unit =
    if (args.workload == "replica_sync") println("replica_sync: polls follow the feed manifest")
    else {
      val rows = workingSet(args.workload).map(_.name)
      val head = mixes(args.workload).head
      (0 until 3).foreach(c => println(s"cycle $c: " + cycle(rows, head, args.seed, c).mkString(" ")))
    }

  private def vmHwmMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  private def traceJson(t: Trace): Map[String, Any] = Map(
    "spans" -> t.all.map(s => Seq(s.layer, s.name, s.op, s.startNs, s.endNs)),
    "jobs" -> t.jobs.values.toSeq.sortBy(_.id).map(j => Seq(j.id, j.op, j.startMs, j.endMs)),
    "stage_job" -> t.stageJob.toSeq.sorted.map { case (s, j) => Seq(s, j) },
    "tasks" -> t.tasks.toSeq.map(k => Seq(k.stage, k.durMs, k.shuffleRead, k.shuffleWrite,
      k.spill, k.gcMs, k.recordsRead)),
    "phases" -> t.phases.toSeq.map(p => Seq(p.name, p.startMs, p.endMs)),
    "rules" -> t.rules.toSeq.map(r => Seq(r.atMs, r.name, r.ns)),
    "progress" -> t.progress.toSeq.map(p => Map("at" -> p.atMs, "durations" -> p.durations,
      "state_rows" -> p.stateRows, "state_mem" -> p.stateMem, "state_commit_ms" -> p.stateCommitMs)))
}

/** One completed operation. `ok` is false when it threw or its inline check
  * failed; `first` marks the first execution of its row in the run.
  */
final case class Sample(name: String, ok: Boolean, first: Boolean,
    seconds: Double = 0, error: String = "") {
  def json: Map[String, Any] = Map("name" -> name, "ok" -> ok, "first" -> first,
    "seconds" -> seconds, "error" -> error)
}

trait Workload {
  def run(i: Int): Sample
  /** Operations per cycle. A run measures a fixed number of whole cycles,
    * so every run executes the same operation mix.
    */
  def cycleLen: Int
  /** Untimed output checks, after the timed loop. */
  def check(): Unit
}

/** replica_query, corpus_pipeline and stream_ops: registry rows run as
  * written, each to Spark's no-op sink, so every output column and the
  * final sort are computed (a `count()` lets Catalyst prune them).
  */
final class RowWorkload(spark: SparkSession, args: Driver.Args, trace: Trace,
    out: mutable.Map[String, Any])
    extends Workload {
  private val rows = Driver.workingSet(args.workload)
  private val head = Driver.mixes(args.workload).head
  val cycleLen: Int = Driver.zipfCounts(rows.size, head).sum
  private val dir = args.inputs.resolve("data").toString
  private val seen = mutable.LinkedHashSet.empty[String]
  private var current: Seq[graft.Q] = Nil
  out("working_set") = rows.map(_.name)
  out("cycle_len") = cycleLen

  def run(i: Int): Sample = {
    if (i % cycleLen == 0) current = Driver.cycle(rows, head, args.seed, i / cycleLen)
    val q = current(i % cycleLen)
    val first = seen.add(q.name)
    val layer = if (q.name.startsWith("stream_")) "stream" else "row"
    try {
      val df = trace.span(layer, "row.build", i)(q.fn(spark, dir))
      df.write.format("noop").mode("overwrite").save()
      Sample(q.name, ok = true, first)
    } catch {
      case e: Throwable => Sample(q.name, ok = false, first, error = String.valueOf(e.getMessage).take(300))
    }
  }

  def check(): Unit = {
    val dst = args.out.resolve("check")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val byName = rows.map(q => q.name -> q).toMap
    val oracle = mutable.LinkedHashMap.empty[String, String]
    seen.foreach { n =>
      val q = byName(n)
      oracle(n) = q.oracle.get
      try q.fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(dst.resolve(n).toString)
      catch { case e: Throwable => System.err.println(s"[perfbench] check run of $n failed: ${e.getMessage}") }
    }
    Files.writeString(args.out.resolve("oracle_sql.json"), Json.render(oracle.toMap))
  }
}

/** replica_sync: a keyed replica of `orders`, kept in sync from DAP
  * envelope deliveries. One operation is one poll.
  */
final class SyncWorkload(spark: SparkSession, args: Driver.Args, trace: Trace,
    out: mutable.Map[String, Any])
    extends Workload {
  private val feed = args.inputs.resolve("sync")
  private val replica = args.out.resolve("replica")
  private val cursor = new graft.cdc.Cursor(args.out.resolve("cursor").toString)
  private val keys = Seq("o_orderkey")
  private val manifest: IndexedSeq[Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(feed.resolve("manifest.jsonl")).asScala.map(Json.parseFlat).toIndexedSeq
  }
  private var version = 0
  private val polls = mutable.ArrayBuffer.empty[Map[String, Any]]

  private val envelope = StructType(Seq(
    StructField("key", StructType(Seq(StructField("o_orderkey", LongType)))),
    StructField("value", StructType(Seq(
      StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType)))),
    StructField("meta", StructType(Seq(
      StructField("ts", LongType), StructField("seq", LongType),
      StructField("action", StringType))))))

  /** Fold order after ts: a delete beats an upsert at equal ts, then seq. */
  private def withTiebreak(df: DataFrame): DataFrame =
    df.withColumn("tb", when(col("action") === "D", lit(1L << 40)).otherwise(lit(0L)) + col("seq"))

  private def vdir(v: Int) = replica.resolve(f"v$v%05d")

  // initial snapshot load, part of set-up
  trace.span("sync", "sync.snapshot_load", -1) {
    withTiebreak(spark.read.parquet(feed.resolve("snapshot.parquet").toString))
      .write.mode("overwrite").parquet(vdir(0).toString)
  }

  /** 18 polls: the cold first poll, 15 deliveries and 2 re-deliveries.
    * Polls keep getting faster for about six polls after the first; with
    * 17 repeats the median lies among the settled ones.
    */
  val cycleLen = 18
  require(Driver.cycles(args.seconds) * cycleLen <= manifest.size,
    s"--seconds ${args.seconds} needs more deliveries than the feed holds")

  def run(i: Int): Sample = {
    val m = manifest(i)
    val until = m("until").asInstanceOf[Long]
    try {
      val pos = trace.span("cursor", "cursor.read", i)(cursor.read())
      var bytesWritten = 0L
      var filesWritten = 0L
      var deltaRows = 0L
      val skipped = pos.exists(_ >= until) // since-gate: a re-delivery
      if (!skipped) {
        val rows = trace.span("sync", "sync.envelope_read", i) {
          spark.read.schema(envelope).json(feed.resolve(m("file").toString).toString)
            .select(col("key.o_orderkey").as("o_orderkey"), col("value.o_custkey").as("o_custkey"),
              col("value.o_orderstatus").as("o_orderstatus"),
              col("value.o_totalprice").as("o_totalprice"), col("meta.ts").as("ts"),
              col("meta.seq").as("seq"), col("meta.action").as("action"))
            .collect()
        }
        deltaRows = rows.length
        val schema = StructType(Seq(StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType), StructField("ts", LongType),
          StructField("seq", LongType), StructField("action", StringType)))
        val delta = withTiebreak(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
        val state = spark.read.parquet(vdir(version).toString)
        val next = trace.span("sync", "sync.merge", i)(
          graft.cdc.Merge.applyDelta(state, delta, keys, "ts", "tb"))
        val dst = vdir(version + 1)
        trace.span("sync", "sync.land", i)(next.write.mode("overwrite").parquet(dst.toString))
        val files = Files.list(dst).toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
        bytesWritten = files.map(Files.size).sum
        filesWritten = files.length
        trace.span("cursor", "cursor.advance", i)(cursor.advance(until))
        graft.util.deleteRecursively(vdir(version))
        version += 1
      }
      val live = trace.span("sync", "sync.snapshot_read", i) {
        graft.cdc.Merge.snapshot(spark.read.parquet(vdir(version).toString))
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n"), sum("o_totalprice").as("v"))
          .collect().map(_.getLong(1)).sum
      }
      val expected = m("expected_rows").asInstanceOf[Long]
      polls += Map("skipped" -> skipped, "bytes_written" -> bytesWritten,
        "files_written" -> filesWritten, "delta_rows" -> deltaRows,
        "payload_bytes" -> (if (skipped) 0L else m("bytes").asInstanceOf[Long]),
        "live_rows" -> live, "expected_rows" -> expected)
      Sample("poll", ok = live == expected, first = i == 0,
        error = if (live == expected) "" else s"snapshot has $live rows, expected $expected")
    } catch {
      case e: Throwable => Sample("poll", ok = false, first = i == 0,
        error = String.valueOf(e.getMessage).take(300))
    }
  }

  def check(): Unit = {
    out("polls") = polls.toSeq
    out("final_replica") = vdir(version).toString
  }
}
