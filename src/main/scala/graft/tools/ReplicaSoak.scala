package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end replica SOAK (r11 verdict #5): the reference's production
  * shape — a many-table replica under concurrent incremental sync — run
  * as ONE harness combining pieces previously proven only separately:
  *
  *  - T tables (default 50), each an orders slice (`o_orderkey % T`, so
  *    total volume is constant in T and the run measures orchestration);
  *  - THREE incremental rounds per table, each round committed by TWO
  *    RACING writers (the slice's key-parity halves written concurrently
  *    from separate threads) through the conditional-put commit — every
  *    version slot is genuinely contended, every loser rebases;
  *  - MID-STREAM SCHEMA EVOLUTION: after round 1 each table widens by a
  *    STRING column via its own CAS commit; rounds 2–3 write the new
  *    shape, round-1 files decode with trailing NULL;
  *  - row-level DELETES: one equality-delete commit per table (keys with
  *    status 'F'), landing through the same CAS;
  *  - a CDF CONSUMER audits per-table row accounting from the BATCH
  *    change-feed (scan_table_cdf_range surface): inserts must equal the
  *    slice size, deletes the F-key count, pre-evolution inserts must
  *    surface NULL in the added column, the plain read must equal
  *    inserts − deletes, and the version log must be exactly
  *    6 appends + 1 evolution + 1 delete = 8 footer-valid objects;
  *  - CROSS-TABLE ATOMIC SYNC POINTS (r12 verdict #5): each round ends
  *    with one catalog-level `sync.v<N>.json` publish pinning every
  *    table's version; a CONCURRENT READER thread observes the replica
  *    throughout both directly (latest per-table versions — real tears
  *    expected mid-round) and through the latest sync point (tears must
  *    be ZERO: pins resolve footer-valid, never exceed the table's
  *    current version, and are round-consistent across all T tables).
  *
  * Run multi-process, like LocalClusterSmoke:
  * {{{
  * /opt/spark/bin/spark-submit --master 'local-cluster[2,16,2048]' \
  *   --class graft.tools.ReplicaSoak \
  *   target/scala-2.13/canvasdata2awsspark_2.13-0.1.0.jar [T]
  * }}}
  * Prints one JSON line per table and a final summary; any accounting
  * mismatch is a FAILURE (nonzero exit). Results land in SCALE.md.
  */
object ReplicaSoak {
  def main(args: Array[String]): Unit = {
    val t = args.headOption.map(_.toInt).getOrElse(50)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    graft.util.sweepStaleScratch()
    // no .master(): spark-submit supplies local-cluster[…]; a plain local
    // run still works for dev but the SCALE.md row is the cluster run
    val spark = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"""{"soak":"start","tables":$t,"master":"${spark.sparkContext.master}"}""")

    val fmt = "graft.sources.ManifestSink"
    val scratch = graft.util.tempDir(s"graft_soak_${t}_")
    def epochDay(c: org.apache.spark.sql.Column) =
      datediff(c.cast("date"), to_date(lit("1970-01-01"))).cast("long")
    val base = graft.Tables(spark, sfDir, "orders")
      .select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"),
        epochDay(col("o_orderdate")).as("day"),
        col("o_orderstatus").as("st_src"))
    base.cache().count()
    val watermarks = Seq(
      java.time.LocalDate.parse("1995-01-01").toEpochDay,
      java.time.LocalDate.parse("1998-01-01").toEpochDay,
      Long.MaxValue)

    // ground truth, one aggregate job: per-table slice size, F-key count,
    // and the round-1 row count (rows at or before the first watermark —
    // the rows that must surface NULL in the evolved column)
    val expected = base
      .groupBy((col("k") % t).as("tbl"))
      .agg(count(lit(1)).as("total"),
        sum(when(col("st_src") === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when(col("day") <= watermarks.head, 1L).otherwise(0L)).as("r1"))
      .collect().map(r => r.getLong(0).toInt ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    def tdir(i: Int) = s"$scratch/replica/table_$i"
    val syncDir = s"$scratch/replica/_catalog"

    // ---- concurrent consistency reader (r12 verdict #5): while writers
    // race, ONE thread keeps observing the replica both ways —
    //  (a) DIRECT: list each table's latest valid version (what a
    //      pointer-chasing consumer does today) — mid-round this shows
    //      MIXED versions across tables, a real torn cross-table read;
    //  (b) SYNC-POINT: resolve the latest `sync.v<N>.json` and read each
    //      table AT its pinned version — this must NEVER be torn: pins
    //      resolve (footer-valid), are ≤ the table's current version,
    //      and are identical across tables (rounds are symmetric here).
    // The run FAILS on any sync-point tear; direct tears are reported as
    // the evidence of the race the sync point closes.
    val tornSync = new java.util.concurrent.atomic.AtomicInteger(0)
    val tornDirect = new java.util.concurrent.atomic.AtomicInteger(0)
    val syncObs = new java.util.concurrent.atomic.AtomicInteger(0)
    val directObs = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var readerStop = false
    val reader = new Thread(() => {
      while (!readerStop) {
        val direct = (0 until t).map(i =>
          graft.sources.ManifestSink.latestVersion(tdir(i)))
        if (direct.forall(_ >= 1)) {
          directObs.incrementAndGet()
          if (direct.distinct.size > 1) tornDirect.incrementAndGet()
        }
        graft.sources.ManifestSink.readSyncPoint(syncDir).foreach {
          case (_, pins) =>
            syncObs.incrementAndGet()
            val ok = pins.nonEmpty &&
              pins.values.toSeq.distinct.size == 1 &&
              pins.forall { case (dir, pv) =>
                graft.sources.ManifestSink.latestVersion(dir) >= pv &&
                  graft.sources.ManifestSink.readState(dir, Some(pv)).isDefined
              }
            if (!ok) tornSync.incrementAndGet()
        }
        Thread.sleep(2)
      }
    })
    reader.setDaemon(true)
    reader.start()

    // ---- sync loop: rounds are global, tables run from a pool, the two
    // committers of one (table, round) race from sibling threads
    val pool = Executors.newFixedThreadPool(12)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val since = Array.fill(t)(Long.MinValue)
    val t0 = System.nanoTime()
    watermarks.zipWithIndex.foreach { case (w, round) =>
      val tasks = (0 until t).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit = try {
            val slice = base.filter(col("k") % t === i &&
              col("day") > since(i) && col("day") <= w)
            val withEvo =
              if (round == 0) slice.select(col("k"), col("cents"), col("day"))
              else slice.select(col("k"), col("cents"), col("day"),
                col("st_src").as("st"))
            val halves = Seq(0, 1).map { p =>
              val df = withEvo.filter(expr(s"(k div $t) % 2 = $p"))
              new Thread(() =>
                df.write.format(fmt).option("path", tdir(i))
                  .mode("append").save())
            }
            halves.foreach(_.start()); halves.foreach(_.join())
            since(i) = w
          } catch { case e: Throwable =>
            failures.add(s"table_$i round$round: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        })
      }
      tasks.foreach(_.get())
      // mid-stream evolution: widen every table by one CAS commit after
      // the first round, exactly like GraftCatalog's ALTER publishes
      if (round == 0) (0 until t).foreach { i =>
        graft.sources.ManifestSink.commit(tdir(i)) { (_, prior) =>
          val st = prior.getOrElse(
            throw new IllegalStateException(s"no state for table_$i"))
          Some(st.copy(schema = st.schema.add("st", org.apache.spark.sql.types.StringType)))
        }
      }
      // the round's cross-table ATOMIC sync point: one catalog-level
      // publish pinning every table's version — all-or-nothing for the
      // concurrent reader above
      val pins = (0 until t).map(i => tdir(i) ->
        graft.sources.ManifestSink.latestVersion(tdir(i))).toMap
      graft.sources.ManifestSink.publishSyncPoint(syncDir, pins)
    }
    pool.shutdown()

    // ---- row-level deletes: one equality-delete commit per table
    val fKeys = base.filter(col("st_src") === "F")
      .select(col("k")).collect().map(_.getLong(0)).groupBy(k => (k % t).toInt)
    (0 until t).foreach { i =>
      val keys = fKeys.getOrElse(i, Array.empty[Long])
      val name = s"del-soak-$i.tsv"
      Files.createDirectories(Paths.get(tdir(i), "data"))
      Files.write(Paths.get(tdir(i), "data", name),
        keys.mkString("\n").getBytes(StandardCharsets.UTF_8))
      graft.sources.ManifestSink.commit(tdir(i))((v, prior) =>
        prior.map(st => st.copy(deletes = st.deletes :+ (name, v + 1))))
    }
    // final sync point: the delete round becomes visible atomically too
    graft.sources.ManifestSink.publishSyncPoint(syncDir,
      (0 until t).map(i => tdir(i) ->
        graft.sources.ManifestSink.latestVersion(tdir(i))).toMap)
    readerStop = true
    reader.join(5000)
    val syncSec = (System.nanoTime() - t0) / 1e9

    // ---- CDF consumer: per-table batch change-feed audit
    var bad = 0
    (0 until t).foreach { i =>
      val (total, nF, r1) = expected(i)
      val cdf = spark.read.format(fmt).option("path", tdir(i))
        .option("changeFeed", "true").load()
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("st").isNull, 1L).otherwise(0L)).as("n_null_st"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val inserts = cdf.get("insert").map(_._1).getOrElse(0L)
      val insertNullSt = cdf.get("insert").map(_._2).getOrElse(0L)
      val deletes = cdf.get("delete").map(_._1).getOrElse(0L)
      val plain = spark.read.format(fmt).option("path", tdir(i)).load().count()
      val v = graft.sources.ManifestSink.latestVersion(tdir(i))
      val ok = inserts == total && deletes == nF && plain == total - nF &&
        insertNullSt == r1 && v == 8
      if (!ok) bad += 1
      println(s"""{"soak_table":$i,"ok":$ok,"inserts":$inserts,"expect_inserts":$total,""" +
        s""""deletes":$deletes,"expect_deletes":$nF,"plain":$plain,""" +
        s""""pre_evolution_null_st":$insertNullSt,"expect_r1":$r1,""" +
        s""""versions":$v}""")
    }
    // the final sync point must pin the final state (v=8 everywhere)
    val finalSync = graft.sources.ManifestSink.readSyncPoint(syncDir)
    val finalSyncOk = finalSync.exists(_._2.values.forall(_ == 8))
    failures.forEach(f => println(s"""{"soak_error":"${f.replace("\"", "'")}"}"""))
    val status =
      if (bad == 0 && failures.isEmpty && tornSync.get == 0 && finalSyncOk) "PASS"
      else "FAIL"
    println(f"""{"soak":"summary","tables":$t,"sync_sec":$syncSec%.1f,""" +
      s""""bad_tables":$bad,"errors":${failures.size},""" +
      s""""reader_sync_obs":${syncObs.get},"torn_sync_reads":${tornSync.get},""" +
      s""""reader_direct_obs":${directObs.get},"torn_direct_reads":${tornDirect.get},""" +
      s""""final_sync_pins_v8":$finalSyncOk,"status":"$status"}""")
    spark.stop()
    if (status != "PASS") sys.exit(1)
  }
}
