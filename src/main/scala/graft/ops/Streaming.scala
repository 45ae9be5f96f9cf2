package graft.ops

import graft.{Q, Staged, util}
import graft.GraftSession.{mountCatalog, withConfs, withWidth}
import graft.cdc.Replica
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StatefulProcessor, StatefulProcessorWithInitialState, TimeMode, TimerValues, TTLConfig, Trigger, ValueState}
import org.apache.spark.sql.types._

/** Per-user running totals through Spark 4's arbitrary-state v2 API
  * (`transformWithState`): a [[StatefulProcessor]] holding one typed
  * [[ValueState]] of three longs per key — the bounded, order-insensitive
  * fold shape. State lives in the (mandatory for this API) RocksDB
  * provider, so per-executor state is disk-bounded, with incremental
  * snapshot upload at checkpoint — the v2 replacement for
  * mapGroupsWithState at 100 TB.
  */
class RunningTotalsProcessor
    extends StatefulProcessor[Long, (Long, Long, Long), (Long, Long, Long, Long)] {
  @transient private var totals: ValueState[(Long, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Long, Long)]("totals",
      org.apache.spark.sql.Encoders.product[(Long, Long, Long)], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    var (n, total, hi) =
      if (totals.exists()) totals.get() else (0L, 0L, Long.MinValue)
    rows.foreach { r =>
      n += 1; total += r._3; if (r._3 > hi) hi = r._3
    }
    totals.update((n, total, hi))
    Iterator.single((key, n, total, hi))
  }
}

/** Warm-start totals (round-9): the StatefulProcessorWithInitialState
  * surface — state is SEEDED from a batch dataset (yesterday's
  * checkpoint, a backfill, a migrated store) before the first
  * micro-batch, the operational path every stateful-pipeline migration
  * needs (cold-starting 10⁹ keys by replaying history is unpayable; you
  * hand the processor the aggregate you already have). State: per-user
  * (n_events, cents); initial rows land via handleInitialState, the
  * stream folds on top, and the final totals must equal the full-history
  * batch aggregate — which is exactly what the oracle states.
  */
class WarmStartTotalsProcessor
    extends StatefulProcessorWithInitialState[
      Long, (Long, Long, Long), (Long, Long, Long), (Long, Long)] {
  @transient private var totals: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Long)]("warm",
      org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)

  override def handleInitialState(key: Long, initial: (Long, Long),
      timers: TimerValues): Unit =
    totals.update(initial)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long)] = {
    var (n, cents) = if (totals.exists()) totals.get() else (0L, 0L)
    rows.foreach { r => n += 1; cents += r._3 }
    totals.update((n, cents))
    Iterator.single((key, n, cents))
  }
}

/** State TTL through transformWithState (round-10): the ValueState is
  * declared with a 1 ms [[TTLConfig]] under processing time, so totals
  * written in micro-batch N are EXPIRED by the time batch N+1 reads
  * them — every batch folds from a cold state and the emitted row is
  * that batch's own totals, not a running sum. The ops lever this row
  * pins: TTL is how a 100 TB stateful pipeline bounds RocksDB growth on
  * an unbounded key space (abandoned sessions, one-shot users) without a
  * bespoke timer per key. The 1 ms duration is deterministic for the
  * staged two-file schedule: inter-batch latency is always ≫ 1 ms, and
  * intra-batch reads never see their own batch's expiry (one
  * handleInputRows call per key per batch).
  */
class TtlTotalsProcessor
    extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
  @transient private var totals: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Long)]("ttl_totals",
      org.apache.spark.sql.Encoders.product[(Long, Long)],
      TTLConfig(java.time.Duration.ofMillis(1)))

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long)] = {
    var (n, cents) = if (totals.exists()) totals.get() else (0L, 0L)
    rows.foreach { r => n += 1; cents += r._2 }
    totals.update((n, cents))
    Iterator.single((key, n, cents))
  }
}

/** CEP sequence detector (round-9): per-user state machine over event
  * time — signup → (strictly later) click → (strictly later) purchase.
  * State is ONE tuple (stage, s_ns, c_ns); each batch's rows are sorted
  * by (ts_ns, event_id) before feeding the machine (a micro-batch
  * iterator carries no order guarantee; per-key batch volume is bounded
  * by the trigger, so the sort is small and local). The machine emits
  * exactly once, at the first completion, then parks at stage 3 — the
  * funnel-alert shape (notify the instant a user converts) that batch
  * replays can only discover after the fact. Semantics are min-based
  * and tie-free (strict ts inequality at each hop), so a 3-step
  * conditional-min SQL replay certifies the full streaming path.
  */
class SequenceDetectProcessor
    extends StatefulProcessor[Long, (Long, Long, Long, String), (Long, Long, Long, Long)] {
  @transient private var st: ValueState[(Int, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Int, Long, Long)]("cep",
      org.apache.spark.sql.Encoders.product[(Int, Long, Long)], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long, String)],
      timers: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    var (stage, sNs, cNs) = if (st.exists()) st.get() else (0, 0L, 0L)
    var done: Option[(Long, Long, Long, Long)] = None
    // (ts_ns, event_id) sort restores event-time order within the batch
    rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
      val (ts, typ) = (r._2, r._4)
      stage match {
        case 0 if typ == "signup" => stage = 1; sNs = ts
        case 1 if typ == "click" && ts > sNs => stage = 2; cNs = ts
        case 2 if typ == "purchase" && ts > cNs =>
          stage = 3; done = Some((key, sNs, cNs, ts))
        case _ => ()
      }
    }
    st.update((stage, sNs, cNs))
    done.iterator
  }
}

/** Event-time TIMER surface of the arbitrary-state v2 API (round-9):
  * per-user inactivity timeout. Each key holds (n_events, last_seen_µs);
  * every batch re-arms one timer at last_seen + 30 min (deleting the
  * previous one), and ONLY [[handleExpiredTimer]] emits — the
  * session-timeout shape (notify when a user goes quiet) that needs
  * timers, because no later input row exists to trigger the emission.
  * Keys whose timer never passes the final watermark stay un-emitted in
  * state, exactly like an open session window.
  */
class InactivityTimeoutProcessor
    extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
  @transient private var seen: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[(Long, Long)]("seen",
      org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)

  private def expiryMs(lastUs: Long): Long = lastUs / 1000L + 30L * 60L * 1000L

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long)] = {
    var (n, lastUs) = if (seen.exists()) {
      val prev = seen.get()
      getHandle.deleteTimer(expiryMs(prev._2))
      prev
    } else (0L, Long.MinValue)
    rows.foreach { r => n += 1; if (r._2 > lastUs) lastUs = r._2 }
    seen.update((n, lastUs))
    getHandle.registerTimer(expiryMs(lastUs))
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
      info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
    val out = if (seen.exists()) {
      val (n, lastUs) = seen.get()
      Iterator.single((key, n, lastUs))
    } else Iterator.empty
    seen.clear()
    out
  }
}

/** MAP-typed keyed state (round-9): per-user map event_type → (count,
  * cents) maintained with MapState's point operations — getValue/
  * updateValue touch ONLY the entries a batch's rows hit (RocksDB prefix
  * reads), never deserializing the whole map, which is the reason MapState
  * exists vs a ValueState[Map] at scale. Each batch re-emits the key's
  * current entries (update mode).
  */
class PerTypeTotalsProcessor
    extends StatefulProcessor[Long, (Long, String, Long), (Long, String, Long, Long)] {
  @transient private var perType: org.apache.spark.sql.streaming.MapState[String, (Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    perType = getHandle.getMapState[String, (Long, Long)]("perType",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, String, Long)],
      timers: TimerValues): Iterator[(Long, String, Long, Long)] = {
    rows.foreach { r =>
      val prev = if (perType.containsKey(r._2)) perType.getValue(r._2) else (0L, 0L)
      perType.updateValue(r._2, (prev._1 + 1, prev._2 + r._3))
    }
    perType.iterator().map { case (t, (n, c)) => (key, t, n, c) }
  }
}

/** LIST-typed keyed state (round-9): the most-recent-3 events per user.
  * ListState appends per batch (appendValue — an O(1) RocksDB merge op,
  * not read-modify-write of the whole list) and is trimmed to the top 3
  * (ts, event_id) pairs only when it grows past the cap, so steady-state
  * writes stay append-only — the recency-feature shape (last N actions
  * per user) every personalization pipeline keeps.
  */
class RecentEventsProcessor
    extends StatefulProcessor[Long, (Long, Long, Long), (Long, Long, Seq[Long])] {
  @transient private var recent: org.apache.spark.sql.streaming.ListState[(Long, Long)] = _
  @transient private var total: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    recent = getHandle.getListState[(Long, Long)]("recent",
      org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)
    total = getHandle.getValueState[Long]("total",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Seq[Long])] = {
    var n = if (total.exists()) total.get() else 0L
    rows.foreach { r => recent.appendValue((r._2, r._3)); n += 1 }
    total.update(n)
    val all = recent.get().toSeq.sorted(Ordering[(Long, Long)].reverse)
    val kept = all.take(3)
    if (all.size > 3) recent.put(kept.toArray)
    Iterator.single((key, n, kept.map(_._2)))
  }
}

/** §2.9 Structured Streaming tier, verified through `Trigger.AvailableNow`
  * over staged copies of the `events` fixture: the stream runs to
  * completion and the final state is compared to a batch oracle
  * (SURVEY.md §5.5).
  *
  * Scale posture: every operator here is the same declarative plan Spark
  * runs against a real unbounded source (Kafka / file landing zone at
  * 100 TB/day): windowed aggs keep per-window state in the state store,
  * watermarks bound that state, and `foreachBatch` merges reuse the batch
  * CDC fold — one code path for batch and streaming (SURVEY.md §7.2.6).
  */
object Streaming {

  /** The RocksDB state store: keyed state off-heap on local disk, bounded
    * by SSD rather than executor heap, with incremental snapshot upload.
    * `transformWithState` requires it.
    */
  private[graft] val rocksDbConfs = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Path to an events parquet file in the LEGACY wire layout the file
    * stream sources declare (`rawSchema`: ts as raw nanosecond long). For
    * legacy testdata this is the driver's file itself; for the µs-layout
    * testdata it's a one-time rewrite through [[graft.Tables.events]].
    * This and every staged input below is staged per session, so the
    * bench's repeat runs of a streaming row do not re-copy (or re-write)
    * its staging files.
    */
  private[graft] def normalizedEventsFile(s: SparkSession, dir: String): String =
    Staged(s, "stream.normalized", dir) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val isLegacy = s.read.parquet(s"$dir/events.parquet")
        .schema("ts").dataType == LongType
      if (isLegacy) s"$dir/events.parquet"
      else {
        val out = s"${graft.util.tempDir("graft_stream_norm_")}/events.parquet"
        writeOneFile(graft.Tables.events(s, dir)
          .select(col("event_id"), col("ts_ns").as("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")), out)
        out
      }
    }

  /** Write `df` as the one parquet file `dest`, stamped `mtime` (epoch ms).
    * Spark writes into a scratch dir OUTSIDE `dest`'s dir: a file source
    * over that dir must see only the final parquet files, not writer
    * droppings (_SUCCESS, subdirs).
    */
  private def writeOneFile(df: DataFrame, dest: String, mtime: Option[Long] = None): Unit = {
    import java.nio.file.{Files, Paths}
    val part = s"${graft.util.tempDir("graft_stream_scratch_")}/one"
    df.coalesce(1).write.parquet(part)
    val listing = Files.list(Paths.get(part))
    val file =
      try listing.toArray.map(_.toString).filter(_.endsWith(".parquet")).head
      finally listing.close()
    Files.move(Paths.get(file), Paths.get(dest))
    mtime.foreach(ms => Files.setLastModifiedTime(
      Paths.get(dest), java.nio.file.attribute.FileTime.fromMillis(ms)))
  }

  /** A directory of `copies` identical copies of the normalized events. */
  private[graft] def stage(s: SparkSession, dir: String, copies: Int): String =
    Staged(s, s"stream.copies.$copies", dir) {
      val src = normalizedEventsFile(s, dir)
      val tmp = graft.util.tempDir("graft_stream_")
      (1 to copies).foreach { i =>
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(src),
          java.nio.file.Paths.get(s"$tmp/events_$i.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      tmp
    }

  /** Stage `events` plus a RETRY copy: every event appears twice, the
    * second time with ts shifted +1 s — the at-least-once delivery shape
    * where the redelivered record carries a NEW event time (client retry
    * re-stamps), so key-only dropDuplicates can't bound its state and
    * key+ts dropDuplicates wouldn't dedup at all. Both files share one
    * mtime: the file source takes them in a single micro-batch, so the
    * first-seen copy is decided before any watermark can expire state.
    */
  private[graft] def stageWithRetries(s: SparkSession, dir: String): String =
    Staged(s, "stream.retries", dir) {
      import java.nio.file.{Files, Paths}
      val src = normalizedEventsFile(s, dir)
      val tmp = graft.util.tempDir("graft_stream_retry_")
      val t0 = 1000000000000L
      writeOneFile(s.read.schema(rawSchema).parquet(src)
        .withColumn("ts", col("ts") + lit(1000000000L)), // +1 s in nanos
        s"$tmp/events_retry.parquet", Some(t0))
      Files.copy(Paths.get(src), Paths.get(s"$tmp/events_orig.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(Paths.get(s"$tmp/events_orig.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(t0))
      tmp
    }

  /** Stage `events` as TWO files split at the midpoint timestamp, with
    * staggered mtimes so the file source (oldest-first by default) delivers
    * the early half as micro-batch 1 and the late half as micro-batch 2 —
    * a deterministic two-batch arrival that lets cross-batch state be
    * verified against a batch oracle.
    */
  private[graft] def stageSplitByTime(s: SparkSession, dir: String): String =
    Staged(s, "stream.split", dir) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val tmp = graft.util.tempDir("graft_stream_split_")
      val ev = s.read.schema(rawSchema).parquet(normalizedEventsFile(s, dir))
      val Array(lo, hi) = ev.agg(min(col("ts")), max(col("ts"))).collect()(0)
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val cut = lo + (hi - lo) / 2
      writeOneFile(ev.filter(col("ts") <= cut), s"$tmp/events_early.parquet",
        Some(1000000000000L))
      writeOneFile(ev.filter(col("ts") > cut), s"$tmp/events_late.parquet",
        Some(1000000060000L))
      tmp
    }

  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // TIMESTAMP(NANOS) read as raw long
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream of events with ts normalized to µs TIMESTAMP_NTZ —
    * the same truncation `Tables.events` applies on the batch side.
    */
  private[graft] def eventsStream(s: SparkSession, staged: String, maxFilesPerTrigger: Option[Int] = None, ntz: Boolean = true): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val r = s.readStream.schema(rawSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    val ts = timestamp_micros(expr("ts_ns div 1000"))
    r.parquet(staged)
      .withColumnRenamed("ts", "ts_ns")
      // watermarks require tz-aware TIMESTAMP (UTC session → same instant)
      .withColumn("ts", if (ntz) ts.cast("timestamp_ntz") else ts)
  }

  /** Run a streaming DataFrame to completion into a memory sink, return the
    * resulting table. Stateful operators materialize one state-store
    * instance per shuffle partition, so the width the query starts under
    * is its state-store count.
    */
  private def runToMemory(s: SparkSession, df: DataFrame, name: String, mode: String): DataFrame = {
    // No width is set here: every Streaming def runs inside
    // [[withStreamStatePartitions]], whose width follows the input's
    // bytes. A constant set here would override it with a number that
    // fits one input size and no other.
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
  }

  /** Like [[runToMemory]] but for queries that CANNOT self-terminate:
    * `transformWithState` under `TimeMode.ProcessingTime` keeps the
    * stateful operator requesting further micro-batches (TTL/timer
    * sweeps), so both an AvailableNow trigger and `processAllAvailable()`
    * wait forever. Instead, poll the query's progress until the source
    * has fed `expectedInputRows` total rows through, then stop — the
    * bounded-staging equivalent of an operator's external drain signal.
    */
  private def runToMemoryDrain(s: SparkSession, df: DataFrame, name: String,
      mode: String, expectedInputRows: Long): DataFrame = {
    // No width is set here either: [[withStreamStatePartitions]] owns it
    // (see runToMemory).
    // 1 s pacing keeps the no-data batches (which the stateful operator
    // requests forever) from flooding the bounded recentProgress buffer
    // before the poll below has summed the data batches' row counts.
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
      def fed: Long = q.recentProgress.map(_.numInputRows).sum
      while (fed < expectedInputRows && System.nanoTime() < deadline &&
          q.exception.isEmpty) Thread.sleep(50)
      q.exception.foreach(throw _)
      require(fed >= expectedInputRows,
        s"streaming drain timed out: fed $fed of $expectedInputRows rows")
    } finally q.stop()
    q.awaitTermination()
    s.table(name)
  }

  /** Shared by the [[stream_changelog_checkpoint]] row and its spec: run a
    * stateful aggregate on the RocksDB provider with CHANGELOG
    * checkpointing — the 100 TB recovery posture: each commit uploads only
    * the batch's delta (a `.changelog` file) instead of a full SST
    * snapshot zip, so checkpoint cost is O(changed keys) per batch and
    * restart replays base + changelogs. Two staged files ×
    * `maxFilesPerTrigger=1` force ≥2 data micro-batches, so versions
    * accumulate and at least one per-batch changelog is written. Returns
    * (result, checkpointDir, progresses) so the spec can pin the
    * `.changelog` files in the checkpoint AND the provider's custom
    * metrics in the progress events; results are provider-independent
    * (the oracle certifies exactly that).
    */
  private[graft] def changelogCheckpointRun(s: SparkSession, dir: String)
      : (DataFrame, String,
         Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val changelog =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"
    withConfs(s, rocksDbConfs :+ changelog) {
      val ckpt = graft.util.tempDir("graft_changelog_ckpt_")
      val ev = eventsStream(s, stageSplitByTime(s, dir),
        maxFilesPerTrigger = Some(1), ntz = false)
      val counts = ev
        .withColumn("cents", floor(col("value") * 100 + lit(0.5)).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      val q = counts.writeStream.outputMode("complete")
        .format("memory").queryName("t_changelog")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      (s.table("t_changelog").orderBy(col("event_type")), ckpt,
        q.recentProgress.toSeq)
    }
  }

  /** Scoped shuffle width for one streaming row's execution, derived
    * from the input's bytes by [[graft.GraftSession.width]] (one
    * partition per 32 MB, at least one), never from the core count.
    * Stateful streaming operators keep one state store per shuffle
    * partition per operator and open and commit every store on every
    * micro-batch, so partitions beyond the state volume are per-batch
    * fixed cost at any scale. The conf is set around fn's body only:
    * every streaming row runs its query to completion inside fn
    * (awaitTermination on AvailableNow), so the scope covers the stream
    * and the returned memory-table read is partition-agnostic. A
    * restarted query keeps the width its checkpoint was started with:
    * Spark restores `shuffle.partitions` from the offset log. Results
    * are partitioning-independent by construction, so any width
    * hash-matches the oracle.
    */
  private[graft] def withStreamStatePartitions(
      fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    // width from the TOTAL input-dir bytes (not one table): every
    // wrapped row's state is bounded by what it reads from the dir.
    //
    // Execution contract: wrapped rows run strictly sequentially on the
    // session (the bench and verify drivers are single-threaded) — the
    // scoped conf is session-global and would race under concurrent row
    // execution, and lazy work in the returned DataFrame executes
    // after restore (fine: every wrapped row's RESULT is
    // partitioning-agnostic; the width only shapes the stream's state
    // stores, which fn runs to completion).
    dirBytes(s, dir) match {
      case Some(bytes) => withWidth(s, bytes)(fn(s, dir))
      case None =>
        // probe failed: keep the session width. Sizing an unknown input
        // as if it were empty would give a large input's state one store.
        fn(s, dir)
    }
  }

  /** Recursive byte total of `dir` through the Hadoop filesystem layer —
    * storage-agnostic (local paths, HDFS, object stores all answer
    * `getContentSummary`); a `java.nio.file.Files.list` probe would be
    * non-recursive and local-only and undercount. `None` (NOT zero) on
    * any failure, so callers fall back instead of sizing to the floor.
    */
  private[graft] def dirBytes(s: SparkSession, dir: String): Option[Long] =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      Some(fs.getContentSummary(p).getLength)
    } catch { case _: Throwable => None }

  val defs: Seq[Q] = rawDefs.map(q =>
    q.copy(fn = withStreamStatePartitions(q.fn)))

  private def rawDefs: Seq[Q] = Seq(
    Q(
      "stream_changelog_checkpoint",
      // Stateful streaming under RocksDB CHANGELOG checkpointing (r10
      // verdict #5): per-batch delta files instead of full snapshot
      // uploads — the recovery-cost posture a 100 TB stateful pipeline
      // runs with. Results must be byte-identical to any other provider;
      // StreamingSpec pins the .changelog files in the checkpoint and the
      // RocksDB custom metrics in the query progress.
      (s, dir) => changelogCheckpointRun(s, dir)._1,
      Some("""SELECT event_type,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    Q(
      "stream_tumbling_count",
      (s, dir) => {
        val ev = eventsStream(s, stage(s, dir, 1))
        val agg = ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
        runToMemory(s, agg, "t_tumbling", "complete")
          .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
            col("event_type"), col("n_events"))
          .orderBy(col("hour_start"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', ts) AS hour_start, event_type,
             |       count(*) AS n_events
             |FROM events GROUP BY 1, 2
             |ORDER BY hour_start, event_type""".stripMargin)
    ),
    Q(
      "stream_state_reader",
      // Spark 4's state data source: the streaming state store read back
      // as a BATCH DataFrame — the ops surface for debugging stuck
      // stateful queries, state migrations, and offline state audits.
      // A grouped aggregate runs to completion against a checkpoint
      // (noop sink: the OUTPUT is discarded, the STATE is the product),
      // then `read.format("statestore")` loads the last committed
      // batch's store: key struct + aggregation buffer per group. The
      // oracle is the equivalent batch fold — state after AvailableNow
      // must equal the batch answer exactly (count + exact-cents sum).
      (s, dir) => {
        val ckpt = graft.util.tempDir("graft_statereader_ckpt_")
        val agg = eventsStream(s, stage(s, dir, 1))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("sum_cents"))
        val q = agg.writeStream.outputMode("complete").format("noop")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.format("statestore").load(ckpt)
          .select(col("key.event_type").as("event_type"),
            col("value.count").as("n_events"),
            col("value.sum").as("sum_cents"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    Q(
      "stream_observed_metrics",
      // DQ on streams: `observe()` attaches named aggregates to the
      // streaming plan and each micro-batch reports them through
      // StreamingQueryProgress — quality metrics ride the pipeline for
      // FREE (no second scan), the streaming twin of dq_observed_metrics.
      // Per-batch partials sum exactly across batches because the metrics
      // are associative integers (count + cents-scaled BIGINT sum) — the
      // totals are batch-split-invariant, so the batch oracle applies
      // regardless of how AvailableNow slices the files. The split-staged
      // source (two mtime-ordered files) forces ≥ 2 micro-batches, so the
      // accumulation path is actually exercised.
      (s, dir) => {
        import s.implicits._
        val ev = eventsStream(s, stageSplitByTime(s, dir))
        val cents = expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
        val observed = ev.observe("gate",
          count(lit(1)).as("n_rows"),
          sum(cents).as("sum_cents"),
          count(when(col("user_id").isNull, 1)).as("n_null_user"))
        val q = observed.writeStream.format("noop")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val totals = q.recentProgress.toSeq
          .flatMap(p => Option(p.observedMetrics.get("gate")))
          .foldLeft((0L, 0L, 0L)) { (acc, r) =>
            def nz(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
            (acc._1 + nz(0), acc._2 + nz(1), acc._3 + nz(2))
          }
        Seq(totals).toDF("n_rows", "sum_cents", "n_null_user")
      },
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
             |       CAST(count(*) FILTER (WHERE user_id IS NULL) AS BIGINT) AS n_null_user
             |FROM events""".stripMargin)
    ),
    Q(
      "stream_sliding_sum",
      // 1h window sliding 15m: each event lands in 4 overlapping windows,
      // aligned to epoch-0 slide boundaries in both engines.
      (s, dir) => {
        val ev = eventsStream(s, stage(s, dir, 1))
        val agg = ev.groupBy(window(col("ts"), "1 hour", "15 minutes"))
          .agg(util.r2(sum(col("value"))).as("total_value"), count(lit(1)).as("n_events"))
        runToMemory(s, agg, "t_sliding", "complete")
          .select(col("window.start").cast("timestamp_ntz").as("window_start"),
            col("total_value"), col("n_events"))
          .orderBy(col("window_start"))
      },
      Some(s"""SELECT make_timestamp((((epoch_us(ts) // 1000000) // 900) * 900 - 900 * k) * 1000000) AS window_start,
              |       ${util.r2sql("sum(value)")} AS total_value,
              |       count(*) AS n_events
              |FROM events, unnest([0, 1, 2, 3]) AS t(k)
              |GROUP BY 1
              |ORDER BY window_start""".stripMargin)
    ),
    Q(
      "stream_session_window",
      // Per-user sessions with a 30-minute gap. Spark merges an event into
      // the session when its gap to the previous event is <= the gap
      // duration (boundary-INCLUSIVE, verified in StreamingSpec); a new
      // session opens only on a strictly greater gap. The oracle replays
      // that as gaps-and-islands SQL with `>`.
      (s, dir) => {
        val ev = eventsStream(s, stage(s, dir, 1))
        val agg = ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"), util.r2(sum(col("value"))).as("total_value"))
        runToMemory(s, agg, "t_session", "complete")
          .select(col("user_id"),
            col("session_window.start").cast("timestamp_ntz").as("session_start"),
            col("session_window.end").cast("timestamp_ntz").as("session_end"),
            col("n_events"), col("total_value"))
          .orderBy(col("user_id"), col("session_start"))
      },
      Some(s"""WITH m AS (
              |  SELECT user_id, ts, value,
              |         CASE WHEN lag(ts) OVER w IS NULL
              |                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              |              THEN 1 ELSE 0 END AS new_s
              |  FROM events
              |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              |g AS (
              |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, new_s
              |                             ROWS UNBOUNDED PRECEDING) AS sid
              |  FROM m)
              |SELECT user_id, min(ts) AS session_start,
              |       max(ts) + INTERVAL 30 MINUTE AS session_end,
              |       count(*) AS n_events, ${util.r2sql("sum(value)")} AS total_value
              |FROM g GROUP BY user_id, sid
              |ORDER BY user_id, session_start""".stripMargin)
    ),
    Q(
      "stream_watermark_late",
      // Watermark finalization policy: two identical files, one per
      // micro-batch. Trigger.AvailableNow pre-plans every batch's offsets
      // at query start, so BOTH copies process under the initial watermark
      // (numRowsDroppedByWatermark = 0 — intra-run late-DROPPING is
      // asserted separately in StreamingSpec via MemoryStream, where the
      // watermark advances between injected batches); what this pipeline
      // pins is append-mode emission: the terminal no-data batch finalizes
      // exactly the windows closed below max(ts) − 10min, at full 2×
      // counts, while the open tail stays unemitted in state. That
      // schedule is deterministic, so the emitted set is SQL-expressible.
      (s, dir) => {
        val ev = eventsStream(s, stage(s, dir, 2), maxFilesPerTrigger = Some(1), ntz = false)
        val agg = ev.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
        runToMemory(s, agg, "t_watermark", "append")
          .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
            col("event_type"), col("n_events"))
          .orderBy(col("hour_start"), col("event_type"))
      },
      Some("""WITH m AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events)
             |SELECT date_trunc('hour', ts) AS hour_start, event_type,
             |       2 * count(*) AS n_events
             |FROM events, m
             |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm
             |GROUP BY 1, 2, wm
             |ORDER BY hour_start, event_type""".stripMargin)
    ),
    Q(
      "stream_dedup_keys",
      // Exactly-once by event_id: the staged source delivers every event
      // twice; dropDuplicates with a watermark keeps state bounded and
      // emits each key once. Duplicate rows are byte-identical, so which
      // copy survives is immaterial.
      (s, dir) => {
        val ev = eventsStream(s, stage(s, dir, 2), ntz = false)
        val dedup = ev.withWatermark("ts", "1 hour")
          .dropDuplicates("event_id")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        runToMemory(s, dedup, "t_dedup", "append")
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id, event_type, value
             |FROM events ORDER BY event_id""".stripMargin)
    ),
    Q(
      "stream_dedup_within_watermark",
      // dropDuplicatesWithinWatermark (round-9, SPARK-42931): dedup when
      // the REDELIVERED record carries a DIFFERENT event time — the
      // client-retry-re-stamps shape where both classic forms fail:
      // dropDuplicates(key) never evicts state, dropDuplicates(key, ts)
      // doesn't match the retry at all. The within-watermark variant
      // matches on the key alone but expires each entry once the
      // watermark passes its first-seen time + delay, so state is
      // bounded by the delay window at ANY stream length — the 100 TB
      // posture for at-least-once ingestion. The staged source delivers
      // every event twice (+1 s on the retry); emitted columns exclude
      // ts (identical between copies), so which copy wins is immaterial
      // and the batch oracle is exact.
      (s, dir) => {
        val ev = eventsStream(s, stageWithRetries(s, dir), ntz = false)
        val dedup = ev.withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        runToMemory(s, dedup, "t_dedup_wm", "append")
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id, event_type, value
             |FROM events ORDER BY event_id""".stripMargin)
    ),
    Q(
      "stream_dedup_rocksdb",
      // Exactly-once dedup again, on the RocksDB state store provider —
      // the 100 TB posture for stateful streaming: keyed state lives
      // off-heap on local disk instead of the executor heap, so state size
      // is bounded by SSD, not memory, and snapshots upload incrementally.
      // The results must be byte-identical to the default provider's
      // (same oracle as stream_dedup_keys certifies exactly that).
      (s, dir) => {
        withConfs(s, rocksDbConfs) {
          val ev = eventsStream(s, stage(s, dir, 2), ntz = false)
          val dedup = ev.withWatermark("ts", "1 hour")
            .dropDuplicates("event_id")
            .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          runToMemory(s, dedup, "t_dedup_rocks", "append")
            .orderBy(col("event_id"))
        }
      },
      Some("""SELECT event_id, user_id, event_type, value
             |FROM events ORDER BY event_id""".stripMargin)
    ),
    Q(
      "stream_stateful_running",
      // Per-event running count/sum per user, continued across micro-batches.
      // The order-sensitive part — ranking each batch's rows by
      // (ts, event_id) within user — runs as a SQL window function INSIDE
      // foreachBatch, so the sort is Catalyst's spillable SortExec;
      // cross-batch continuity comes from a compact per-user offsets table
      // (two longs per user), not from buffering rows. Per-key memory is
      // O(1) no matter how hot a key gets — the earlier
      // flatMapGroupsWithState form materialized and heap-sorted every
      // user×batch group, an executor OOM waiting to happen at 100 TB.
      // Sums run in exact integer cents: cross-batch addition of doubles
      // would regroup FP operations vs the oracle's sequential window sum.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val staged = stageSplitByTime(s, dir)
        val outDir = graft.util.tempDir("graft_stateful_out_")
        val ev = eventsStream(s, staged, maxFilesPerTrigger = Some(1))
          .select(col("user_id"), col("event_id"), col("ts"),
            floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
        // per-user offsets carried across batches; distributed DF state,
        // eagerly localCheckpoint'ed because a micro-batch's source frame
        // is only valid inside its own batch
        val offsets = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
        val q = ev.writeStream.outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            val ranked = batch
              .withColumn("bn", count(lit(1)).over(w))
              .withColumn("bsum", sum(col("cents")).over(w))
            val withPrior = Option(offsets.get()) match {
              case None => ranked
                .withColumn("n0", lit(0L)).withColumn("sum0", lit(0L))
              case Some(prev) => ranked.join(prev, Seq("user_id"), "left")
                .na.fill(0L, Seq("n0", "sum0"))
            }
            withPrior
              .select(col("user_id"), col("event_id"),
                (col("bn") + col("n0")).as("run_n"),
                (col("bsum") + col("sum0")).as("run_sum_cents"))
              .write.mode("append").parquet(outDir)
            val totals = batch.groupBy("user_id")
              .agg(count(lit(1)).as("dn"), sum(col("cents")).as("dsum"))
            val next = Option(offsets.get()) match {
              case None => totals.select(col("user_id"),
                col("dn").as("n0"), col("dsum").as("sum0"))
              case Some(prev) => prev.join(totals, Seq("user_id"), "full_outer")
                .select(col("user_id"),
                  (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n0"),
                  (coalesce(col("sum0"), lit(0L)) + coalesce(col("dsum"), lit(0L))).as("sum0"))
            }
            offsets.set(next.localCheckpoint())
            ()
          }
          .start()
        q.awaitTermination()
        s.read.parquet(outDir).orderBy(col("event_id"))
      },
      Some("""SELECT user_id, event_id,
             |       count(*) OVER w AS run_n,
             |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS BIGINT) AS run_sum_cents
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)
    ),
    Q(
      "stream_stateful_agg",
      // Explicit keyed state via mapGroupsWithState, the bounded way: the
      // fold over each group's iterator is single-pass and ORDER-INSENSITIVE
      // (count, exact-cents sum, max), so no buffering or sorting is needed
      // — per-key state is three longs regardless of group size. Update
      // mode emits each user's state once per batch it appears in; the
      // final state per user is the row with the highest n (counts are
      // monotone across updates; sums need not be, hence max_by on n).
      (s, dir) => {
        import s.implicits._
        // maxFilesPerTrigger=1: the split stage MUST arrive as two
        // micro-batches, or the cross-batch state path is never exercised
        val ev = eventsStream(s, stageSplitByTime(s, dir), maxFilesPerTrigger = Some(1))
          .select(col("user_id"), col("event_id"),
            floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
          .as[(Long, Long, Long)]
        val out = ev.groupByKey(_._1)
          .mapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
            GroupStateTimeout.NoTimeout) {
            case (user, rows, state) =>
              var (n, total, hi) = state.getOption.getOrElse((0L, 0L, Long.MinValue))
              rows.foreach { r =>
                n += 1; total += r._3; if (r._3 > hi) hi = r._3
              }
              state.update((n, total, hi))
              (user, n, total, hi)
          }
          .toDF("user_id", "n_events", "sum_cents", "max_cents")
        runToMemory(s, out, "t_stateful_agg", "update")
          .groupBy(col("user_id"))
          .agg(max(col("n_events")).as("n_events"),
            max_by(col("sum_cents"), col("n_events")).as("sum_cents"),
            max(col("max_cents")).as("max_cents"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id,
             |       count(*) AS n_events,
             |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
             |       CAST(max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_cents
             |FROM events GROUP BY user_id
             |ORDER BY user_id""".stripMargin)
    ),
    Q(
      "stream_transform_with_state",
      // Spark 4 arbitrary-state v2 (transformWithState + StatefulProcessor
      // + typed ValueState) — see RunningTotalsProcessor. Same per-user
      // totals as stream_stateful_agg, so the oracle also certifies the
      // v1 (mapGroupsWithState) and v2 APIs agree. RocksDB provider is
      // required by this API.
      (s, dir) => {
        import s.implicits._
        withConfs(s, rocksDbConfs) {
          // two micro-batches (see stream_stateful_agg) so state.exists()
          // takes the true branch on the second batch
          val ev = eventsStream(s, stageSplitByTime(s, dir), maxFilesPerTrigger = Some(1))
            .select(col("user_id"), col("event_id"),
              floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
            .as[(Long, Long, Long)]
          val out = ev.groupByKey(_._1)
            .transformWithState(new RunningTotalsProcessor,
              TimeMode.None(), OutputMode.Update())
            .toDF("user_id", "n_events", "sum_cents", "max_cents")
          runToMemory(s, out, "t_tws", "update")
            .groupBy(col("user_id"))
            .agg(max(col("n_events")).as("n_events"),
              max_by(col("sum_cents"), col("n_events")).as("sum_cents"),
              max(col("max_cents")).as("max_cents"))
            .orderBy(col("user_id"))
        }
      },
      Some("""SELECT user_id,
             |       count(*) AS n_events,
             |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
             |       CAST(max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_cents
             |FROM events GROUP BY user_id
             |ORDER BY user_id""".stripMargin)
    ),
    Q(
      "stream_tws_initial_state",
      // Warm-start: state seeded from the pre-cutoff batch aggregate
      // (WarmStartTotalsProcessor.handleInitialState), then the stream
      // folds only the post-cutoff events on top. Final totals must
      // equal the full-history batch aggregate — the migration
      // correctness contract. Oracle restricted to users active after
      // the cutoff (update mode only emits keys that saw input).
      (s, dir) => {
        import s.implicits._
        withConfs(s, rocksDbConfs) {
          val cutoffNs = 1705276800L * 1000000000L // 2024-01-15T00:00Z
          val initial = graft.Tables.events(s, dir)
            .filter(col("ts_ns") < cutoffNs)
            .groupBy(col("user_id"))
            .agg(count(lit(1)).as("n"),
              sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("cents"))
            .as[(Long, Long, Long)]
            .groupByKey(_._1)
            .mapValues(r => (r._2, r._3))
          val ev = eventsStream(s, stage(s, dir, 1))
            .filter(col("ts_ns") >= cutoffNs)
            .select(col("user_id"), col("event_id"),
              floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
            .as[(Long, Long, Long)]
          val out = ev.groupByKey(_._1)
            .transformWithState(new WarmStartTotalsProcessor,
              TimeMode.None(), OutputMode.Update(), initial)
            .toDF("user_id", "n_events", "sum_cents")
          runToMemory(s, out, "t_warm", "update")
            .groupBy(col("user_id"))
            .agg(max(col("n_events")).as("n_events"),
              max_by(col("sum_cents"), col("n_events")).as("sum_cents"))
            .orderBy(col("user_id"))
        }
      },
      Some("""WITH active AS (
             |  SELECT DISTINCT user_id FROM events
             |  WHERE ts >= TIMESTAMP '2024-01-15 00:00:00')
             |SELECT e.user_id,
             |       count(*) AS n_events,
             |       CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events e JOIN active a ON e.user_id = a.user_id
             |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin)
    ),
    Q(
      "stream_cep_sequence",
      // Streaming CEP: the signup→click→purchase funnel detector as a
      // typed state machine (SequenceDetectProcessor) over two time-split
      // micro-batches — conversions spanning the batch boundary prove the
      // state carry. Emits exactly one row per converting user, at the
      // moment of conversion; the oracle replays the same min-based
      // machine as three conditional-min CTE hops.
      (s, dir) => {
        import s.implicits._
        withConfs(s, rocksDbConfs) {
          val ev = eventsStream(s, stageSplitByTime(s, dir), maxFilesPerTrigger = Some(1))
            .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
            .as[(Long, Long, Long, String)]
          val out = ev.groupByKey(_._1)
            .transformWithState(new SequenceDetectProcessor,
              TimeMode.None(), OutputMode.Update())
            .toDF("user_id", "signup_ns", "click_ns", "purchase_ns")
          runToMemory(s, out, "t_cep", "update")
            .orderBy(col("user_id"))
        }
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type,
             |         CAST(epoch_us(ts) * 1000 AS BIGINT) AS ts_ns
             |  FROM events),
             |s AS (
             |  SELECT user_id, CAST(min(ts_ns) AS BIGINT) AS signup_ns
             |  FROM ev WHERE event_type = 'signup' GROUP BY user_id),
             |c AS (
             |  SELECT e.user_id, CAST(min(e.ts_ns) AS BIGINT) AS click_ns
             |  FROM ev e JOIN s ON e.user_id = s.user_id
             |  WHERE e.event_type = 'click' AND e.ts_ns > s.signup_ns
             |  GROUP BY e.user_id),
             |p AS (
             |  SELECT e.user_id, CAST(min(e.ts_ns) AS BIGINT) AS purchase_ns
             |  FROM ev e JOIN c ON e.user_id = c.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts_ns > c.click_ns
             |  GROUP BY e.user_id)
             |SELECT s.user_id, s.signup_ns, c.click_ns, p.purchase_ns
             |FROM s JOIN c ON s.user_id = c.user_id
             |       JOIN p ON s.user_id = p.user_id
             |ORDER BY s.user_id""".stripMargin)
    ),
    Q(
      "stream_static_join",
      // Enrich the stream with a static dimension: stream-static joins need
      // no state at all (the dim is broadcast per micro-batch).
      (s, dir) => {
        val ev = eventsStream(s, stage(s, dir, 1))
        val cust = graft.Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val joined = ev.join(cust, col("user_id") === col("c_custkey"), "left")
          .select(col("event_id"), col("user_id"), col("c_mktsegment"))
        runToMemory(s, joined, "t_static_join", "append")
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id, c_mktsegment
             |FROM events LEFT JOIN customer ON user_id = c_custkey
             |ORDER BY event_id""".stripMargin)
    ),
    Q(
      "stream_stream_join",
      // Stream-stream interval self-join: clicks matched to errors by the
      // same user within the following 10 minutes. BOTH sides carry
      // watermarks and the join condition bounds event time — that pair is
      // what lets Spark expire buffered state instead of holding every row
      // forever (the unbounded-state trap of stream-stream joins at scale).
      // With AvailableNow over one staged file everything lands in one
      // micro-batch, so the emitted matches equal the batch oracle exactly.
      (s, dir) => {
        val ev = eventsStream(s, stage(s, dir, 1), ntz = false)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("uid"), col("ts").as("ts_click"),
            col("event_id").as("click_id"))
          .withWatermark("ts_click", "1 hour")
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id").as("uid_e"), col("ts").as("ts_error"),
            col("event_id").as("error_id"))
          .withWatermark("ts_error", "1 hour")
        val joined = clicks.join(errors,
          expr("""uid = uid_e AND
                 |ts_error >= ts_click AND
                 |ts_error <= ts_click + interval 10 minutes""".stripMargin))
        runToMemory(s, joined, "t_ss_join", "append")
          .select(col("click_id"), col("error_id"), col("uid"),
            col("ts_click").cast("timestamp_ntz").as("ts_click"),
            col("ts_error").cast("timestamp_ntz").as("ts_error"))
          .orderBy(col("click_id"), col("error_id"))
      },
      Some("""SELECT a.event_id AS click_id, b.event_id AS error_id,
             |       a.user_id AS uid, a.ts AS ts_click, b.ts AS ts_error
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id
             | AND a.event_type = 'click' AND b.event_type = 'error'
             | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
             |ORDER BY click_id, error_id""".stripMargin)
    ),
    Q(
      "stream_output_mode_update",
      // UPDATE output mode (round-9): the third output-mode leg after the
      // append and complete rows — each micro-batch re-emits ONLY the
      // aggregate rows that changed, the mode dashboards and KV-store
      // sinks consume (append can't emit running aggregates before the
      // watermark closes; complete re-emits the world). Two staged
      // batches update per-user counters; the memory sink accumulates one
      // row per (key × batch-it-changed-in), and the FINAL state is
      // recovered as the per-key max — exact because count and positive-
      // cents sum are monotone under accumulation. The oracle is the
      // batch fold, so the row certifies update-mode state continuity
      // across batches.
      (s, dir) => {
        val ev = eventsStream(s, stageSplitByTime(s, dir), ntz = false)
        val counts = ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("cents"))
        runToMemory(s, counts, "t_update_mode", "update")
          .groupBy(col("user_id"))
          .agg(max(col("n_events")).as("n_events"), max(col("cents")).as("cents"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),
    Q(
      "stream_stream_semi_join",
      // Stream-stream LEFT SEMI interval join (round-9): purchases that
      // had a click from the same user in the preceding hour — the
      // "attributed conversion" filter emitted as EXISTENCE, not pairs:
      // a purchase preceded by 40 clicks emits ONCE, where the inner
      // join's fanout would multiply it 40× (at 100 TB the difference
      // between an O(conversions) feed and an O(conversions × touches)
      // explosion). Both sides carry watermarks and the condition bounds
      // event time, so buffered state expires exactly as in the inner/
      // outer variants — this completes the stream-stream join-type trio
      // (inner, left outer, left semi). Oracle: the EXISTS form.
      (s, dir) => {
        val ev = eventsStream(s, stage(s, dir, 1), ntz = false)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("uid"), col("ts").as("ts_p"),
            col("event_id").as("purchase_id"), col("value"))
          .withWatermark("ts_p", "1 hour")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("uid_c"), col("ts").as("ts_c"))
          .withWatermark("ts_c", "1 hour")
        val attributed = purchases.join(clicks,
          expr("""uid = uid_c AND
                 |ts_c <= ts_p AND
                 |ts_c >= ts_p - interval 1 hour""".stripMargin),
          "left_semi")
        runToMemory(s, attributed, "t_ss_semi", "append")
          .select(col("purchase_id"), col("uid"),
            col("ts_p").cast("timestamp_ntz").as("ts_p"), col("value"))
          .orderBy(col("purchase_id"))
      },
      Some("""SELECT p.event_id AS purchase_id, p.user_id AS uid,
             |       p.ts AS ts_p, p.value
             |FROM events p
             |WHERE p.event_type = 'purchase'
             |  AND EXISTS (SELECT 1 FROM events c
             |              WHERE c.event_type = 'click'
             |                AND c.user_id = p.user_id
             |                AND c.ts <= p.ts
             |                AND c.ts >= p.ts - INTERVAL 1 HOUR)
             |ORDER BY purchase_id""".stripMargin)
    ),
    Q(
      "stream_foreachBatch_upsert",
      // The reference's core write path (SURVEY.md §2.9 [DAP]): each
      // micro-batch of changes is one delivery to a Replica, the same
      // poll the batch replica row runs (until = batchId + 1, so a
      // replayed batch is gated out). Two identical feed copies arrive in
      // two batches — re-delivered ROWS leave the replica unchanged
      // (idempotent fold), which the shared oracle with cdc_apply_deletes
      // certifies.
      (s, dir) => {
        val replica = new Replica(Seq("user_id"), "ts", "event_id",
          graft.util.tempDir("graft_replica_"))
        val ev = eventsStream(s, stage(s, dir, 2), maxFilesPerTrigger = Some(1))
        val changes = ev.select(
          col("user_id"), col("ts"),
          when(col("event_type") === "error", "D").otherwise("U").as("action"),
          col("value"), col("event_id"))
        val q = changes.writeStream.outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            replica.poll(batch, batchId + 1)
            ()
          }
          .start()
        q.awaitTermination()
        replica.snapshot(s).orderBy(col("user_id"))
      },
      Some("""SELECT user_id, ts, action, value, event_id FROM (
             |  SELECT user_id, ts,
             |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS action,
             |         value, event_id,
             |         row_number() OVER (PARTITION BY user_id
             |                            ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) t
             |WHERE rn = 1 AND action <> 'D'
             |ORDER BY user_id""".stripMargin)
    ),
    Q(
      "stream_exactly_once_sink",
      // End-to-end exactly-once into the custom DSv2 manifest sink: each
      // micro-batch appends its partial counts tagged with txnId=batchId;
      // the sink's job commit records the txn in the manifest, so a
      // RE-DELIVERED batch (sink-side crash after commit, replayed on
      // restart — the failure the manifest txn log exists for) publishes
      // nothing. The row replays txnId=0 with a POISON payload after the
      // stream drains: if idempotence failed, the poison row would corrupt
      // the counts and the oracle would catch it. This is the
      // transactional-sink pattern (Delta's txn appId/version) on the
      // engine's own connector.
      (s, dir) => {
        import s.implicits._
        val sinkDir = graft.util.tempDir("graft_eos_sink_")
        val ev = eventsStream(s, stageSplitByTime(s, dir), maxFilesPerTrigger = Some(1))
        val q = ev.writeStream
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            batch.groupBy(col("event_type"))
              .agg(count(lit(1)).as("n"))
              .write.format("graft.sources.ManifestSink")
              .option("path", sinkDir).option("txnId", batchId.toString)
              .mode("append").save()
            ()
          }
          .start()
        q.awaitTermination()
        // replay of txn 0 with poison: MUST be a published no-op
        Seq(("poison", 1000000L)).toDF("event_type", "n")
          .write.format("graft.sources.ManifestSink")
          .option("path", sinkDir).option("txnId", "0")
          .mode("append").save()
        s.read.format("graft.sources.ManifestSink").option("path", sinkDir).load()
          .groupBy(col("event_type")).agg(sum(col("n")).as("n_events"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n_events
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    Q(
      "stream_state_reader_tws",
      // The state data source over the arbitrary-state v2 API: a
      // transformWithState query's TYPED ValueState (the
      // RunningTotalsProcessor's (n, total, hi) tuple in RocksDB) read
      // back offline by state variable name — the ops surface for
      // auditing or migrating v2 state, complementing
      // stream_state_reader's aggregation-buffer read. The oracle is
      // the batch fold per user: checkpointed state after AvailableNow
      // must equal it exactly.
      (s, dir) => {
        import s.implicits._
        val ckpt = graft.util.tempDir("graft_tws_reader_ckpt_")
        withConfs(s, rocksDbConfs) {
          val ev = eventsStream(s, stage(s, dir, 1))
            .select(col("user_id"), col("event_id"),
              floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
            .as[(Long, Long, Long)]
          val out = ev.groupByKey(_._1)
            .transformWithState(new RunningTotalsProcessor,
              TimeMode.None(), OutputMode.Update())
            .toDF("user_id", "n_events", "sum_cents", "max_cents")
          val q = out.writeStream.outputMode("update").format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        s.read.format("statestore").option("stateVarName", "totals")
          .load(ckpt)
          .select(col("key.value").as("user_id"),
            col("value._1").as("n_events"),
            col("value._2").as("sum_cents"),
            col("value._3").as("max_cents"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
             |       CAST(max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_cents
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),
    Q(
      "stream_wap_branch",
      // Staged streaming ingestion — exactly-once (txnId per batch) AND
      // write-audit-publish composed: every micro-batch appends its
      // partial counts to a BRANCH of the manifest table, so main
      // readers see NOTHING while the stream runs; after the drain the
      // audit reads the staged state and only then does publishBranch
      // atomically promote it. This is the ingestion ceremony a replica
      // runs when a half-loaded poll window must never be queryable:
      // stage increments, gate, flip one pointer. The in-code require()s
      // are the audit gates; the oracle checks the published fold.
      (s, dir) => {
        import s.implicits._
        val fmt = "graft.sources.ManifestSink"
        val sinkDir = graft.util.tempDir("graft_swap_sink_")
        val ev = eventsStream(s, stageSplitByTime(s, dir), maxFilesPerTrigger = Some(1))
        val q = ev.writeStream
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            batch.groupBy(col("event_type"))
              .agg(count(lit(1)).as("n"),
                sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("cents"))
              .write.format(fmt).option("path", sinkDir)
              .option("branch", "staging").option("txnId", batchId.toString)
              .mode("append").save()
            ()
          }
          .start()
        q.awaitTermination()
        // audit gate 1: nothing staged may be visible on main mid-load
        require(graft.sources.ManifestSink.readState(sinkDir).isEmpty,
          "staged micro-batches leaked to main before publish")
        // audit gate 2: the staged partials must be sane
        val staged = s.read.format(fmt).option("path", sinkDir)
          .option("branch", "staging").load()
        require(staged.filter(col("n") <= 0).isEmpty,
          "non-positive partial counts on the staging branch")
        graft.sources.ManifestSink.publishBranch(sinkDir, "staging")
        s.read.format(fmt).option("path", sinkDir).load()
          .groupBy(col("event_type"))
          .agg(sum(col("n")).as("n_events"), sum(col("cents")).as("sum_cents"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    Q(
      "stream_merge_into",
      // The reference's poll loop in its MODERN form: each micro-batch of
      // changes applies to the replica via SQL MERGE INTO on the engine's
      // own transactional format — matched deletes, matched updates,
      // not-matched inserts, one atomic snapshot per batch, merge-on-read
      // deltas (no replica rewrite per poll). The batch is deduped to its
      // latest row per key first (MERGE requires unique source matches);
      // the two-batch time-split arrival makes cross-batch ordering real.
      // Same oracle family as stream_foreachBatch_upsert: the replica
      // must equal the one-shot latest-per-key fold of the whole feed.
      (s, dir) => {
        mountCatalog(s)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.stream")
        s.sql("DROP TABLE IF EXISTS graft_cat.stream.replica")
        s.sql("""CREATE TABLE graft_cat.stream.replica
                |(user_id BIGINT NOT NULL, ts_us BIGINT, value DOUBLE,
                | event_id BIGINT)""".stripMargin)
        val ev = eventsStream(s, stageSplitByTime(s, dir), maxFilesPerTrigger = Some(1))
        val q = ev.writeStream
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // dedupe on µs (the oracle's granularity), event_id tiebreak
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_id"))
              .orderBy(col("ts_us").desc, col("event_id").desc)
            batch
              .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
                when(col("event_type") === "error", "D").otherwise("U").as("action"),
                col("value"), col("event_id"))
              .withColumn("rn", row_number().over(w))
              .filter(col("rn") === 1).drop("rn")
              .createOrReplaceTempView("graft_merge_batch")
            batch.sparkSession.sql(
              """MERGE INTO graft_cat.stream.replica t
                |USING graft_merge_batch s
                |ON t.user_id = s.user_id
                |WHEN MATCHED AND s.action = 'D' THEN DELETE
                |WHEN MATCHED THEN UPDATE SET
                |  ts_us = s.ts_us, value = s.value, event_id = s.event_id
                |WHEN NOT MATCHED AND s.action <> 'D' THEN
                |  INSERT (user_id, ts_us, value, event_id)
                |  VALUES (s.user_id, s.ts_us, s.value, s.event_id)""".stripMargin)
            ()
          }
          .start()
        q.awaitTermination()
        s.sql("""SELECT user_id, ts_us, value, event_id
                |FROM graft_cat.stream.replica ORDER BY user_id""".stripMargin)
      },
      Some("""SELECT user_id, ts_us, value, event_id FROM (
             |  SELECT user_id, epoch_us(ts) AS ts_us,
             |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS action,
             |         value, event_id,
             |         row_number() OVER (PARTITION BY user_id
             |                            ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) t
             |WHERE rn = 1 AND action <> 'D'
             |ORDER BY user_id""".stripMargin)
    ),
    Q(
      "stream_schema_evolution",
      // DAP schema-version bump BETWEEN micro-batches (the streaming twin of
      // schema_evolution_merge, SURVEY.md §2.10 [DAP]): generation 2 of the
      // feed adds o_note mid-stream. A fixed-schema parquet readStream can't
      // absorb that, so the stream carries a MANIFEST (one text file per
      // landed generation — the landing-zone pattern); each micro-batch
      // foreachBatch-reads the listed generation with mergeSchema and
      // upserts it into the replica via unionByName(allowMissingColumns):
      // pre-evolution replica rows are null-filled for the new column,
      // incoming keys replace stored keys (left_anti on the key set). The
      // driver collects only the manifest paths (O(generations), never
      // data). Both generations derive deterministically from orders, so
      // the oracle recomputes the evolved replica straight from the source.
      (s, dir) => {
        import java.nio.file.{Files, Paths}
        import java.nio.file.attribute.FileTime
        val gens = graft.util.tempDir("graft_sevo_gens_")
        val inbox = graft.util.tempDir("graft_sevo_inbox_")
        val tmp = graft.util.tempDir("graft_sevo_replica_")
        val o = graft.Tables(s, dir, "orders")
        // gen 1: full snapshot, v1 schema
        o.select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$gens/gen1")
        // gen 2: odd keys re-delivered with the NEW column
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            concat(lit("note-"), col("o_orderkey")).as("o_note"))
          .write.mode("overwrite").parquet(s"$gens/gen2")
        Seq(("m1.txt", s"$gens/gen1", 1000000000000L),
            ("m2.txt", s"$gens/gen2", 1000000060000L)).foreach {
          case (name, path, mtime) =>
            Files.writeString(Paths.get(s"$inbox/$name"), path)
            Files.setLastModifiedTime(
              Paths.get(s"$inbox/$name"), FileTime.fromMillis(mtime))
        }
        val manifests = s.readStream.option("maxFilesPerTrigger", 1).text(inbox)
        @volatile var version = 0
        val q = manifests.writeStream.outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val paths = batch.collect().map(_.getString(0)) // manifest only
            if (paths.nonEmpty) {
              val sp = batch.sparkSession
              val incoming = sp.read
                .option("mergeSchema", "true").parquet(paths.toIndexedSeq: _*)
              val state =
                if (version == 0) incoming.limit(0)
                else sp.read.parquet(s"$tmp/v$version")
              val kept = state.join(
                incoming.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
              val next = incoming.unionByName(kept, allowMissingColumns = true)
              version += 1
              next.write.mode("overwrite").parquet(s"$tmp/v$version")
            }
            ()
          }
          .start()
        q.awaitTermination()
        s.read.parquet(s"$tmp/v$version")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_note"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice,
             |       CASE WHEN o_orderkey % 2 = 1
             |            THEN 'note-' || CAST(o_orderkey AS VARCHAR) END AS o_note
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "stream_restart_recovery",
      // The reference's actual lifecycle is a POLL LOOP: the process exits
      // between polls and every run restores from the checkpoint (SURVEY.md
      // §3.1). Nothing else in the stream tier crosses a process restart,
      // so this row runs the SAME windowed-agg query as TWO separate
      // streaming queries sharing one checkpoint: run 1 sees only the early
      // half of the feed (windowed count+sum under a 10-minute watermark,
      // append mode, parquet sink), the query STOPS, the late half arrives
      // as new files, run 2 restarts from the checkpoint. Recovery is
      // load-bearing three ways, and each failure breaks the oracle hash:
      // re-reading the early file doubles counts (source offset log),
      // losing window state undercounts every window spanning the cut
      // (state restore), and re-emitting run-1 windows duplicates output
      // rows (sink commit log). Exactly-once across restart = the final
      // parquet equals one clean batch fold of the whole feed, truncated at
      // the terminal watermark.
      (s, dir) => {
        import java.nio.file.{Files, Paths, StandardCopyOption}
        val split = stageSplitByTime(s, dir)
        val streamed = graft.util.tempDir("graft_restart_src_")
        val ckpt = graft.util.tempDir("graft_restart_ckpt_")
        val outDir = graft.util.tempDir("graft_restart_out_")
        // run 2 keeps run 1's width: Spark restores `shuffle.partitions`
        // from the checkpoint's offset log, whatever the session says
        def runOnce(): Unit = {
          val agg = eventsStream(s, streamed, ntz = false)
            .withWatermark("ts", "10 minutes")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n_events"),
              sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("sum_cents"))
            .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
              col("event_type"), col("n_events"), col("sum_cents"))
          val q = agg.writeStream.outputMode("append").format("parquet")
            .option("path", outDir).option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        // run 1: only the early half exists yet
        Files.copy(Paths.get(s"$split/events_early.parquet"),
          Paths.get(s"$streamed/events_early.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        runOnce()
        // process "restart": the late half lands, same checkpoint
        Files.copy(Paths.get(s"$split/events_late.parquet"),
          Paths.get(s"$streamed/events_late.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        runOnce()
        // the parquet sink's _spark_metadata log scopes this read to
        // committed files only
        s.read.parquet(outDir).orderBy(col("hour_start"), col("event_type"))
      },
      // one clean fold of the whole feed, truncated at the final watermark:
      // windows closed below max(ts) − 10min, each event counted ONCE
      Some("""WITH m AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events)
             |SELECT date_trunc('hour', ts) AS hour_start, event_type,
             |       count(*) AS n_events,
             |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events, m
             |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm
             |GROUP BY 1, 2, wm
             |ORDER BY hour_start, event_type""".stripMargin)
    ),
    Q(
      "stream_tws_liststate",
      // ListState through transformWithState (round-9): most-recent-3
      // event ids per user — see RecentEventsProcessor (append-only
      // RocksDB merge per row, trim only past the cap). Two micro-batches
      // prove the list survives and re-trims across batches; the final
      // snapshot per user is the row with the max running total. Oracle:
      // per-user top-3 by (ts, event_id) descending.
      (s, dir) => {
        import s.implicits._
        withConfs(s, rocksDbConfs) {
          val ev = eventsStream(s, stageSplitByTime(s, dir), maxFilesPerTrigger = Some(1))
            // µs (not ns) ordering key: matches the oracle's µs `ts` under
            // BOTH events parquet layouts (legacy nanos truncate the same)
            .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"), col("event_id"))
            .as[(Long, Long, Long)]
          val out = ev.groupByKey(_._1)
            .transformWithState(new RecentEventsProcessor,
              TimeMode.None(), OutputMode.Update())
            .toDF("user_id", "n_events", "last3")
          runToMemory(s, out, "t_tws_list", "update")
            .groupBy(col("user_id"))
            .agg(max(col("n_events")).as("n_events"),
              // CSV string, not an array: list-representation-independent
              // hashing (the agg_collect_sorted precedent)
              array_join(transform(max_by(col("last3"), col("n_events")),
                x => x.cast("string")), ",").as("last3"))
            .orderBy(col("user_id"))
        }
      },
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |       array_to_string(
             |         (list(CAST(event_id AS VARCHAR)
             |               ORDER BY ts DESC, event_id DESC))[1:3], ',') AS last3
             |FROM events GROUP BY user_id
             |ORDER BY user_id""".stripMargin)
    ),
    Q(
      "stream_tws_mapstate",
      // MapState through transformWithState (round-9): per-user,
      // per-event-type (count, cents) — see PerTypeTotalsProcessor. Two
      // micro-batches (split by time) prove entries persist and
      // accumulate across batches; update-mode emissions are folded by
      // max(count) (counts are monotone, so max = final). Oracle: plain
      // GROUP BY user, type.
      (s, dir) => {
        import s.implicits._
        withConfs(s, rocksDbConfs) {
          val ev = eventsStream(s, stageSplitByTime(s, dir), maxFilesPerTrigger = Some(1))
            .select(col("user_id"), col("event_type"),
              floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
            .as[(Long, String, Long)]
          val out = ev.groupByKey(_._1)
            .transformWithState(new PerTypeTotalsProcessor,
              TimeMode.None(), OutputMode.Update())
            .toDF("user_id", "event_type", "n_events", "sum_cents")
          runToMemory(s, out, "t_tws_map", "update")
            .groupBy(col("user_id"), col("event_type"))
            .agg(max(col("n_events")).as("n_events"),
              max_by(col("sum_cents"), col("n_events")).as("sum_cents"))
            .orderBy(col("user_id"), col("event_type"))
        }
      },
      Some("""SELECT user_id, event_type,
             |       count(*) AS n_events,
             |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events GROUP BY user_id, event_type
             |ORDER BY user_id, event_type""".stripMargin)
    ),
    Q(
      "stream_mgws_timeout",
      // The v1 timeout surface (round-9): flatMapGroupsWithState +
      // GroupStateTimeout.EventTimeTimeout running the SAME per-user
      // inactivity timeout as stream_tws_timers runs on the v2 timer API
      // — and sharing its oracle, so the two generations of the arbitrary-
      // state API are certified to agree on timeout semantics exactly
      // (the stream_stateful_agg ↔ stream_transform_with_state pairing,
      // extended to timers). setTimeoutTimestamp re-arms per batch;
      // hasTimedOut emits and removes.
      (s, dir) => {
        import s.implicits._
        // the WATERMARK COLUMN (ts) must survive into the stateful
        // operator's input — event-time timeout refuses to run otherwise
        val ev = eventsStream(s, stage(s, dir, 1), ntz = false)
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("ts"), expr("unix_micros(ts)").as("us"))
          .as[(Long, java.sql.Timestamp, Long)]
        val out = ev.groupByKey(_._1)
          .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
            OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
            case (user, rows, state) =>
              if (state.hasTimedOut) {
                val (n, lastUs) = state.get
                state.remove()
                Iterator.single((user, n, lastUs))
              } else {
                var (n, lastUs) = state.getOption.getOrElse((0L, Long.MinValue))
                rows.foreach { r => n += 1; if (r._3 > lastUs) lastUs = r._3 }
                state.update((n, lastUs))
                state.setTimeoutTimestamp(lastUs / 1000L + 30L * 60L * 1000L)
                Iterator.empty
              }
          }
          .toDF("user_id", "n_events", "last_us")
        runToMemory(s, out, "t_mgws_timeout", "append")
          .select(col("user_id"), col("n_events"),
            timestamp_micros(col("last_us")).cast("timestamp_ntz").as("last_ts"))
          .orderBy(col("user_id"))
      },
      Some("""WITH m AS (SELECT max(ts) AS wm FROM events),
             |u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |             max(ts) AS last_ts
             |      FROM events GROUP BY user_id)
             |SELECT user_id, n_events, last_ts FROM u, m
             |WHERE epoch_ms(last_ts) + 1800000 < epoch_ms(wm)
             |ORDER BY user_id""".stripMargin)
    ),
    Q(
      "stream_tws_timers",
      // EVENT-TIME TIMERS through transformWithState (round-9): emit a
      // row per user only when their inactivity timer (last event +
      // 30 min) passes the watermark — see InactivityTimeoutProcessor.
      // With one data batch + the terminal no-data batch, exactly the
      // users whose timer sits below max(ts) fire; the rest (the still-
      // active tail) remain in state un-emitted. Timer expiry is in
      // MILLISECONDS (the API's unit) while event time is µs — the oracle
      // mirrors the ms-floored comparison exactly (no boundary-equal
      // users at any sf, checked at authoring time).
      (s, dir) => {
        import s.implicits._
        withConfs(s, rocksDbConfs) {
          val ev = eventsStream(s, stage(s, dir, 1), ntz = false)
            .withWatermark("ts", "0 seconds")
            .select(col("user_id"), expr("unix_micros(ts)").as("us"))
            .as[(Long, Long)]
          val out = ev.groupByKey(_._1)
            .transformWithState(new InactivityTimeoutProcessor,
              TimeMode.EventTime(), OutputMode.Append())
            .toDF("user_id", "n_events", "last_us")
          runToMemory(s, out, "t_tws_timers", "append")
            .select(col("user_id"), col("n_events"),
              timestamp_micros(col("last_us")).cast("timestamp_ntz").as("last_ts"))
            .orderBy(col("user_id"))
        }
      },
      Some("""WITH m AS (SELECT max(ts) AS wm FROM events),
             |u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |             max(ts) AS last_ts
             |      FROM events GROUP BY user_id)
             |SELECT user_id, n_events, last_ts FROM u, m
             |WHERE epoch_ms(last_ts) + 1800000 < epoch_ms(wm)
             |ORDER BY user_id""".stripMargin)
    ),
    Q(
      "stream_tws_ttl",
      // State TTL in transformWithState (round-10): see
      // [[TtlTotalsProcessor]] — per-user totals under a 1 ms
      // processing-time TTL, two file-pinned micro-batches
      // (maxFilesPerTrigger=1 over the time-split staging). Because
      // state expires between batches, each emitted row is a PER-BATCH
      // total, so summing the emitted rows reconstructs the full per-user
      // aggregate and `n_emits` counts the halves the user appears in —
      // while a broken TTL (state surviving into batch 2) would double-
      // count batch 1 and overshoot `n_events`, which is exactly what
      // the oracle would catch. The oracle replays the staging's
      // midpoint time cut in integer ns arithmetic.
      (s, dir) => {
        import s.implicits._
        // TTL state tags each value with an expiry column family —
        // RocksDB provider only (HDFS-backed store has no column families)
        withConfs(s, rocksDbConfs) {
          val ev = eventsStream(s, stageSplitByTime(s, dir),
              maxFilesPerTrigger = Some(1))
            .select(col("user_id"),
              expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
            .as[(Long, Long)]
          val out = ev.groupByKey(_._1)
            .transformWithState(new TtlTotalsProcessor,
              TimeMode.ProcessingTime(), OutputMode.Update())
            .toDF("user_id", "n", "cents")
          runToMemoryDrain(s, out, "t_tws_ttl", "update",
              expectedInputRows = graft.Tables.events(s, dir).count())
            .groupBy(col("user_id"))
            .agg(sum(col("n")).as("n_events"),
              sum(col("cents")).as("sum_cents"),
              count(lit(1)).as("n_emits"))
            .orderBy(col("user_id"))
        }
      },
      Some("""WITH b AS (
             |  SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi
             |  FROM events),
             |e AS (
             |  SELECT user_id,
             |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             |         epoch_ns(ts) <= lo + (hi - lo) // 2 AS early
             |  FROM events, b)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(sum(cents) AS BIGINT) AS sum_cents,
             |       CAST(count(DISTINCT early) AS BIGINT) AS n_emits
             |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),
    Q(
      "source_rate_micro_batch",
      // The rate-micro-batch source (round-10): Spark's DETERMINISTIC
      // synthetic stream — unlike plain `rate`, each micro-batch carries
      // exactly rowsPerBatch consecutive values from a pinned
      // startTimestamp, so a load-test or soak harness replays
      // identically every run (the property `rate` lacks). Unbounded by
      // design, so the drain is the progress-poll harness: run until ≥300
      // input rows fed, stop, census the first 300 values (batch-count
      // independent — a straggler batch past the poll changes nothing).
      // Scale: numPartitions spreads generation across executors; this
      // is the standard offline stand-in where a message bus isn't
      // available (no Kafka connector offline — SURVEY §2.9).
      (s, dir) => {
        val src = s.readStream.format("rate-micro-batch")
          .option("rowsPerBatch", "100").option("startTimestamp", "0")
          .option("numPartitions", "4").load()
        runToMemoryDrain(s, src.select(col("value")), "t_rate_mb", "append",
            expectedInputRows = 300L)
          .filter(col("value") < 300)
          .groupBy((col("value") % 8).as("bucket"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("s"),
            min(col("value")).as("mn"), max(col("value")).as("mx"))
          .orderBy(col("bucket"))
      },
      Some("""WITH v AS (SELECT unnest(range(0, 300)) AS v)
             |SELECT v % 8 AS bucket, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(v) AS BIGINT) AS s, min(v) AS mn, max(v) AS mx
             |FROM v GROUP BY bucket ORDER BY bucket""".stripMargin)
    ),
    Q(
      "stream_asof_enrich",
      // Micro-batch as-of enrichment (round-10): the feature-store /
      // CDC-dimension shape — each arriving micro-batch is enriched with
      // the LATEST dimension version valid at the event's time, via
      // foreachBatch (streaming window functions don't exist; per-batch
      // batch semantics is the operational answer, and it reuses the
      // engine's batch as-of machinery). The dimension is broadcast
      // (versions-per-key is small by construction at any scale); the
      // enriched batches append to parquet and the census proves both
      // the as-of pick (version thresholds at analytic thirds of the
      // time range) and the two-batch arrival (n_batches from the staged
      // midpoint split). Scale: per batch one broadcast join + max_by —
      // no state store, dimension refresh = re-deriving the broadcast.
      (s, dir) => {
        val ev = graft.Tables.events(s, dir)
        val Array(lo, hi) = ev.agg(min(col("ts_ns")), max(col("ts_ns")))
          .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
        val t1 = lo + (hi - lo) / 3
        val t2 = lo + 2 * ((hi - lo) / 3)
        val dim = ev.select(col("user_id")).distinct()
          .select(col("user_id"), explode(expr(
            s"""array(named_struct('vfrom', CAST(-1 AS BIGINT),
               |                   'version', CAST(1 AS BIGINT)),
               |      named_struct('vfrom', CAST($t1 AS BIGINT),
               |                   'version', CAST(2 AS BIGINT)),
               |      named_struct('vfrom', CAST($t2 AS BIGINT),
               |                   'version', CAST(3 AS BIGINT)))"""
              .stripMargin)).as("v"))
          .select(col("user_id").as("d_user"), col("v.vfrom"), col("v.version"))
        val outDir = graft.util.tempDir("graft_stream_asof_")
        val stream = eventsStream(s, stageSplitByTime(s, dir),
          maxFilesPerTrigger = Some(1))
        val q = stream.writeStream.trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            batch.join(broadcast(dim),
                col("user_id") === col("d_user") && col("vfrom") <= col("ts_ns"))
              .groupBy(col("event_id"), col("user_id"))
              .agg(max(col("version")).as("version"))
              .withColumn("batch_id", lit(id))
              .write.mode("append").parquet(outDir)
            ()
          }.start()
        q.awaitTermination()
        s.read.parquet(outDir)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("version")).as("sum_version"),
            max(col("version")).as("max_version"),
            countDistinct(col("batch_id")).as("n_batches"))
          .orderBy(col("user_id"))
      },
      Some("""WITH b AS (
             |  SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi
             |  FROM events),
             |e AS (
             |  SELECT user_id,
             |         epoch_ns(ts) <= lo + (hi - lo) // 2 AS early,
             |         1 + CASE WHEN epoch_ns(ts) >= lo + (hi - lo) // 3
             |                  THEN 1 ELSE 0 END
             |           + CASE WHEN epoch_ns(ts) >= lo + 2 * ((hi - lo) // 3)
             |                  THEN 1 ELSE 0 END AS version
             |  FROM events, b)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(sum(version) AS BIGINT) AS sum_version,
             |       CAST(max(version) AS BIGINT) AS max_version,
             |       CAST(count(DISTINCT early) AS BIGINT) AS n_batches
             |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),
    Q(
      "stream_stream_join_outer",
      // Stream-stream LEFT OUTER interval join (round-9): clicks that DID
      // get an error within 10 minutes match immediately; clicks that
      // DIDN'T emit a null-padded row only once the watermark proves no
      // late error can still arrive — the outer-join-with-state-expiry
      // semantics that distinguish streaming outer joins from batch ones.
      // 0s watermarks + AvailableNow give the deterministic schedule: the
      // terminal no-data batch expires exactly the clicks whose join
      // window closed below max(ts), so the emitted set is
      // SQL-expressible (fixture has no boundary-equal rows at any sf —
      // checked at authoring time). State stays bounded by the 10-minute
      // interval condition on BOTH sides, the 100 TB requirement.
      (s, dir) => {
        val ev = eventsStream(s, stage(s, dir, 1), ntz = false)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("uid"), col("ts").as("ts_click"),
            col("event_id").as("click_id"))
          .withWatermark("ts_click", "0 seconds")
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id").as("uid_e"), col("ts").as("ts_error"),
            col("event_id").as("error_id"))
          .withWatermark("ts_error", "0 seconds")
        val joined = clicks.join(errors,
          expr("""uid = uid_e AND
                 |ts_error >= ts_click AND
                 |ts_error <= ts_click + interval 10 minutes""".stripMargin),
          "leftOuter")
        runToMemory(s, joined, "t_ss_join_outer", "append")
          .select(col("click_id"), col("error_id"), col("uid"),
            col("ts_click").cast("timestamp_ntz").as("ts_click"),
            col("ts_error").cast("timestamp_ntz").as("ts_error"))
          .orderBy(col("click_id"), col("error_id"))
      },
      // the join's watermark is the MIN across both input streams — each
      // side's watermark tracks its own max event time, and the outer
      // side only expires below the smaller of the two
      Some("""WITH m AS (
             |  SELECT least(
             |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
             |    (SELECT max(ts) FROM events WHERE event_type = 'error')) AS wm),
             |matches AS (
             |  SELECT a.event_id AS click_id, b.event_id AS error_id,
             |         a.user_id AS uid, a.ts AS ts_click, b.ts AS ts_error
             |  FROM events a JOIN events b
             |    ON a.user_id = b.user_id
             |   AND a.event_type = 'click' AND b.event_type = 'error'
             |   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE),
             |unmatched AS (
             |  SELECT a.event_id AS click_id, CAST(NULL AS BIGINT) AS error_id,
             |         a.user_id AS uid, a.ts AS ts_click,
             |         CAST(NULL AS TIMESTAMP) AS ts_error
             |  FROM events a, m
             |  WHERE a.event_type = 'click'
             |    AND a.ts + INTERVAL 10 MINUTE < m.wm
             |    AND NOT EXISTS (SELECT 1 FROM events b
             |                    WHERE b.user_id = a.user_id
             |                      AND b.event_type = 'error'
             |                      AND b.ts >= a.ts
             |                      AND b.ts <= a.ts + INTERVAL 10 MINUTE))
             |SELECT * FROM (SELECT * FROM matches
             |               UNION ALL SELECT * FROM unmatched) t
             |ORDER BY click_id, error_id NULLS FIRST""".stripMargin)
    ),
    Q(
      "stream_chained_windows",
      // MULTIPLE STATEFUL OPERATORS in one streaming query (round-9;
      // Spark 3.4+ SPARK-40925): a 5-minute tumbling count re-aggregated
      // into per-hour max/sum of the 5-minute buckets — two windowed
      // aggregations chained via `window(window_col, …)`, each with its
      // own state store, watermark propagated through the first into the
      // second. Append mode + 0s delay gives the deterministic
      // finalization schedule the other watermark rows pin: hourly windows
      // whose end ≤ max(ts) emit, built from exactly the 5-minute windows
      // inside them (all of which finalized earlier by construction).
      // Scale: state is O(open windows), not O(events); the second
      // operator's input is already 1/300th of the stream.
      (s, dir) => {
        val ev = eventsStream(s, stage(s, dir, 1), ntz = false)
        val five = ev.withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "5 minutes"))
          .agg(count(lit(1)).as("n"))
        val hourly = five
          .groupBy(window(col("window"), "1 hour"))
          .agg(max(col("n")).as("max_5min"), sum(col("n")).as("events"),
            count(lit(1)).as("buckets"))
        runToMemory(s, hourly, "t_chained", "append")
          .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
            col("max_5min"), col("events"), col("buckets"))
          .orderBy(col("hour_start"))
      },
      Some("""WITH m AS (SELECT max(ts) AS wm FROM events),
             |five AS (
             |  SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS w5,
             |         CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1)
             |SELECT date_trunc('hour', w5) AS hour_start,
             |       CAST(max(n) AS BIGINT) AS max_5min,
             |       CAST(sum(n) AS BIGINT) AS events,
             |       CAST(count(*) AS BIGINT) AS buckets
             |FROM five, m
             |WHERE date_trunc('hour', w5) + INTERVAL 1 HOUR <= wm
             |GROUP BY 1, wm
             |ORDER BY hour_start""".stripMargin)
    ),
    Q(
      "stream_static_reresolve",
      // Per-micro-batch RE-RESOLUTION of a lakehouse dimension
      // (round-13): stream_static_join certifies the stateless broadcast
      // enrich, but a FILE-source static side is pinned at query start —
      // a dim updated mid-stream keeps enriching with stale rows
      // forever. The lakehouse contract (Delta/Iceberg stream-static
      // semantics) re-reads the static side's CURRENT SNAPSHOT each
      // micro-batch; the engine's shape for that is foreachBatch
      // re-loading the manifest table, so batch N+1 sees the dim commit
      // that landed after batch N — here batch 1 joins dim v1, the dim
      // is recoded between batches (a real ManifestSink overwrite
      // commit), and batch 2 provably joins v2 (the oracle's UNION has
      // the recode ONLY in the b=2 half, so any staleness
      // hash-mismatches). Pacing via maxFilesPerTrigger — the bounded-
      // batch backfill knob. Scale: the join is the same per-batch
      // broadcast as the static row; the re-resolution cost is one
      // O(manifest) read per batch, never a re-scan of the stream side.
      (s, dir) => {
        val fmt = "graft.sources.ManifestSink"
        val dimDir = graft.util.tempDir("graft_rrdim_")
        val out = graft.util.tempDir("graft_rrout_")
        val cust = graft.Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("seg"))
        cust.write.format(fmt).option("path", dimDir)
          .mode("overwrite").save() // dim v1
        val ev = eventsStream(s, stage(s, dir, 2), maxFilesPerTrigger = Some(1))
        @volatile var batchNo = 0L
        val q = ev.writeStream.outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val sess = batch.sparkSession
            val dim = sess.read.format(fmt).option("path", dimDir).load()
            batchNo += 1
            batch.select(col("event_id"), col("user_id"))
              .join(dim, col("user_id") === col("c_custkey"), "left")
              .select(col("event_id"), col("user_id"), col("seg"),
                lit(batchNo).as("b"))
              .write.mode("append").parquet(out)
            if (batchNo == 1L) {
              // the dim evolves BETWEEN batches — a real snapshot commit
              cust.withColumn("seg",
                  when(col("c_custkey") % 3 === 0,
                    concat(col("seg"), lit("_v2"))).otherwise(col("seg")))
                .write.format(fmt).option("path", dimDir)
                .mode("overwrite").save() // dim v2
            }
            ()
          }
          .start()
        q.awaitTermination()
        s.read.parquet(out).orderBy(col("b"), col("event_id"))
      },
      Some("""WITH ev AS (SELECT event_id, user_id FROM events),
             |v1 AS (
             |  SELECT event_id, user_id, c_mktsegment AS seg, CAST(1 AS BIGINT) AS b
             |  FROM ev LEFT JOIN customer ON user_id = c_custkey),
             |v2 AS (
             |  SELECT event_id, user_id,
             |         CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment || '_v2'
             |              ELSE c_mktsegment END AS seg,
             |         CAST(2 AS BIGINT) AS b
             |  FROM ev LEFT JOIN customer ON user_id = c_custkey)
             |SELECT event_id, user_id, seg, b
             |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2) u
             |ORDER BY b, event_id""".stripMargin)
    )
  )
}
