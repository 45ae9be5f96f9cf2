package graft

import graft.cdc.{Cursor, Merge, Replica}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** CDC fold semantics (SURVEY.md §5.3): idempotence, delete-wins-latest,
  * arrival-order independence, incremental ≡ one-shot.
  */
class CdcSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // (user_id, ts, action, value, event_id)
  private def feed(rows: (Long, String, String, Double, Long)*): DataFrame =
    rows.toSeq.toDF("user_id", "ts_s", "action", "value", "event_id")
      .selectExpr("user_id", "cast(ts_s as timestamp_ntz) as ts", "action", "value", "event_id")

  private val base = feed(
    (1L, "2024-01-01 00:00:00", "U", 1.0, 1L),
    (1L, "2024-01-02 00:00:00", "U", 2.0, 2L),
    (2L, "2024-01-01 00:00:00", "U", 5.0, 3L),
    (2L, "2024-01-03 00:00:00", "D", 0.0, 4L),
    (3L, "2024-01-01 00:00:00", "D", 0.0, 5L),
    (3L, "2024-01-02 00:00:00", "U", 7.0, 6L))

  private def rows(df: DataFrame): Set[(Long, Double, Long)] =
    df.select("user_id", "value", "event_id").as[(Long, Double, Long)].collect().toSet

  private def result(df: DataFrame): Set[(Long, Double, Long)] =
    rows(Merge.fold(df, Seq("user_id"), "ts", "event_id"))

  test("latest upsert wins, deletes remove, re-upsert after delete survives") {
    assert(result(base) === Set((1L, 2.0, 2L), (3L, 7.0, 6L)))
  }

  test("fold is idempotent: folding the fold changes nothing") {
    val once = Merge.fold(base, Seq("user_id"), "ts", "event_id")
    val twice = Merge.fold(once, Seq("user_id"), "ts", "event_id")
    assert(once.collect().toSet === twice.collect().toSet)
  }

  test("arrival order within the feed does not matter") {
    val shuffled = base.orderBy(org.apache.spark.sql.functions.col("event_id").desc)
    assert(result(base) === result(shuffled))
  }

  test("incremental applyDelta equals one-shot fold of the whole feed") {
    val d1 = base.filter($"event_id" <= 3)
    val d2 = base.filter($"event_id" > 3)
    // state keeps tombstones (latestPerKey); snapshot drops them at read
    val incremental = Merge.snapshot(Merge.applyDelta(
      Merge.latestPerKey(d1, Seq("user_id"), "ts", "event_id"),
      d2, Seq("user_id"), "ts", "event_id"))
    assert(incremental.select("user_id", "value", "event_id").as[(Long, Double, Long)]
      .collect().toSet === result(base))
  }

  test("re-delivering the same delta is a no-op (exactly-once effect)") {
    val once = Merge.applyDelta(base.limit(0), base, Seq("user_id"), "ts", "event_id")
    val redelivered = Merge.applyDelta(once, base, Seq("user_id"), "ts", "event_id")
    assert(once.collect().toSet === redelivered.collect().toSet)
  }

  test("tombstone retention: an out-of-order late upsert cannot resurrect a newer delete") {
    // delete at ts 2024-01-03 arrives in batch 1; an upsert at 01-02
    // (older!) arrives in batch 2 — the key must stay deleted
    val d1 = feed((7L, "2024-01-03 00:00:00", "D", 0.0, 2L))
    val late = feed((7L, "2024-01-02 00:00:00", "U", 9.9, 1L))
    val state = Merge.applyDelta(
      Merge.latestPerKey(d1, Seq("user_id"), "ts", "event_id"),
      late, Seq("user_id"), "ts", "event_id")
    assert(Merge.snapshot(state).filter($"user_id" === 7L).count() === 0L)
  }

  test("ties on ts break by tiebreak column (higher event_id wins)") {
    val tied = feed(
      (9L, "2024-01-01 00:00:00", "U", 1.0, 10L),
      (9L, "2024-01-01 00:00:00", "U", 2.0, 11L))
    assert(result(tied) === Set((9L, 2.0, 11L)))
  }

  test("empty delta leaves state unchanged") {
    val state = Merge.fold(base, Seq("user_id"), "ts", "event_id")
    val after = Merge.applyDelta(state, base.limit(0), Seq("user_id"), "ts", "event_id")
    assert(state.collect().toSet === after.collect().toSet)
  }

  private def replica(root: String) = new Replica(Seq("user_id"), "ts", "event_id", root)

  test("restart idempotence: crash between land and cursor advance re-pulls safely") {
    // the Replica.poll contract: the cursor advances ONLY after the
    // version lands. Simulate the crash window — d2 lands, the process
    // dies BEFORE the advance; a new process on the same root re-pulls d2
    // (the cursor still says it is pending) onto the ALREADY-APPLIED
    // version. The final snapshot must equal the clean run's.
    val d1 = base.filter($"event_id" <= 3)
    val d2 = base.filter($"event_id" > 3)
    val clean = replica(util.tempDir("graft_cdc_clean_"))
    assert(clean.poll(d1, 1L) && clean.poll(d2, 2L))

    val root = util.tempDir("graft_cdc_restart_")
    val crashed = replica(root)
    assert(crashed.poll(d1, 1L))
    crashed.land(d2)
    val cursor = new Cursor(s"$root/cursor")
    assert(cursor.read() === Some(1L), "crash before advance: cursor unchanged")

    val restarted = replica(root)
    assert(restarted.poll(d2, 2L), "the pending delivery is re-pulled")
    assert(cursor.read() === Some(2L))
    assert(rows(restarted.snapshot(spark)) === rows(clean.snapshot(spark)))
  }

  test("restart: a version without its _SUCCESS marker is ignored") {
    // a crash in the middle of a land leaves a v<N> without _SUCCESS;
    // the replica reads and folds onto the newest COMPLETE version
    val d1 = base.filter($"event_id" <= 3)
    val d2 = base.filter($"event_id" > 3)
    val root = util.tempDir("graft_cdc_torn_")
    assert(replica(root).poll(d1, 1L))
    val torn = java.nio.file.Paths.get(root, "v2")
    d2.write.parquet(torn.toString)
    java.nio.file.Files.delete(torn.resolve("_SUCCESS"))

    val restarted = replica(root)
    assert(rows(restarted.snapshot(spark)) === result(d1), "the torn v2 is not read")
    assert(restarted.poll(d2, 2L))
    assert(rows(restarted.snapshot(spark)) === result(base))
  }

  test("column diff keys are exactly the reconcile's 'changed' keys") {
    // the column-level diff and the row-level reconcile must agree on WHICH
    // keys drifted: a key appears in cdc_column_diff iff the reconcile
    // classifies it 'changed' (both sides present, payload differs)
    val dir = SparkTestBase.sfDir
    val diffKeys = SparkEntry.queries("cdc_column_diff")(spark, dir)
      .select("user_id").as[Long].collect().toSet
    val changedKeys = SparkEntry.queries("cdc_snapshot_reconcile")(spark, dir)
      .filter($"status" === "changed")
      .select("user_id").as[Long].collect().toSet
    assert(diffKeys === changedKeys)
    // and every reported row names at least one changed column from the
    // payload column set
    val cols = SparkEntry.queries("cdc_column_diff")(spark, dir)
      .select("changed_cols").as[String].collect()
    assert(cols.nonEmpty)
    assert(cols.forall(_.split(",").forall(Set("ts", "value", "event_id"))))
  }
}
