package graft.ops

import graft.{Q, Tables}
import graft.cdc.{Merge, Replica}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.10 CDC / replication operators over a deterministic change feed
  * synthesized from `events`: key = user_id, ordered by (ts, event_id),
  * action = D for 'error' events, U otherwise. This mirrors the reference's
  * incremental sync (SURVEY.md §3.1 E2 [DAP]): merge by primary key, latest
  * meta.ts wins, deletes remove.
  */
object Cdc {

  /** The synthetic change feed. */
  def changes(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("user_id"),
      col("ts"),
      when(col("event_type") === "error", "D").otherwise("U").as("action"),
      col("value"),
      col("event_id"))

  private val changesSql =
    """SELECT user_id, ts,
      |       CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS action,
      |       value, event_id
      |FROM events""".stripMargin

  /** DuckDB mirror of Merge.fold over an arbitrary change subset. */
  private def foldSql(pred: String): String =
    s"""SELECT user_id, ts, action, value, event_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |                               ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM ($changesSql) c WHERE $pred) t
       |WHERE rn = 1 AND action <> 'D'""".stripMargin

  val defs: Seq[Q] = Seq(
    Q(
      "cdc_schema_evolution_feed",
      // Mid-stream schema evolution (round-11): the replica's ALTER TABLE
      // case — the reference's source tables gain columns over time, and
      // a CDC landing zone holds generation-1 files WITHOUT the column
      // next to generation-2 files WITH it. Gen1 (orders before 1996)
      // lands (key, totalprice); gen2 adds o_orderpriority. The read
      // side is `mergeSchema` over partition-discovered generation dirs:
      // old rows surface the new column as NULL, normalized by a
      // coalesce default — no rewrite of gen1 bytes, the 100 TB rule for
      // additive evolution (schema applied at READ, history untouched).
      // The census aggregates across the seam so a dropped or doubled
      // generation can't hash-match.
      (s, dir) => {
        val root = graft.util.tempDir("graft_sevo_")
        val o = Tables(s, dir, "orders")
        val cents = floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
        o.filter(year(col("o_orderdate")) < 1996)
          .select(col("o_orderkey"), cents.as("cents"))
          .write.mode("overwrite").parquet(s"$root/gen=1")
        o.filter(year(col("o_orderdate")) >= 1996)
          .select(col("o_orderkey"), cents.as("cents"), col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$root/gen=2")
        s.read.option("mergeSchema", "true").parquet(root)
          .withColumn("prio", coalesce(col("o_orderpriority"), lit("UNKNOWN")))
          .groupBy(col("prio"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
          .orderBy(col("prio"))
      },
      Some("""SELECT CASE WHEN year(CAST(o_orderdate AS DATE)) >= 1996
             |            THEN o_orderpriority ELSE 'UNKNOWN' END AS prio,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |         AS sum_cents
             |FROM orders GROUP BY prio ORDER BY prio""".stripMargin)
    ),
    Q(
      "cdc_upsert_latest",
      (s, dir) => Merge.latestPerKey(changes(s, dir), Seq("user_id"), "ts", "event_id")
        .orderBy(col("user_id")),
      Some(s"""SELECT user_id, ts, action, value, event_id FROM (
              |  SELECT *, row_number() OVER (PARTITION BY user_id
              |                               ORDER BY ts DESC, event_id DESC) AS rn
              |  FROM ($changesSql) c) t
              |WHERE rn = 1
              |ORDER BY user_id""".stripMargin)
    ),
    Q(
      "cdc_apply_deletes",
      (s, dir) => Merge.fold(changes(s, dir), Seq("user_id"), "ts", "event_id")
        .orderBy(col("user_id")),
      Some(foldSql("TRUE") + "\nORDER BY user_id")
    ),
    Q(
      "cdc_snapshot_reconcile",
      // Diff an old replica (changes before 2024-01-15) against the current
      // snapshot (all changes): added / removed / changed / same per key.
      // Null-safe equality (<=>) classifies payload drift.
      (s, dir) => {
        val ch = changes(s, dir)
        val replica = Merge.fold(ch.filter(col("ts") < lit("2024-01-15").cast("timestamp_ntz")),
            Seq("user_id"), "ts", "event_id")
          .select(col("user_id").as("r_key"), col("event_id").as("r_event_id"))
        val snapshot = Merge.fold(ch, Seq("user_id"), "ts", "event_id")
          .select(col("user_id").as("s_key"), col("event_id").as("s_event_id"))
        replica.join(snapshot, col("r_key") === col("s_key"), "full")
          .select(
            coalesce(col("r_key"), col("s_key")).as("user_id"),
            when(col("r_key").isNull, "added")
              .when(col("s_key").isNull, "removed")
              .when(!(col("r_event_id") <=> col("s_event_id")), "changed")
              .otherwise("same").as("status"),
            col("r_event_id"), col("s_event_id"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH replica AS (${foldSql("ts < TIMESTAMP '2024-01-15'")}),
              |snapshot AS (${foldSql("TRUE")})
              |SELECT coalesce(r.user_id, s.user_id) AS user_id,
              |       CASE WHEN r.user_id IS NULL THEN 'added'
              |            WHEN s.user_id IS NULL THEN 'removed'
              |            WHEN r.event_id IS DISTINCT FROM s.event_id THEN 'changed'
              |            ELSE 'same' END AS status,
              |       r.event_id AS r_event_id, s.event_id AS s_event_id
              |FROM replica r FULL JOIN snapshot s ON r.user_id = s.user_id
              |ORDER BY user_id""".stripMargin)
    ),
    Q(
      "cdc_column_diff",
      // Column-LEVEL change capture (the row-level reconcile's companion):
      // for keys whose payload drifted between the old replica and the
      // current snapshot, name WHICH columns changed — the audit a
      // replication consumer needs to invalidate downstream columns
      // selectively instead of reprocessing whole rows. Null-safe
      // comparisons per column, concat_ws drops the unchanged ones (NULL
      // branches) in both engines. Scale shape: two keyed folds + one
      // co-partitioned equi-join on the fold key — the join reuses the
      // folds' hash partitioning, so no extra exchange at 100 TB.
      (s, dir) => {
        val ch = changes(s, dir)
        val replica = Merge.fold(
            ch.filter(col("ts") < lit("2024-01-15").cast("timestamp_ntz")),
            Seq("user_id"), "ts", "event_id")
          .select(col("user_id").as("r_key"), col("ts").as("r_ts"),
            col("value").as("r_value"), col("event_id").as("r_event_id"))
        val snapshot = Merge.fold(ch, Seq("user_id"), "ts", "event_id")
          .select(col("user_id").as("s_key"), col("ts").as("s_ts"),
            col("value").as("s_value"), col("event_id").as("s_event_id"))
        replica.join(snapshot, col("r_key") === col("s_key"))
          .withColumn("changed_cols", concat_ws(",",
            when(!(col("r_ts") <=> col("s_ts")), lit("ts")),
            when(!(col("r_value") <=> col("s_value")), lit("value")),
            when(!(col("r_event_id") <=> col("s_event_id")), lit("event_id"))))
          .filter(col("changed_cols") =!= "")
          .select(col("r_key").as("user_id"), col("changed_cols"),
            col("r_event_id"), col("s_event_id"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH replica AS (${foldSql("ts < TIMESTAMP '2024-01-15'")}),
              |snapshot AS (${foldSql("TRUE")}),
              |diff AS (
              |  SELECT r.user_id AS user_id,
              |         concat_ws(',',
              |           CASE WHEN r.ts IS DISTINCT FROM s.ts THEN 'ts' END,
              |           CASE WHEN r.value IS DISTINCT FROM s.value THEN 'value' END,
              |           CASE WHEN r.event_id IS DISTINCT FROM s.event_id THEN 'event_id' END)
              |           AS changed_cols,
              |         r.event_id AS r_event_id, s.event_id AS s_event_id
              |  FROM replica r JOIN snapshot s ON r.user_id = s.user_id)
              |SELECT user_id, changed_cols, r_event_id, s_event_id
              |FROM diff WHERE changed_cols <> ''
              |ORDER BY user_id""".stripMargin)
    ),
    Q(
      "cdc_replication_lag",
      // Replica staleness distribution: for every key live in BOTH the old
      // replica and the current snapshot, days between the replica's row
      // version and the snapshot's — bucketed into a histogram. "How stale
      // is my replica" is the standing ops question for an incremental
      // sync; the histogram shape (mass at 0 vs a long tail) tells whether
      // a backlog is global or a few hot keys. Day arithmetic on DATE
      // casts keeps both engines integer-exact; output is two longs per
      // bucket, so at 100 TB the driver receives a few dozen rows no
      // matter the key count.
      (s, dir) => {
        val ch = changes(s, dir)
        val replica = Merge.fold(
            ch.filter(col("ts") < lit("2024-01-15").cast("timestamp_ntz")),
            Seq("user_id"), "ts", "event_id")
          .select(col("user_id").as("r_key"), col("ts").as("r_ts"))
        val snapshot = Merge.fold(ch, Seq("user_id"), "ts", "event_id")
          .select(col("user_id").as("s_key"), col("ts").as("s_ts"))
        replica.join(snapshot, col("r_key") === col("s_key"))
          .select(datediff(to_date(col("s_ts")), to_date(col("r_ts")))
            .cast("long").as("staleness_days"))
          .groupBy(col("staleness_days"))
          .agg(count(lit(1)).as("n_keys"))
          .orderBy(col("staleness_days"))
      },
      Some(s"""WITH replica AS (${foldSql("ts < TIMESTAMP '2024-01-15'")}),
              |snapshot AS (${foldSql("TRUE")})
              |SELECT CAST(date_diff('day', CAST(r.ts AS DATE), CAST(s.ts AS DATE)) AS BIGINT)
              |         AS staleness_days,
              |       count(*) AS n_keys
              |FROM replica r JOIN snapshot s ON r.user_id = s.user_id
              |GROUP BY 1
              |ORDER BY staleness_days""".stripMargin)
    ),
    Q(
      "cdc_incremental_fold",
      // Fold three ordered incremental batches onto a base snapshot through
      // Merge.applyDelta. Must equal the one-shot fold of the whole feed
      // (same oracle as cdc_apply_deletes) — re-delivery-safe by
      // construction.
      (s, dir) => {
        val ch = changes(s, dir)
        val t1 = lit("2024-01-10").cast("timestamp_ntz")
        val t2 = lit("2024-01-20").cast("timestamp_ntz")
        // state keeps tombstones; only the final snapshot view drops them
        val base = Merge.latestPerKey(ch.filter(col("ts") < t1), Seq("user_id"), "ts", "event_id")
        val b1 = ch.filter(col("ts") >= t1 && col("ts") < t2)
        val b2 = ch.filter(col("ts") >= t2)
        val folded = Seq(b1, b2).foldLeft(base)(
          (state, delta) => Merge.applyDelta(state, delta, Seq("user_id"), "ts", "event_id"))
        Merge.snapshot(folded).orderBy(col("user_id"))
      },
      Some(foldSql("TRUE") + "\nORDER BY user_id")
    ),
    Q(
      "cdc_scd2_history",
      // Slowly-changing-dimension type 2: every change becomes a validity
      // interval [valid_from, valid_to) per key — lead() over the ordered
      // change feed; the open row has NULL valid_to. One keyed shuffle,
      // same window as the fold — this is the "history table" a
      // replication warehouse keeps next to the latest-state replica.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        changes(s, dir)
          .withColumn("valid_from", col("ts"))
          .withColumn("valid_to", lead(col("ts"), 1).over(w))
          .withColumn("is_current", col("valid_to").isNull && col("action") =!= "D")
          .select(col("user_id"), col("event_id"), col("action"), col("value"),
            col("valid_from"), col("valid_to"), col("is_current"))
          .orderBy(col("user_id"), col("valid_from"), col("event_id"))
      },
      Some(s"""SELECT user_id, event_id,
              |       CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS action,
              |       value,
              |       ts AS valid_from,
              |       lead(ts) OVER w AS valid_to,
              |       (lead(ts) OVER w IS NULL AND event_type <> 'error') AS is_current
              |FROM events
              |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
              |ORDER BY user_id, valid_from, event_id""".stripMargin)
    ),
    Q(
      "cdc_scd_type6",
      // Slowly-changing-dimension TYPE 6 (round-12) — the 1+2+3 hybrid:
      // the full type-2 validity history, but every HISTORICAL row also
      // carries the key's CURRENT value (the type-1 overwrite, denormed
      // onto history) and the drift between then and now — so "compare
      // value-at-the-time vs value-today" is a column read, not a
      // self-join against the latest snapshot (the join type 6 exists to
      // delete; at 100 TB that's a second shuffle of the whole dimension
      // saved on every such query). Both windows ride ONE keyed shuffle:
      // lead() for validity, last_value over the full frame for the
      // current value. Exact cents for the drift arithmetic.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        changes(s, dir)
          .withColumn("v_c", expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
          .withColumn("valid_from", col("ts"))
          .withColumn("valid_to", lead(col("ts"), 1).over(w))
          .withColumn("is_current", col("valid_to").isNull && col("action") =!= "D")
          .withColumn("current_v_c", last(col("v_c")).over(wAll))
          .select(col("user_id"), col("event_id"), col("action"), col("v_c"),
            col("valid_from"), col("valid_to"), col("is_current"),
            col("current_v_c"),
            (col("current_v_c") - col("v_c")).as("drift_c"))
          .orderBy(col("user_id"), col("valid_from"), col("event_id"))
      },
      Some(s"""WITH ch AS (
              |  SELECT user_id, event_id,
              |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS action,
              |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c, ts
              |  FROM events)
              |SELECT user_id, event_id, action, v_c,
              |       ts AS valid_from,
              |       lead(ts) OVER w AS valid_to,
              |       (lead(ts) OVER w IS NULL AND action <> 'D') AS is_current,
              |       last_value(v_c) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS current_v_c,
              |       CAST(last_value(v_c) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) - v_c AS BIGINT) AS drift_c
              |FROM ch
              |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
              |ORDER BY user_id, valid_from, event_id""".stripMargin)
    ),
    Q(
      "cdc_bitemporal_asof",
      // BITEMPORAL as-of (round-9): two time axes — VALID time (when the
      // fact was true) and TRANSACTION time (when the system learned it).
      // The question no single-axis table can answer: "what did we
      // BELIEVE on Jan 16 the user's value was AS OF Jan 20, and how was
      // that belief later revised?" Belief at txn T = last change with
      // arrival ≤ T among those valid ≤ V; users with facts arriving in
      // (T1, V] get `revised = true` — the late-arriving-fact audit a
      // restatement process runs. Each leg is one windowed last-per-key
      // over a pruned scan (arrival ≤ cutoff); at scale both legs are
      // partition-pruned, never a feed replay. Null-safe comparison
      // flags users unknown at T1.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        def belief(cut: String) = {
          val w = Window.partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)
          Tables.events(s, dir)
            .filter(col("ts") <= lit(cut).cast("timestamp_ntz"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("user_id"),
              expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("v_c"))
        }
        val t1 = belief("2024-01-16 00:00:00")
          .withColumnRenamed("v_c", "v_txn1_c")
        val t2 = belief("2024-01-20 00:00:00")
          .withColumnRenamed("v_c", "v_txn2_c")
        t2.join(t1, Seq("user_id"), "left")
          .withColumn("revised", !(col("v_txn1_c") <=> col("v_txn2_c")))
          .orderBy(col("user_id"))
      },
      Some("""WITH b1 AS (
             |  SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_txn1_c
             |  FROM (SELECT user_id, value,
             |               row_number() OVER (PARTITION BY user_id
             |                 ORDER BY ts DESC, event_id DESC) AS rn
             |        FROM events WHERE ts <= TIMESTAMP '2024-01-16 00:00:00') t
             |  WHERE rn = 1),
             |b2 AS (
             |  SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_txn2_c
             |  FROM (SELECT user_id, value,
             |               row_number() OVER (PARTITION BY user_id
             |                 ORDER BY ts DESC, event_id DESC) AS rn
             |        FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00') t
             |  WHERE rn = 1)
             |SELECT b2.user_id, b2.v_txn2_c, b1.v_txn1_c,
             |       (b1.v_txn1_c IS DISTINCT FROM b2.v_txn2_c) AS revised
             |FROM b2 LEFT JOIN b1 ON b2.user_id = b1.user_id
             |ORDER BY b2.user_id""".stripMargin)
    ),
    Q(
      "cdc_point_in_time",
      // Point-in-time (time-travel) lookup against the SCD2 history: the
      // state of every key AS OF a probe instant — filter the validity
      // interval covering T. At scale this is a partition-pruned scan of
      // the history table (valid_from ≤ T < valid_to), never a replay of
      // the change feed.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val asOf = lit("2024-01-15 00:00:00").cast("timestamp_ntz")
        changes(s, dir)
          .withColumn("valid_from", col("ts"))
          .withColumn("valid_to", lead(col("ts"), 1).over(w))
          .filter(col("valid_from") <= asOf &&
            (col("valid_to").isNull || col("valid_to") > asOf))
          .select(col("user_id"), col("event_id"), col("action"), col("value"),
            col("valid_from"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, event_id,
             |       CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS action,
             |       value, valid_from
             |FROM (SELECT user_id, event_id, event_type, value,
             |             ts AS valid_from, lead(ts) OVER w AS valid_to
             |      FROM events
             |      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) h
             |WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
             |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
             |ORDER BY user_id""".stripMargin)
    ),
    Q(
      "schema_evolution_merge",
      // DAP schema-version bump mid-stream (SURVEY.md §2.10 [DAP]): a new
      // column appears in later files; mergeSchema widens, missing → null.
      // Both parquet generations are derived deterministically from orders,
      // so the oracle recomputes the merged view straight from the source.
      (s, dir) => {
        val tmp = graft.util.tempDir("graft_schema_evo_")
        val o = Tables(s, dir, "orders")
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$tmp/gen=1")
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            concat(lit("note-"), col("o_orderkey")).as("o_note"))
          .write.mode("overwrite").parquet(s"$tmp/gen=2")
        s.read.option("mergeSchema", "true").parquet(s"$tmp/gen=1", s"$tmp/gen=2")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_note"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice,
             |       CASE WHEN o_orderkey % 2 = 1
             |            THEN 'note-' || CAST(o_orderkey AS VARCHAR) END AS o_note
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "schema_evolution_widen",
      // The OTHER schema-version bump: a column's TYPE widens mid-feed
      // (int ids outgrow 32 bits, float prices move to double). Parquet
      // mergeSchema refuses type promotion outright, so the engine-level
      // answer is per-generation reads cast to the widest type and
      // unioned — the upgrade path a 100 TB replica actually takes (cast
      // at read, rewrite never). The narrowing float detour is
      // deterministic IEEE truncation both engines reproduce exactly.
      (s, dir) => {
        val tmp = graft.util.tempDir("graft_schema_widen_")
        val o = Tables(s, dir, "orders")
        // gen1 wrote narrow types (INT key, FLOAT price)
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").cast("int").as("o_orderkey"),
            col("o_totalprice").cast("float").as("o_totalprice"))
          .write.mode("overwrite").parquet(s"$tmp/gen=1")
        // gen2 widened at the producer (BIGINT key, DOUBLE price)
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$tmp/gen=2")
        val g1 = s.read.parquet(s"$tmp/gen=1")
          .select(col("o_orderkey").cast("long").as("o_orderkey"),
            col("o_totalprice").cast("double").as("o_totalprice"))
        val g2 = s.read.parquet(s"$tmp/gen=2")
        g1.unionByName(g2)
          .withColumn("gen", when(col("o_orderkey") % 2 === 0, 1L).otherwise(2L))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey,
             |       CASE WHEN o_orderkey % 2 = 0
             |            THEN CAST(CAST(o_totalprice AS REAL) AS DOUBLE)
             |            ELSE o_totalprice END AS o_totalprice,
             |       CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS gen
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "cdc_audit_counts",
      // CDC observability: classify each delta row against the base
      // snapshot BEFORE applying it — inserts (new key, U), updates
      // (known key, U), effective deletes (known key, D) and no-op
      // deletes (unknown key, D). The counts are what a merge job should
      // log per batch; drift here is how replica corruption gets caught.
      // One broadcast-or-shuffle semi-probe against the base keys.
      (s, dir) => {
        val ch = changes(s, dir)
        val cut = lit("2024-01-15").cast("timestamp_ntz")
        val baseKeys = Merge.fold(ch.filter(col("ts") < cut),
            Seq("user_id"), "ts", "event_id")
          .select(col("user_id")).distinct().withColumn("in_base", lit(true))
        ch.filter(col("ts") >= cut)
          .join(baseKeys, Seq("user_id"), "left")
          .select(col("action"), coalesce(col("in_base"), lit(false)).as("in_base"))
          .groupBy(col("action"), col("in_base"))
          .agg(count(lit(1)).as("n"))
          .withColumn("kind",
            when(col("action") === "U" && !col("in_base"), "insert")
              .when(col("action") === "U", "update")
              .when(col("in_base"), "delete").otherwise("delete_noop"))
          .select(col("kind"), col("action"), col("in_base"), col("n"))
          .orderBy(col("kind"))
      },
      Some(s"""WITH base AS (${foldSql("ts < TIMESTAMP '2024-01-15'")}),
              |d AS (SELECT * FROM ($changesSql) WHERE ts >= TIMESTAMP '2024-01-15'),
              |cls AS (
              |  SELECT d.action, (b.user_id IS NOT NULL) AS in_base
              |  FROM d LEFT JOIN (SELECT DISTINCT user_id FROM base) b USING (user_id))
              |SELECT CASE WHEN action = 'U' AND NOT in_base THEN 'insert'
              |            WHEN action = 'U' THEN 'update'
              |            WHEN in_base THEN 'delete' ELSE 'delete_noop' END AS kind,
              |       action, in_base, count(*) AS n
              |FROM cls GROUP BY action, in_base
              |ORDER BY kind""".stripMargin)
    ),
    Q(
      "pipeline_dap_replica",
      // The reference's E1/E2 lifecycle END-TO-END as one row (SURVEY.md
      // §3.1): the change feed is serialized into three gzip JSONL
      // envelope deliveries ({key,value,meta} — the DAP wire shape), one
      // per {since, until} window, then replayed through one Replica:
      // read envelope → flatten → Replica.poll (delivery gate on the
      // stored cursor → Merge.applyDelta → land the next parquet version
      // → cursor advance). Delivery 1 arrives TWICE: its until is at the
      // cursor, so the re-delivery is skipped without a job — the
      // advance-after-land contract the design hinges on. The answer is
      // the snapshot of the last landed version, so the oracle (one-shot
      // window fold of the whole feed) checks the COMPOSED semantics:
      // envelope round-trip, delivery gate, incremental fold, tombstones.
      // Scale: each poll is one keyed shuffle of state∪delta sized from
      // the state's bytes; landing truncates lineage so N polls never
      // stack N windows; the driver touches one scalar per poll (the
      // cursor), never data.
      (s, dir) => {
        import org.apache.spark.sql.types._
        val scratch = graft.util.tempDir("graft_dap_")
        // micros since epoch carried IN the envelope meta — integers
        // round-trip JSON exactly; ts_ns div 1000 matches Tables.events'
        // micro truncation so the rebuilt ts equals the oracle's
        val feed = Tables.events(s, dir).select(
          col("user_id"),
          expr("ts_ns div 1000").as("ts_us"),
          when(col("event_type") === "error", "D").otherwise("U").as("action"),
          col("value"),
          col("event_id"))
        def us(date: String): Long =
          java.time.LocalDate.parse(date).atStartOfDay
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
        // window bounds; the last window is open-ended
        val bounds = Seq(Long.MinValue, us("2024-01-10"), us("2024-01-20"), Long.MaxValue)
        val windows = bounds.zip(bounds.tail)
        windows.zipWithIndex.foreach { case ((since, until), i) =>
          feed.filter(col("ts_us") >= since && col("ts_us") < until)
            .select(to_json(struct(
              struct(col("user_id")).as("key"),
              struct(col("value"), col("event_id")).as("value"),
              struct(col("action"), col("ts_us")).as("meta"))).as("line"))
            .write.mode("overwrite").option("compression", "gzip")
            .text(s"$scratch/batch=$i")
        }
        val envelope = StructType(Seq(
          StructField("key", StructType(Seq(StructField("user_id", LongType)))),
          StructField("value", StructType(Seq(
            StructField("value", DoubleType),
            StructField("event_id", LongType)))),
          StructField("meta", StructType(Seq(
            StructField("action", StringType),
            StructField("ts_us", LongType))))))
        val replica = new Replica(Seq("user_id"), "ts", "event_id", s"$scratch/replica")
        // delivery 1 re-delivered (a crash between land and the NEXT pull
        // re-pulls the same files)
        Seq(0, 1, 1, 2).foreach { b =>
          replica.poll(
            s.read.schema(envelope).json(s"$scratch/batch=$b").select(
              col("key.user_id"),
              timestamp_micros(col("meta.ts_us")).cast("timestamp_ntz").as("ts"),
              col("meta.action"), col("value.value"), col("value.event_id")),
            windows(b)._2)
        }
        replica.snapshot(s).orderBy(col("user_id"))
      },
      Some(foldSql("TRUE") + "\nORDER BY user_id")
    ),
    Q(
      "cdc_chunked_backfill",
      // Chunked initial snapshot with concurrent change-feed handoff
      // (round-9): the DBLog/Netflix algorithm shape — a backfill reads
      // the source in key-range chunks WHILE the live change feed keeps
      // flowing, and any key the feed touched after the backfill cursor
      // passed must take the FEED's version, not the stale chunk row.
      // Chunks: 4 deterministic key ranges of orders, each stamped with
      // the cursor tick at which it was copied (chunk c reads at tick c);
      // the concurrent feed is the Jan-1998+ orders replayed as updates
      // at tick = key-derived (key % 4) with a price bump. Resolution is
      // one per-key max_by on (source priority, tick) — the same
      // upsert-latest shuffle shape, O(keys), no per-chunk rescans.
      (s, dir) => {
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey").as("k"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
        // 4 key-range chunks; chunk boundary by modulus so the ranges are
        // deterministic at every sf (range c = keys with k % 4 = c),
        // copied at tick c
        val chunks = o
          .withColumn("tick", (col("k") % 4).cast("long"))
          .withColumn("src", lit(0L)) // 0 = snapshot
        // concurrent feed: every key % 7 == 3 gets an update (+5 cents)
        // at tick (k % 4) — i.e. EXACTLY when its chunk was being copied,
        // the ambiguous interleave the algorithm must resolve feed-wins
        val feed = o.filter(col("k") % 7 === 3)
          .withColumn("cents", col("cents") + 5L)
          .withColumn("tick", (col("k") % 4).cast("long"))
          .withColumn("src", lit(1L)) // 1 = change feed
        chunks.unionByName(feed)
          .groupBy(col("k"))
          .agg(max_by(col("cents"),
            struct(col("src"), col("tick"))).as("final_cents"),
            max(col("src")).as("saw_feed"))
          .select(col("k"), col("final_cents"),
            (col("saw_feed") === 1L).as("from_feed"))
          .orderBy(col("k"))
      },
      Some("""WITH o AS (
             |  SELECT o_orderkey AS k,
             |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
             |  FROM orders)
             |SELECT k,
             |       CASE WHEN k % 7 = 3 THEN cents + 5 ELSE cents END AS final_cents,
             |       k % 7 = 3 AS from_feed
             |FROM o ORDER BY k""".stripMargin)
    ),
    Q(
      "cdc_gap_detection",
      // Sequence-gap audit (round-9): the replication-feed completeness
      // check — given a feed keyed by a monotone sequence number, emit
      // every missing RANGE (gap start, end, width) via one lead() pass
      // over the distinct ids, O(present ids) shuffle and O(gaps) output.
      // The fixture feed is dense, so bursty loss is injected
      // deterministically (event_id % 101 ∈ {7,8,9} dropped) and the
      // audit provably reconstructs exactly those ranges; at 100 TB the
      // same plan runs per partition-day with the lead() window keyed by
      // the feed's shard.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val survived = Tables.events(s, dir)
          .filter(!(col("event_id") % 101).isin(7L, 8L, 9L))
          .select(col("event_id").as("id"))
        survived
          .withColumn("nxt", lead(col("id"), 1).over(Window.orderBy(col("id"))))
          .filter(col("nxt") - col("id") > 1)
          .select((col("id") + 1).as("gap_start"), (col("nxt") - 1).as("gap_end"),
            (col("nxt") - col("id") - 1).as("n_missing"))
          .orderBy(col("gap_start"))
      },
      Some("""WITH survived AS (
             |  SELECT event_id AS id FROM events
             |  WHERE event_id % 101 NOT IN (7, 8, 9)),
             |g AS (
             |  SELECT id, lead(id, 1) OVER (ORDER BY id) AS nxt FROM survived)
             |SELECT id + 1 AS gap_start, nxt - 1 AS gap_end,
             |       nxt - id - 1 AS n_missing
             |FROM g WHERE nxt - id > 1 ORDER BY gap_start""".stripMargin)
    ),
    Q(
      "pipeline_pit_features",
      // Point-in-time feature assembly (round-9): the feature-store
      // correctness primitive — label rows (purchases) join each feature
      // table at the latest snapshot STRICTLY BEFORE the label's day, so
      // no post-outcome signal leaks into training. Two cumulative
      // per-user daily snapshot tables (clicks, errors) are built from
      // one window pass each; each PIT lookup is a per-user-bounded join
      // (≤ days rows) + a row_number argmax — at 100 TB the same
      // semantics run through the engine's BroadcastAsOfJoinExec
      // (join_asof tier); this row pins the multi-feature composition
      // and the strict-inequality leak gate. Output aggregates to
      // O(users) rows; every number is an exact BIGINT count.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
        val labels = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"),
            to_date(col("ts")).as("d"))
        def cumFeat(t: String, name: String) = ev
          .filter(col("event_type") === t)
          .groupBy(col("user_id"), to_date(col("ts")).as("sd"))
          .agg(count(lit(1)).as("n"))
          .withColumn(name, sum(col("n")).over(
            Window.partitionBy(col("user_id")).orderBy(col("sd"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("user_id"), col("sd"), col(name))
        def pit(feat: org.apache.spark.sql.DataFrame, name: String) = {
          val w = Window.partitionBy(col("user_id"), col("event_id"))
            .orderBy(col("sd").desc_nulls_last)
          // the strict inequality lives IN the join condition: a label
          // whose snapshots are all on/after its day must survive as an
          // unmatched row (feature 0), not be filtered away
          labels
            .join(feat.withColumnRenamed("user_id", "fu"),
              col("fu") === col("user_id") && col("sd") < col("d"), "left")
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("user_id"), col("event_id"),
              coalesce(col(name), lit(0L)).as(name))
        }
        val c = pit(cumFeat("click", "clicks_cum"), "clicks_cum")
        val e = pit(cumFeat("error", "errors_cum"), "errors_cum")
        c.join(e, Seq("user_id", "event_id"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_labels"),
            sum(col("clicks_cum")).as("sum_clicks_cum"),
            sum(col("errors_cum")).as("sum_errors_cum"))
          .orderBy(col("user_id"))
      },
      Some("""WITH labels AS (
             |  SELECT user_id, event_id, CAST(date_trunc('day', ts) AS DATE) AS d
             |  FROM events WHERE event_type = 'purchase'),
             |cfeat AS (
             |  SELECT user_id, sd,
             |         CAST(sum(n) OVER (PARTITION BY user_id ORDER BY sd
             |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS clicks_cum
             |  FROM (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS sd,
             |               CAST(count(*) AS BIGINT) AS n
             |        FROM events WHERE event_type = 'click' GROUP BY 1, 2) c),
             |efeat AS (
             |  SELECT user_id, sd,
             |         CAST(sum(n) OVER (PARTITION BY user_id ORDER BY sd
             |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS errors_cum
             |  FROM (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS sd,
             |               CAST(count(*) AS BIGINT) AS n
             |        FROM events WHERE event_type = 'error' GROUP BY 1, 2) e),
             |j AS (
             |  SELECT l.user_id, l.event_id,
             |    coalesce((SELECT c.clicks_cum FROM cfeat c
             |              WHERE c.user_id = l.user_id AND c.sd < l.d
             |              ORDER BY c.sd DESC LIMIT 1), 0) AS clicks_cum,
             |    coalesce((SELECT e.errors_cum FROM efeat e
             |              WHERE e.user_id = l.user_id AND e.sd < l.d
             |              ORDER BY e.sd DESC LIMIT 1), 0) AS errors_cum
             |  FROM labels l)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_labels,
             |       CAST(sum(clicks_cum) AS BIGINT) AS sum_clicks_cum,
             |       CAST(sum(errors_cum) AS BIGINT) AS sum_errors_cum
             |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),
    Q(
      "pipeline_incremental_agg",
      // Incremental view maintenance for distributive aggregates: a
      // materialized per-group (count, sum) is folded with a delta batch's
      // partial aggregate via full-outer merge — the 100 TB pattern where
      // re-aggregating history per sync is unpayable and only the delta is
      // touched. Base = events before Jan 20, delta = the rest; each side
      // aggregates INDEPENDENTLY (the base agg would be a stored table in
      // production, so the merge input is O(groups), not O(rows)), then
      // counts/sums add. Sums are BIGINT cents — merge order can't change
      // the answer. Oracle: one-shot aggregate over the whole feed —
      // incremental must equal recompute exactly.
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("cents", expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
        val cut = "2024-01-20"
        def aggOf(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        val base = aggOf(ev.filter(col("ts") < lit(cut).cast("timestamp_ntz")))
          .withColumnRenamed("n", "bn").withColumnRenamed("sum_cents", "bs")
        val delta = aggOf(ev.filter(col("ts") >= lit(cut).cast("timestamp_ntz")))
          .withColumnRenamed("n", "dn").withColumnRenamed("sum_cents", "ds")
        base.join(delta, Seq("event_type"), "full")
          .select(col("event_type"),
            (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
            (coalesce(col("bs"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("sum_cents"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    Q(
      "cdc_deletion_vectors",
      // Lakehouse deletion vectors: deletes land as a COMPACT SET OF ROW
      // POSITIONS next to the immutable base file instead of rewriting it
      // — the merge-on-read pattern (Delta DVs, Iceberg positional
      // deletes) that makes deletes O(deleted) instead of O(table). Base
      // lands once with stable positions; a later delete commit writes
      // only the position list; readers anti-join base against the
      // broadcast DV (positions, not keys — no wide-row shuffle, and the
      // base row needs no key lookup). Two delete commits accumulate;
      // the oracle recomputes the survivor set from the predicates.
      (s, dir) => {
        val tmp = graft.util.tempDir("graft_dv_")
        // positions are PER SHARD (here: status; at scale: per file) — a
        // partitioned window, never a single-partition global sequence
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderstatus")).orderBy(col("o_orderkey"))
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .withColumn("pos", row_number().over(w).cast("long") - 1)
          .write.mode("overwrite").parquet(s"$tmp/base")
        val base = s.read.parquet(s"$tmp/base")
        // delete commit 1: cancel F-status rows; commit 2: high-value O
        base.filter(col("o_orderstatus") === "F")
          .select(col("o_orderstatus"), col("pos"))
          .write.mode("overwrite").parquet(s"$tmp/dv/commit=1")
        base.filter(col("o_orderstatus") === "O" && col("o_totalprice") > 400000)
          .select(col("o_orderstatus"), col("pos"))
          .write.mode("overwrite").parquet(s"$tmp/dv/commit=2")
        val dv = s.read.parquet(s"$tmp/dv")
        base.join(
          broadcast(dv.select(col("o_orderstatus"), col("pos")).distinct()),
          Seq("o_orderstatus", "pos"), "left_anti")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice
             |FROM orders
             |WHERE NOT (o_orderstatus = 'F')
             |  AND NOT (o_orderstatus = 'O' AND o_totalprice > 400000)
             |ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "cdc_gcounter_merge",
      // G-counter CRDT merge (round-9): each replica (user_id % 4)
      // publishes three increasingly-stale snapshots of its per-day
      // purchase counter (cumulative prefixes by event_id % 3 ≤ e); the
      // merge takes MAX per (key, replica) across snapshots, then SUMS
      // across replicas — the grow-only-counter join-semilattice. The
      // convergence property IS the oracle: merging any set of stale
      // snapshots that includes each replica's freshest recovers the
      // exact per-day total, row-for-row. At scale both steps are
      // map-side-combinable aggregations (max, then sum) — no replica
      // ever sees another's raw events, exactly the CRDT promise.
      (s, dir) => {
        val obs = Tables.events(s, dir)
          .filter(col("event_type") === "purchase")
          .select(to_date(col("ts")).as("k"),
            (col("user_id") % 4).as("replica"), col("event_id"))
          .crossJoin(s.range(0, 3).select(col("id").as("epoch")))
          // snapshot e contains the events with event_id % 3 <= e
          .filter(col("event_id") % 3 <= col("epoch"))
          .groupBy(col("k"), col("replica"), col("epoch"))
          .agg(count(lit(1)).as("cnt"))
        obs
          .groupBy(col("k"), col("replica"))
          .agg(max(col("cnt")).as("site_max"))
          .groupBy(col("k"))
          .agg(expr("CAST(count(*) AS BIGINT)").as("n_replicas"),
            expr("CAST(sum(site_max) AS BIGINT)").as("counter_value"))
          .orderBy(col("k"))
      },
      Some("""WITH obs AS (
             |  SELECT CAST(date_trunc('day', ts) AS DATE) AS k,
             |         user_id % 4 AS replica, e.epoch,
             |         CAST(count(*) AS BIGINT) AS cnt
             |  FROM events, (SELECT unnest(range(0, 3)) AS epoch) e
             |  WHERE event_type = 'purchase' AND event_id % 3 <= e.epoch
             |  GROUP BY 1, 2, 3),
             |merged AS (
             |  SELECT k, replica, CAST(max(cnt) AS BIGINT) AS site_max
             |  FROM obs GROUP BY k, replica)
             |SELECT k, CAST(count(*) AS BIGINT) AS n_replicas,
             |       CAST(sum(site_max) AS BIGINT) AS counter_value
             |FROM merged GROUP BY k ORDER BY k""".stripMargin)
    ),
    Q(
      "pipeline_replica_suite",
      // Multi-table replica orchestration (round-10, VERDICT r9 #4): the
      // reference maintains ~100 Canvas tables per replica, each with its
      // own sync cursor, and analytics read a CONSISTENT CUT across them.
      // Every lifecycle row so far folded ONE table; this row runs the
      // whole orchestration: a dimension snapshot (customer, full copy at
      // round 0) plus two incremental feeds (orders, lineitem) pulled
      // through one cursor-per-table loop over three watermark rounds.
      // Consistency model: an order and its lineitems commit in one
      // transaction, so child feed rows carry the PARENT's commit day —
      // cutting every table at the same watermark therefore yields a
      // transactionally consistent snapshot, which the final audit proves
      // by counting FK orphans (left-anti joins over the landed replicas,
      // asserted zero BY CONSTRUCTION, computed for real). Round-1's
      // batch is delivered twice: the per-table cursor gate turns the
      // re-delivery into an empty append (at-least-once upstream, an
      // exactly-once replica).
      // Scale: the loop is driver orchestration of O(tables) scalars per
      // round (cursor position + landed count); each delta append is one
      // partition-pruned scan (commit_day predicate) and no data crosses
      // tables until the audit's keyed anti-joins; the consistent cut is
      // watermark arithmetic — no cross-table lock, no global barrier.
      (s, dir) => {
        import s.implicits._
        val scratch = graft.util.tempDir("graft_suite_")
        def epochDay(c: org.apache.spark.sql.Column) =
          datediff(c.cast("date"), to_date(lit("1970-01-01"))).cast("long")
        val orders = Tables(s, dir, "orders")
        val customer = Tables(s, dir, "customer")
        val ordersFeed = Tables(s, dir, "orders")
          .withColumn("commit_day", epochDay(col("o_orderdate")))
        // Measured (r17 probe): each lineitem delivery is a map-side BHJ
        // (broadcast orders projection, commit_day filter pushed into the
        // orders scan) over the single-split fixture file — ~0.6 s/append,
        // all in one task. A fanout before the join was A/B-measured at
        // 4.5 → 7.9 s: round-robin repartitioning shuffles the WIDE
        // lineitem payload once per delivery, the §8 anti-pattern (move
        // heavy bytes once — here that means not at all). Left single-task:
        // at real scale the feed arrives as many splits and parallelizes
        // by itself.
        val lineFeed = Tables(s, dir, "lineitem").join(
          orders.select(col("o_orderkey").as("l_orderkey"),
            epochDay(col("o_orderdate")).as("commit_day")),
          Seq("l_orderkey"))
        val watermarks = Seq("1997-01-01", "1999-01-01", "2002-01-01")
          .map(d => java.time.LocalDate.parse(d).toEpochDay)
        val feeds = Seq("orders" -> ordersFeed, "lineitem" -> lineFeed)
        val cursors = feeds.map { case (t, _) =>
          t -> new graft.cdc.Cursor(s"$scratch/cursor_$t") }.toMap
        val audit = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        customer.write.mode("overwrite").parquet(s"$scratch/replica/customer")
        audit += (("synced", "r0:customer",
          s.read.parquet(s"$scratch/replica/customer").count()))
        watermarks.zipWithIndex.foreach { case (w, r) =>
          val deliveries = if (r == 1) Seq(0, 1) else Seq(0)
          deliveries.foreach { _ =>
            // r17 (guide §2.6 overlap independent jobs): the two tables'
            // pulls are independent — own cursor, own landing dir, no
            // shared state — so the orders append backfills the tail of
            // the lineitem append's feed join instead of waiting for it.
            // Per-table ordering (the cursor contract) is untouched: each
            // table's pulls still run in watermark order on its own
            // thread-per-delivery, and the audit reads run after the join.
            graft.util.inParallel(feeds.map { case (t, feed) => () =>
              val since = cursors(t).read().getOrElse(Long.MinValue)
              feed.filter(col("commit_day") > since && col("commit_day") <= w)
                .drop("commit_day")
                .write.mode("append").parquet(s"$scratch/replica/$t")
              // advance ONLY after the append landed (crash re-pulls)
              cursors(t).advance(w)
            })
          }
          // per-round audit counts: two independent footer-read jobs —
          // overlap them, append in fixed order after both land (§2.6)
          val roundCounts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
          graft.util.inParallel(feeds.map { case (t, _) => () =>
            roundCounts.put(t, s.read.parquet(s"$scratch/replica/$t").count())
            ()
          })
          feeds.foreach { case (t, _) =>
            audit += (("synced", s"r$r:$t", roundCounts.get(t)))
          }
        }
        val oRep = s.read.parquet(s"$scratch/replica/orders")
        val lRep = s.read.parquet(s"$scratch/replica/lineitem")
        val cRep = s.read.parquet(s"$scratch/replica/customer")
        // the two FK audits are independent reads of the landed replicas —
        // overlap them too (§2.6); results land in the buffer in fixed
        // order after both joins complete
        @volatile var orphL = 0L
        @volatile var orphO = 0L
        graft.util.inParallel(Seq(
          () => orphL = lRep.join(oRep.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti").count(),
          () => orphO = oRep.join(cRep.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti").count()))
        audit += (("cut", "lineitem->orders orphans", orphL))
        audit += (("cut", "orders->customer orphans", orphO))
        audit.toSeq.toDF("kind", "label", "n").orderBy(col("kind"), col("label"))
      },
      Some("""WITH w(r, wd) AS (VALUES (0, DATE '1997-01-01'),
             |                         (1, DATE '1999-01-01'),
             |                         (2, DATE '2002-01-01')),
             |o AS (SELECT w.r, count(*) AS n FROM w, orders
             |      WHERE CAST(o_orderdate AS DATE) <= w.wd GROUP BY w.r),
             |l AS (SELECT w.r, count(*) AS n FROM w, lineitem li, orders oo
             |      WHERE li.l_orderkey = oo.o_orderkey
             |        AND CAST(oo.o_orderdate AS DATE) <= w.wd GROUP BY w.r),
             |orph_l AS (
             |  SELECT count(*) AS n FROM lineitem li JOIN orders oo
             |    ON li.l_orderkey = oo.o_orderkey
             |  WHERE CAST(oo.o_orderdate AS DATE) <= DATE '2002-01-01'
             |    AND NOT EXISTS (SELECT 1 FROM orders o2
             |      WHERE o2.o_orderkey = li.l_orderkey
             |        AND CAST(o2.o_orderdate AS DATE) <= DATE '2002-01-01')),
             |orph_o AS (
             |  SELECT count(*) AS n FROM orders oo
             |  WHERE CAST(oo.o_orderdate AS DATE) <= DATE '2002-01-01'
             |    AND NOT EXISTS (SELECT 1 FROM customer c
             |      WHERE c.c_custkey = oo.o_custkey))
             |SELECT kind, label, CAST(n AS BIGINT) AS n FROM (
             |  SELECT 'synced' AS kind,
             |         'r' || CAST(r AS VARCHAR) || ':orders' AS label, n FROM o
             |  UNION ALL
             |  SELECT 'synced', 'r' || CAST(r AS VARCHAR) || ':lineitem', n FROM l
             |  UNION ALL SELECT 'synced', 'r0:customer', count(*) FROM customer
             |  UNION ALL SELECT 'cut', 'lineitem->orders orphans', n FROM orph_l
             |  UNION ALL SELECT 'cut', 'orders->customer orphans', n FROM orph_o)
             |ORDER BY kind, label""".stripMargin)
    ),
    Q(
      "cdc_retention_purge",
      // Retention-policy purge accounting (round-10): the GDPR/records-
      // management pass a replica runs on a schedule — soft-deleted rows
      // (tombstoned, ~20% by deterministic hash, deletion day derived
      // from the order date) are HARD-purged once older than the 30-day
      // retention window measured at the as-of day (the corpus' max
      // date); younger tombstones stay pending, everything else is
      // active. The yearly census (active / pending / purged) is the
      // audit artifact a privacy review asks for. All epoch-day BIGINT
      // arithmetic; one scan + one aggregate.
      // the only dialect split is "days between": Spark datediff(end,
      // start) vs DuckDB date_diff('day', start, end)
      (s, dir) => graft.Catalog.sql(s, dir,
        retentionSql((a, b) => s"datediff($b, $a)")),
      Some(retentionSql((a, b) => s"date_diff('day', $a, $b)"))
    ),
    Q(
      "cdc_conflict_lww_census",
      // Multi-master conflict census + last-writer-wins resolution
      // (round-14): two sites write the same keyed register (per
      // customer: site A folds its even-keyed orders, site B its
      // odd-keyed ones — each site's state is its LATEST write by
      // (date, orderkey) total order), and the merge audit reports what
      // every active-active replication console shows before switching
      // resolution on: keys only one site wrote, true conflicts, how
      // many LWW resolves to each side, and how many needed the
      // deterministic site tiebreak (equal timestamps — 'A' wins, the
      // bias a console must DISCLOSE, not hide). G-counter merge
      // (cdc_gcounter_merge) is the CRDT that avoids conflicts; this
      // row is the register family that cannot, measured. Scale: two
      // per-key window folds + one full-outer join on the key — the
      // shuffle is O(keys), values never move twice.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""WITH sa AS (
          |  SELECT k, ts FROM (
          |    SELECT o_custkey AS k, o_orderdate AS ts,
          |           row_number() OVER (PARTITION BY o_custkey
          |             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          |    FROM orders WHERE o_orderkey % 2 = 0) t WHERE rn = 1),
          |sb AS (
          |  SELECT k, ts FROM (
          |    SELECT o_custkey AS k, o_orderdate AS ts,
          |           row_number() OVER (PARTITION BY o_custkey
          |             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          |    FROM orders WHERE o_orderkey % 2 = 1) t WHERE rn = 1),
          |j AS (
          |  SELECT a.ts AS ta, b.ts AS tb
          |  FROM sa a FULL OUTER JOIN sb b ON a.k = b.k)
          |SELECT
          |  CAST(sum(CASE WHEN tb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
          |  CAST(sum(CASE WHEN ta IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b,
          |  CAST(sum(CASE WHEN ta IS NOT NULL AND tb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_conflict,
          |  CAST(sum(CASE WHEN ta IS NOT NULL AND tb IS NOT NULL AND ta >= tb THEN 1 ELSE 0 END) AS BIGINT) AS n_resolved_a,
          |  CAST(sum(CASE WHEN ta IS NOT NULL AND tb IS NOT NULL AND ta < tb THEN 1 ELSE 0 END) AS BIGINT) AS n_resolved_b,
          |  CAST(sum(CASE WHEN ta IS NOT NULL AND tb IS NOT NULL AND ta = tb THEN 1 ELSE 0 END) AS BIGINT) AS n_site_tiebreaks
          |FROM j""".stripMargin)
      },
      Some("""WITH sa AS (
             |  SELECT k, ts FROM (
             |    SELECT o_custkey AS k, o_orderdate AS ts,
             |           row_number() OVER (PARTITION BY o_custkey
             |             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             |    FROM orders WHERE o_orderkey % 2 = 0) t WHERE rn = 1),
             |sb AS (
             |  SELECT k, ts FROM (
             |    SELECT o_custkey AS k, o_orderdate AS ts,
             |           row_number() OVER (PARTITION BY o_custkey
             |             ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             |    FROM orders WHERE o_orderkey % 2 = 1) t WHERE rn = 1),
             |j AS (
             |  SELECT a.ts AS ta, b.ts AS tb
             |  FROM sa a FULL OUTER JOIN sb b ON a.k = b.k)
             |SELECT
             |  CAST(sum(CASE WHEN tb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
             |  CAST(sum(CASE WHEN ta IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b,
             |  CAST(sum(CASE WHEN ta IS NOT NULL AND tb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_conflict,
             |  CAST(sum(CASE WHEN ta IS NOT NULL AND tb IS NOT NULL AND ta >= tb THEN 1 ELSE 0 END) AS BIGINT) AS n_resolved_a,
             |  CAST(sum(CASE WHEN ta IS NOT NULL AND tb IS NOT NULL AND ta < tb THEN 1 ELSE 0 END) AS BIGINT) AS n_resolved_b,
             |  CAST(sum(CASE WHEN ta IS NOT NULL AND tb IS NOT NULL AND ta = tb THEN 1 ELSE 0 END) AS BIGINT) AS n_site_tiebreaks
             |FROM j""".stripMargin)
    )
  )

  /** Shared Spark/DuckDB SQL for [[cdc_retention_purge]];
    * `dd(start, end)` renders the engine's days-between expression.
    */
  private def retentionSql(dd: (String, String) => String): String =
    s"""WITH o AS (
      |  SELECT o_orderkey,
      |         CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
      |         CAST(o_orderdate AS DATE) AS od,
      |         (o_orderkey % 1000003) * 2654435761 % 1000000007 % 100 < 20
      |           AS soft_deleted,
      |         CAST(5 + (o_orderkey % 1000003) * 1779033703
      |              % 1000000007 % 40 AS BIGINT) AS del_lag_days
      |  FROM orders),
      |cutoff AS (SELECT max(od) AS asof_day FROM o),
      |st AS (
      |  SELECT yr,
      |         CASE WHEN NOT soft_deleted THEN 'active'
      |              WHEN ${dd("od", "asof_day")}
      |                   - del_lag_days > 30 THEN 'purged'
      |              ELSE 'pending' END AS state
      |  FROM o, cutoff)
      |SELECT yr, state, CAST(count(*) AS BIGINT) AS n
      |FROM st GROUP BY yr, state ORDER BY yr, state""".stripMargin
}
