package graft.ops

import graft.{Q, Staged, Tables, util}
import graft.GraftSession.withConfs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.3 join matrix. The reference's replica answers star-schema SQL via
  * Athena (SURVEY.md §3.1 E3); each physical strategy Spark offers is pinned
  * here with an explicit hint so plan-shape tests can assert it.
  *
  * Scale notes per operator:
  *  - dims (region/nation/part/supplier) are broadcast — no shuffle of the
  *    fact side; at 100 TB the fact table never moves for these joins.
  *  - large-large joins (orders⋈lineitem) shuffle on the join key once;
  *    AQE handles skew splitting.
  *  - the non-equi joins keep one side broadcast-small by construction —
  *    a cartesian range join on two 100 TB inputs is never the plan here.
  *  - as-of is the union+window rewrite: ONE shuffle by key, no range
  *    explosion, works at any scale (vs. a naive range join whose
  *    intermediate is O(events × candidates)).
  */
object Joins {

  /** Shared sides for the as-of family: purchases as probes (is_probe=1),
    * clicks as build rows pre-deduped per (user_id, ts) for determinism.
    */
  private def asofSides(s: SparkSession, dir: String) = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), lit(1).as("is_probe"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      .select(lit(null).cast("long").as("event_id"), col("user_id"),
        col("ts"), lit(0).as("is_probe"), col("click_id"),
        col("ts").as("click_ts"))
    (purchases, clicks)
  }

  /** Inner join whose probe side is prunable by a runtime bloom filter:
    * the build side (orders) carries a selective predicate, the probe side
    * (lineitem) is the big scan the filter should reduce BEFORE the join
    * shuffle. Kept builder-visible so PlanShapeSpec can assert the
    * `might_contain` filter appears under the right configs.
    */
  private[graft] def bloomProneJoin(s: SparkSession, dir: String) = {
    val small = Tables(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
    Tables(s, dir, "lineitem")
      .join(small, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Fixture-scale confs under which InjectRuntimeFilter fires: the
    * application-side scan floor must drop to 0 (the default only injects
    * above 10 GB scans — at 100 TB it fires on its own), and broadcast is
    * disabled so the join is the shuffle join the bloom filter exists to
    * reduce. Shared with PlanShapeSpec's plan pins.
    */
  private[graft] val bloomConfs = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** Fixture-scale AQE skew-split triggers for [[skewedSupplierJoin]]: the
    * default 256 MB threshold never fires on toy shuffles, these do (the
    * hot partition is ~75% of the fact rows); broadcast demotion disabled
    * so the skewed sort-merge exchange actually exists. Shared with
    * PlanShapeSpec, which re-runs the join under them to assert the
    * skew=true marker in the executed plan.
    */
  private[graft] val skewAqeConfs = Seq(
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8kb",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4kb",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  /** The skewed join under test for `join_skew_aqe`: 75% of lineitem rows
    * re-keyed onto supplier 7, sort-merge joined to the supplier dim.
    * The round-robin repartition matters: AQE splits a skewed reduce
    * partition by MAPPER ranges, so a single-map-task upstream (one toy
    * parquet split) leaves nothing to split and the rule silently skips —
    * at real scale the fact scan has thousands of map tasks and the
    * repartition is unnecessary.
    */
  private[graft] def skewedSupplierJoin(s: SparkSession, dir: String) = {
    val f = Tables(s, dir, "lineitem")
      .select(when(col("l_orderkey") % 4 < 3, lit(7L))
          .otherwise(col("l_suppkey")).as("skew_key"),
        col("l_extendedprice"))
      .repartition(8)
    val sup = Tables(s, dir, "supplier").hint("merge")
    f.join(sup, col("skew_key") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("n_lines"),
        util.r2(sum(col("l_extendedprice"))).as("total_price"))
      .orderBy(col("s_name"))
  }

  /** Confs for `join_aqe_bhj_conversion`: deny the STATIC planner any
    * broadcast, allow AQE's runtime-stats threshold (callers must
    * materialize eagerly inside the scope).
    */
  private[graft] val aqeBhjConfs = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "8m")

  /** Cost-based join reorder on, for the CBO rows. */
  private val cboConfs = Seq(
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true")

  private val scriptingConfs = Seq("spark.sql.scripting.enabled" -> "true")

  /** The join under test for `join_aqe_bhj_conversion` (also plan-pinned
    * in PlanShapeSpec): dimension join that AQE must convert to a
    * BroadcastHashJoin at runtime under [[aqeBhjConfs]].
    */
  private[graft] def aqeBhjJoin(s: SparkSession, dir: String) =
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)"))
          .as("bal_cents"))
      .orderBy(col("n_name"))

  /** Allen's 13 interval relations as one shared CASE cascade over
    * (xs, xe) vs (ys, ye) — identical text evaluated by Spark and DuckDB.
    * Branch order makes the guards exhaustive and mutually exclusive
    * under the dates' total order: after `before`/`meets` fall through,
    * `xe > ys` holds; after `after`/`met_by`, `xs < ye` holds — so the
    * nine remaining cases partition on the (xs vs ys, xe vs ye) sign
    * pair. Degenerate (zero-length) intervals classify by the same
    * order, deterministically.
    */
  private val allenCase: String =
    """CASE
      |  WHEN xe < ys THEN 'before'
      |  WHEN xe = ys THEN 'meets'
      |  WHEN xs > ye THEN 'after'
      |  WHEN xs = ye THEN 'met_by'
      |  WHEN xs < ys AND xe < ye THEN 'overlaps'
      |  WHEN xs < ys AND xe = ye THEN 'finished_by'
      |  WHEN xs < ys AND xe > ye THEN 'contains'
      |  WHEN xs = ys AND xe < ye THEN 'starts'
      |  WHEN xs = ys AND xe = ye THEN 'equals'
      |  WHEN xs = ys AND xe > ye THEN 'started_by'
      |  WHEN xs > ys AND xe < ye THEN 'during'
      |  WHEN xs > ys AND xe = ye THEN 'finishes'
      |  ELSE 'overlapped_by'
      |END""".stripMargin

  val defs: Seq[Q] = Seq(
    Q(
      "join_bloom_pruned",
      // Semi-join reduction via Spark's runtime bloom filter
      // (InjectRuntimeFilter): a bloom built from the filtered orders keys
      // is pushed into the lineitem scan as `might_contain`, so most probe
      // rows die at the scan instead of crossing the join shuffle — THE
      // technique for selective big-big joins at 100 TB (the exchange
      // carries ~2% of lineitem here, not all of it). The result lands to
      // parquet inside the scoped configs (forced shuffle join + zero scan
      // threshold at fixture scale) and is read back for the compare;
      // content is identical to the plain join, which is exactly the
      // point — the oracle certifies the reduction is lossless.
      (s, dir) => {
        val out = util.tempDir("graft_bloomjoin_")
        withConfs(s, bloomConfs) {
          bloomProneJoin(s, dir).write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out).orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber, o_totalprice
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    ),
    Q(
      "join_broadcast_inner",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val part = Tables(s, dir, "part").filter(col("p_size") < 15)
        li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"), col("p_retailprice"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber, p_brand, p_retailprice
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_size < 15
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    ),
    Q(
      "join_sort_merge",
      (s, dir) => {
        val o = Tables(s, dir, "orders").hint("merge")
        Tables(s, dir, "lineitem")
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderkey"), col("l_linenumber"), col("o_totalprice"), col("l_extendedprice"))
          .orderBy(col("o_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT o_orderkey, l_linenumber, o_totalprice, l_extendedprice
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |ORDER BY o_orderkey, l_linenumber""".stripMargin)
    ),
    Q(
      "join_shuffle_hash",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
          .filter(col("o_orderstatus") === "F").hint("shuffle_hash")
        Tables(s, dir, "lineitem")
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderkey"), col("l_linenumber"), col("o_orderstatus"))
          .orderBy(col("o_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT o_orderkey, l_linenumber, o_orderstatus
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderstatus = 'F'
             |ORDER BY o_orderkey, l_linenumber""".stripMargin)
    ),
    Q(
      "join_star_5way",
      // Revenue rollup across the full star: dims broadcast, one shuffle
      // for the final aggregation. Catalyst/CBO reorders the join chain.
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        val n = broadcast(Tables(s, dir, "nation"))
        val r = broadcast(Tables(s, dir, "region"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .join(r, col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(
            count(lit(1)).as("n_lines"),
            util.r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some(s"""SELECT r_name, n_name, count(*) AS n_lines,
              |       ${util.r2sql("sum(l_extendedprice * (1 - l_discount))")} AS revenue
              |FROM lineitem
              |JOIN orders   ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation   ON c_nationkey = n_nationkey
              |JOIN region   ON n_regionkey = r_regionkey
              |GROUP BY r_name, n_name
              |ORDER BY r_name, n_name""".stripMargin)
    ),
    Q(
      "join_cbo_reorder",
      // Stats-driven join reorder (round-10, VERDICT r9 #3): the star's
      // five tables are landed as SESSION-CATALOG parquet tables and
      // ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS'd — rowCount +
      // per-column NDV/min-max, the statistics CostBasedJoinReorder prices
      // join orders with. The query is then written in the WORST literal
      // order (fact ⋈ fact first, the selective region filter at the very
      // end); with `spark.sql.cbo.{enabled,joinReorder.enabled}=true` the
      // optimizer rebuilds the dimension-first order STATICALLY — the
      // reorder AQE alone cannot do, because AQE only re-plans exchanges
      // it already has, never the join tree itself. PlanShapeSpec pins the
      // optimized join tree: cbo off → literal (lineitem at the bottom);
      // cbo on → lineitem joins LAST. Execution happens inside this fn
      // (landed to scratch parquet) so the CBO confs are restored before
      // the shared session runs anything else.
      // Scale: at 100 TB stats-driven reorder is the difference between
      // one dimension-pruned probe of the fact table and a fact-fact
      // shuffle of the whole replica; ANALYZE cost is one scan amortized
      // over every query on the catalog.
      (s, dir) => {
        cboLand(s, dir)
        val out = graft.util.tempDir("graft_cbo_out_")
        withConfs(s, cboConfs) {
          s.sql(cboStarSql).write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out).orderBy(col("n_name"))
      },
      Some(s"""SELECT n_name, CAST(count(*) AS BIGINT) AS n_lines,
              |       ${util.r2sql("sum(l_extendedprice * (1 - l_discount))")} AS revenue
              |FROM lineitem
              |JOIN orders   ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation   ON c_nationkey = n_nationkey
              |JOIN region   ON n_regionkey = r_regionkey
              |WHERE r_name IN ('EUROPE', 'ASIA')
              |GROUP BY n_name
              |ORDER BY n_name""".stripMargin)
    ),
    Q(
      "sql_cbo_join_reorder",
      // Catalog-statistics-driven reorder, isolated to a 3-TABLE star
      // (r12 verdict #4): the smallest shape where CostBasedJoinReorder's
      // decision is visible and attributable. The query is written in the
      // worst literal order — lineitem ⋈ orders FIRST, the selective
      // customer predicate (mktsegment + negative balance) LAST — and the
      // fixture lands the same three tables TWICE: `graft_cbo3a.*` with
      // ANALYZE TABLE … FOR ALL COLUMNS, `graft_cbo3n.*` without. The
      // registry row executes over the analyzed schema with CBO on
      // (confs restored before return); PlanShapeSpec pins all three
      // leverage points: stats+cbo → customer joins FIRST, cbo without
      // stats → literal order (rowCount is what prices the reorder, not
      // the flag), stats without cbo → literal order. Results are
      // identical in every case — reorder is pure physics — so the
      // oracle is the plain 3-table SQL.
      // Scale: at 100 TB the reordered plan probes the fact table with
      // ~2% of customers instead of shuffling lineitem⋈orders in full;
      // ANALYZE is one scan amortized across the whole catalog.
      (s, dir) => {
        cbo3Land(s, dir)
        val out = graft.util.tempDir("graft_cbo3_out_")
        withConfs(s, cboConfs) {
          s.sql(cbo3StarSql("graft_cbo3a")).write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out).orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
              |       ${util.r2sql("sum(l_extendedprice * (1 - l_discount))")} AS revenue
              |FROM lineitem
              |JOIN orders   ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |WHERE c_mktsegment = 'BUILDING' AND c_acctbal < 0
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    ),
    Q(
      "join_runtime_bloom_filter",
      // Runtime bloom-filter join pruning (round-10): Spark's
      // InjectRuntimeFilter — the shuffle-join sibling of dynamic
      // partition pruning. When one side of a shuffle join carries a
      // selective predicate, the optimizer plans a BloomFilterAggregate
      // over that side's join keys and injects
      // `might_contain(bloom, xxhash64(key))` into the OTHER side's scan,
      // so fact rows that cannot match die at the scan instead of
      // crossing the exchange. At 100 TB this turns a full fact shuffle
      // into a shuffle of the ~matching fraction — the single biggest
      // lever on selective fact-fact joins after partition pruning.
      // Fixture-scale thresholds (app-side scan floor → 0, broadcast off
      // so the join actually shuffles) are set for the eager execution
      // and restored before returning; PlanShapeSpec pins the injected
      // might_contain predicate on the lineitem side with the confs on.
      (s, dir) => {
        val out = graft.util.tempDir("graft_rbf_out_")
        withConfs(s, bloomConfs) {
          bloomFilterJoin(s, dir).write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out).orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
              |       ${util.r2sql("sum(l_extendedprice)")} AS revenue
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |WHERE o_orderpriority = '1-URGENT'
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    ),
    Q(
      "join_storage_partitioned",
      // Storage-partitioned join (round-10, SPARK-37375): both fact
      // sides land in a DSv2 source whose on-disk layout is key-grouped
      // (one dir per `bucket = key % 8`) and whose Scan REPORTS that
      // layout via KeyGroupedPartitioning + HasPartitionKey. Spark then
      // plans the fact-fact join with ZERO exchanges on either side —
      // the connector-reported co-location that Iceberg/Delta use at
      // warehouse scale, and the DSv2-native successor of
      // `sink_bucketed_join`'s Hive bucketing. PlanShapeSpec pins the
      // bare join: SortMergeJoin, no Exchange anywhere beneath it.
      // Scale: landing pays one shuffle per table ONCE; every subsequent
      // join on the bucket key moves nothing — at 100 TB that converts
      // the recurring fact-fact shuffle (the largest single cost in the
      // replica's analytics) into a per-partition merge.
      (s, dir) => {
        val out = graft.util.tempDir("graft_spj_out_")
        withConfs(s, spjConfs) {
          spjJoin(s, dir)
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n_lines"),
              util.r2(sum(col("l_extendedprice"))).as("revenue"))
            .write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out).orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
              |       ${util.r2sql("sum(l_extendedprice)")} AS revenue
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    ),
    Q(
      "join_left_outer",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("c_custkey"), col("o_orderkey"))
      },
      Some("""SELECT c_custkey, c_name, o_orderkey, o_totalprice
             |FROM customer LEFT JOIN (
             |  SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
             |ON c_custkey = o_custkey
             |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin)
    ),
    Q(
      "join_full_outer",
      // Snapshot-vs-replica reconciliation shape (SURVEY.md §2.3 [DAP]):
      // two overlapping order subsets, full outer on the key.
      (s, dir) => {
        val a = Tables(s, dir, "orders").filter(col("o_orderstatus") === "O")
          .select(col("o_orderkey").as("a_key"), col("o_totalprice").as("a_price"))
        val b = Tables(s, dir, "orders").filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .select(col("o_orderkey").as("b_key"), col("o_totalprice").as("b_price"))
        a.join(b, col("a_key") === col("b_key"), "full")
          .select(
            coalesce(col("a_key"), col("b_key")).as("o_orderkey"),
            col("a_price"), col("b_price"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             |       a.o_totalprice AS a_price, b.o_totalprice AS b_price
             |FROM (SELECT * FROM orders WHERE o_orderstatus = 'O') a
             |FULL JOIN (SELECT * FROM orders
             |           WHERE o_orderpriority IN ('1-URGENT','2-HIGH')) b
             |ON a.o_orderkey = b.o_orderkey
             |ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "join_left_semi",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val urgent = Tables(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        c.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey
             |                AND o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)
    ),
    Q(
      "join_left_anti",
      // NOT EXISTS — the CDC delete-application primitive (§2.10 reuses it).
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)
    ),
    Q(
      "join_theta_nl",
      // Non-equi condition: part price within a band of supplier balance.
      // Supplier side is tiny → BroadcastNestedLoopJoin; the big side
      // streams, never shuffles.
      (s, dir) => {
        val p = Tables(s, dir, "part")
        val sup = broadcast(Tables(s, dir, "supplier"))
        p.join(
            sup,
            col("p_retailprice") > col("s_acctbal") &&
              col("p_retailprice") <= col("s_acctbal") + 500)
          .select(col("p_partkey"), col("s_suppkey"))
          .orderBy(col("p_partkey"), col("s_suppkey"))
      },
      Some("""SELECT p_partkey, s_suppkey
             |FROM part JOIN supplier
             |ON p_retailprice > s_acctbal AND p_retailprice <= s_acctbal + 500
             |ORDER BY p_partkey, s_suppkey""".stripMargin)
    ),
    Q(
      "join_allen_relations",
      // Allen's interval algebra census (round-12): classify every pair
      // of sibling shipping intervals (line 1 vs line 2 of the same
      // order, [l_shipdate, l_receiptdate]) into the THIRTEEN Allen
      // relations — before/meets/overlaps/starts/during/finishes, their
      // six inverses, and equals. This is the complete, mutually
      // exclusive vocabulary over interval pairs that overlap-joins
      // collapse to one bit; temporal-reasoning pipelines (conflict
      // detection, schedule validation, event-sequence mining) need the
      // full partition. One shared CASE cascade evaluated by both
      // engines ([[allenCase]]) — ordered so each branch's guards plus
      // the falling-through of earlier branches pin exactly one relation
      // under the dates' total order; all comparisons are exact DATE
      // compares, nothing floats. Scale: an equi-join on the order key
      // followed by a map-side census — O(pairs) with a 13-row result.
      (s, dir) => {
        // the fixture carries only l_shipdate; the interval end is a
        // deterministic quantity-driven transit time (0–29 days)
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_linenumber"),
            col("l_shipdate").cast("date").as("s0"),
            expr("date_add(CAST(l_shipdate AS DATE), CAST(CAST(l_quantity AS BIGINT) % 30 AS INT))")
              .as("e0"))
        val x = li.filter(col("l_linenumber") === 1)
          .select(col("ok"), col("s0").as("xs"), col("e0").as("xe"))
        val y = li.filter(col("l_linenumber") === 2)
          .select(col("ok"), col("s0").as("ys"), col("e0").as("ye"))
        x.join(y, "ok")
          .withColumn("relation", expr(allenCase))
          .groupBy(col("relation"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("relation"))
      },
      Some(s"""WITH x AS (
              |  SELECT l_orderkey AS ok, CAST(l_shipdate AS DATE) AS xs,
              |         CAST(l_shipdate AS DATE) + CAST(CAST(l_quantity AS BIGINT) % 30 AS INTEGER) AS xe
              |  FROM lineitem WHERE l_linenumber = 1),
              |y AS (
              |  SELECT l_orderkey AS ok, CAST(l_shipdate AS DATE) AS ys,
              |         CAST(l_shipdate AS DATE) + CAST(CAST(l_quantity AS BIGINT) % 30 AS INTEGER) AS ye
              |  FROM lineitem WHERE l_linenumber = 2),
              |p AS (
              |  SELECT $allenCase AS relation
              |  FROM x JOIN y USING (ok))
              |SELECT relation, CAST(count(*) AS BIGINT) AS n_pairs
              |FROM p GROUP BY relation ORDER BY relation""".stripMargin)
    ),
    Q(
      "join_interval_overlap_duration",
      // Interval × interval overlap join (round-10): the attribution /
      // exposure shape — order-activity windows (ship date + 6 days)
      // against promo campaign windows, matched on ANY overlap and
      // aggregated by CLIPPED overlap days (least(end) − greatest(start)
      // + 1). Distinct from `join_range_interval` (point ∈ interval):
      // both sides are intervals and the measure is the intersection
      // length. All arithmetic on integer epoch days. Scale: the promo
      // side is O(campaigns) → broadcast; with two LARGE interval sets
      // the same plan buckets both sides by coarse time blocks
      // (the `join_spatial_grid` pattern in 1-D) — never all-pairs.
      (s, dir) => {
        import s.implicits._
        val promos = (0 to 7).map { p =>
          (p.toLong, 9131L + p * 300, 9131L + p * 300 + 45 + p * 15)
        }.toDF("promo_id", "p_start", "p_end") // 9131 = epoch day of 1995-01-01
        val a = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"),
            expr("datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01')")
              .cast("long").as("a_start"))
          .withColumn("a_end", col("a_start") + 6)
        a.join(broadcast(promos),
            col("a_start") <= col("p_end") && col("p_start") <= col("a_end"))
          .withColumn("overlap_days",
            least(col("a_end"), col("p_end"))
              - greatest(col("a_start"), col("p_start")) + 1)
          .groupBy(col("promo_id"))
          .agg(count(lit(1)).as("n_lines"),
            sum(col("overlap_days")).as("total_overlap_days"),
            max(col("overlap_days")).as("max_overlap"))
          .orderBy(col("promo_id"))
      },
      Some("""WITH promos AS (
             |  SELECT p AS promo_id, 9131 + p * 300 AS p_start,
             |         9131 + p * 300 + 45 + p * 15 AS p_end
             |  FROM (SELECT unnest(range(0, 8)) AS p)),
             |a AS (
             |  SELECT l_orderkey,
             |         date_diff('day', DATE '1970-01-01',
             |                   CAST(l_shipdate AS DATE)) AS a_start,
             |         date_diff('day', DATE '1970-01-01',
             |                   CAST(l_shipdate AS DATE)) + 6 AS a_end
             |  FROM lineitem)
             |SELECT promo_id, CAST(count(*) AS BIGINT) AS n_lines,
             |       CAST(sum(least(a_end, p_end) - greatest(a_start, p_start)
             |                + 1) AS BIGINT) AS total_overlap_days,
             |       CAST(max(least(a_end, p_end) - greatest(a_start, p_start)
             |                + 1) AS BIGINT) AS max_overlap
             |FROM a JOIN promos
             |  ON a_start <= p_end AND p_start <= a_end
             |GROUP BY promo_id ORDER BY promo_id""".stripMargin)
    ),
    Q(
      "join_range_interval",
      // Equi key + range residual: the scale-safe range-join form (the equi
      // key bounds the match set; no cartesian blowup).
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val o = Tables(s, dir, "orders")
        li.join(
            o,
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") >= col("o_orderdate") &&
              col("l_shipdate") <= col("o_orderdate") + expr("interval 60 days"))
          .select(col("o_orderkey"), col("l_linenumber"), col("o_orderdate"), col("l_shipdate"))
          .orderBy(col("o_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT o_orderkey, l_linenumber, o_orderdate, l_shipdate
             |FROM lineitem JOIN orders
             |ON l_orderkey = o_orderkey
             |AND l_shipdate >= o_orderdate
             |AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
             |ORDER BY o_orderkey, l_linenumber""".stripMargin)
    ),
    Q(
      "join_exists_flag",
      // Mark join: EXISTS as a COLUMN, not a filter — every customer with
      // a flag for urgent orders. Rewrite: aggregate the inner side to
      // distinct keys, left join, null-test — one semi-shape shuffle, no
      // row duplication from the many-side (joining raw orders would fan
      // out customers before a re-dedup).
      (s, dir) => {
        val urgentKeys = Tables(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")).distinct()
          .withColumn("has_urgent", lit(true))
        Tables(s, dir, "customer")
          .join(urgentKeys, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey"), col("c_mktsegment"),
            coalesce(col("has_urgent"), lit(false)).as("has_urgent"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_mktsegment,
             |       EXISTS (SELECT 1 FROM orders
             |               WHERE o_custkey = c_custkey
             |                 AND o_orderpriority = '1-URGENT') AS has_urgent
             |FROM customer ORDER BY c_custkey""".stripMargin)
    ),
    Q(
      "join_range_bucketed",
      // Range join with NO equi key — the case where a naive plan is a
      // cartesian product. The scale rewrite: quantize time into day
      // buckets, explode each interval to the buckets it covers (≤ 4
      // here), equi-join on the bucket, then apply the exact range
      // residual — an O(|probe|·coverage) shuffle join instead of
      // |probe|×|build| pairs. Output is aggregated per order (event
      // count + exact cents) to keep the gate compact.
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("ts"),
            floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"),
            to_date(col("ts")).as("bucket"))
        // probe windows anchored inside the events month via key arithmetic
        // (the orders fixture predates the events feed): deterministic and
        // identical on both engines
        val orders = Tables(s, dir, "orders")
          .filter(col("o_orderkey") % 100 === 0) // bounded probe set
          .select(col("o_orderkey"),
            expr("cast(date_add(date'2024-01-01', cast(o_orderkey % 27 as int)) as timestamp_ntz)")
              .as("w_start"))
          .withColumn("w_end", col("w_start") + expr("interval 3 days"))
        val exploded = orders.select(col("o_orderkey"), col("w_start"), col("w_end"),
          explode(expr("sequence(to_date(w_start), to_date(w_end), interval 1 day)"))
            .as("bucket"))
        exploded.join(ev, Seq("bucket"))
          .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH probes AS (
             |  SELECT o_orderkey,
             |         CAST(DATE '2024-01-01' + CAST(o_orderkey % 27 AS INT) AS TIMESTAMP) AS w_start
             |  FROM orders WHERE o_orderkey % 100 = 0)
             |SELECT o_orderkey, count(*) AS n_events,
             |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM probes JOIN events
             |  ON ts >= w_start AND ts < w_start + INTERVAL 3 DAY
             |GROUP BY o_orderkey
             |ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "join_asof",
      // As-of join (latest click at-or-before each purchase, per user).
      // Spark has no native ASOF: rewrite as tagged-union + running
      // last_value window — one shuffle on user_id, linear state, no range
      // explosion; survives 100 TB where a range self-join would not.
      // Build side pre-deduped per (user_id, ts) for determinism.
      (s, dir) => {
        val (purchases, clicks) = asofSides(s, dir)
        val tagged = purchases
          .withColumn("click_id", lit(null).cast("long"))
          .withColumn("click_ts", lit(null).cast("timestamp_ntz"))
          .unionByName(clicks)
        // Build rows sort before probes at equal ts (is_probe asc) → "<="
        // inclusive semantics, matching DuckDB ASOF.
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("is_probe"), col("event_id").asc_nulls_first)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tagged
          .withColumn("m_click_id", last(col("click_id"), ignoreNulls = true).over(w))
          .withColumn("m_click_ts", last(col("click_ts"), ignoreNulls = true).over(w))
          .filter(col("is_probe") === 1)
          .select(col("event_id"), col("user_id"), col("ts"),
            col("m_click_ts").as("click_ts"), col("m_click_id").as("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH purchases AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id, ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY user_id, ts)
             |SELECT p.event_id, p.user_id, p.ts,
             |       c.ts AS click_ts, c.click_id
             |FROM purchases p ASOF LEFT JOIN clicks c
             |  ON p.user_id = c.user_id AND c.ts <= p.ts
             |ORDER BY p.event_id""".stripMargin)
    ),
    Q(
      "join_asof_ext",
      // The SAME as-of semantics through the §2.12 extension surface: a
      // custom GraftAsOfJoin LogicalPlan node built by AsOf.joinBackward,
      // lowered by the injected Rule[LogicalPlan] (GraftExtensions) into
      // the single-shuffle union+window plan. Shares join_asof's oracle —
      // the two paths must be value-identical.
      (s, dir) => {
        val (purchases, clicks) = asofSides(s, dir)
        graft.plans.AsOf.joinBackward(
            purchases.select(col("event_id"), col("user_id"), col("ts")),
            clicks.select(col("user_id"), col("ts"), col("click_id")),
            probeKey = "user_id", probeTs = "ts",
            buildKey = "user_id", buildTs = "ts")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_ts").as("click_ts"), col("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH purchases AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id, ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY user_id, ts)
             |SELECT p.event_id, p.user_id, p.ts,
             |       c.ts AS click_ts, c.click_id
             |FROM purchases p ASOF LEFT JOIN clicks c
             |  ON p.user_id = c.user_id AND c.ts <= p.ts
             |ORDER BY p.event_id""".stripMargin)
    ),
    Q(
      "sql_asof_join_syntax",
      // The as-of join as SQL TEXT — the injectParser seam (§2.12, wired
      // in GraftExtensions): `SELECT * FROM p ASOF JOIN b ON KEYS (k)
      // MATCH ts` is a statement island Spark's grammar lacks; the
      // delegating GraftSqlParser owns it, resolves both names through
      // the session catalog, and emits the SAME GraftAsOfJoin logical
      // node the Scala API builds — so the text flows through the same
      // injected lowering and shares join_asof's oracle. One grammar,
      // two front ends, one plan.
      (s, dir) => {
        val (purchases, clicks) = asofSides(s, dir)
        purchases.select(col("event_id"), col("user_id"), col("ts"))
          .createOrReplaceTempView("graft_asof_probe")
        clicks.select(col("user_id"), col("ts"), col("click_id"))
          .createOrReplaceTempView("graft_asof_build")
        s.sql("SELECT * FROM graft_asof_probe ASOF JOIN graft_asof_build " +
            "ON KEYS (user_id) MATCH ts")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_ts").as("click_ts"), col("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH purchases AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id, ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY user_id, ts)
             |SELECT p.event_id, p.user_id, p.ts,
             |       c.ts AS click_ts, c.click_id
             |FROM purchases p ASOF LEFT JOIN clicks c
             |  ON p.user_id = c.user_id AND c.ts <= p.ts
             |ORDER BY p.event_id""".stripMargin)
    ),
    Q(
      "join_asof_broadcast_exec",
      // The as-of join through the FULL custom-operator stack (§2.12):
      // BroadcastAsOfJoin LogicalPlan → injected planner Strategy →
      // BroadcastAsOfJoinExec, a custom SparkPlan whose doExecute
      // broadcasts the (small) build side and binary-searches each probe
      // row against a per-key sorted index. The union+window lowering
      // shuffles the probe side on the key; this operator shuffles
      // NOTHING on the probe side — the winning physical shape when a
      // huge event stream as-of-joins a small reference table. Shares
      // join_asof's oracle: three as-of paths (DSL window, extension
      // rule, custom exec), one answer.
      (s, dir) => {
        val (purchases, clicks) = asofSides(s, dir)
        graft.plans.BroadcastAsOf.joinBackwardBroadcast(
            purchases.select(col("event_id"), col("user_id"), col("ts")),
            clicks.select(col("user_id"), col("ts"), col("click_id")),
            probeKey = "user_id", probeTs = "ts",
            buildKey = "user_id", buildTs = "ts")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_ts").as("click_ts"), col("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH purchases AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id, ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY user_id, ts)
             |SELECT p.event_id, p.user_id, p.ts,
             |       c.ts AS click_ts, c.click_id
             |FROM purchases p ASOF LEFT JOIN clicks c
             |  ON p.user_id = c.user_id AND c.ts <= p.ts
             |ORDER BY p.event_id""".stripMargin)
    ),
    Q(
      "join_asof_multikey_ext",
      // Composite-key as-of through the extension node: CD2-style entity
      // streams key on a TUPLE (namespace, table, id), not one column —
      // here (user_id, segment) where segment = props.k % 2, with
      // different column names on the build side to exercise the rename
      // path. One shuffle on the whole key tuple; a single-column key
      // would wrongly match the same user across segments.
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val seg = get_json_object(col("props"), "$.k").cast("long") % 2
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), seg.as("seg"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id").as("uid"), seg.as("cseg"), col("ts"))
          .agg(max(col("event_id")).as("click_id"))
        graft.plans.AsOf.join(purchases, clicks,
            Seq("user_id", "seg"), "ts", Seq("uid", "cseg"), "ts",
            "backward", None)
          .select(col("event_id"), col("user_id"), col("seg"), col("ts"),
            col("asof_ts").as("click_ts"), col("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH purchases AS (
             |  SELECT event_id, user_id,
             |         CAST(props->>'$.k' AS BIGINT) % 2 AS seg, ts
             |  FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id AS uid, CAST(props->>'$.k' AS BIGINT) % 2 AS cseg,
             |         ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY 1, 2, 3)
             |SELECT p.event_id, p.user_id, p.seg, p.ts,
             |       c.ts AS click_ts, c.click_id
             |FROM purchases p ASOF LEFT JOIN clicks c
             |  ON p.user_id = c.uid AND p.seg = c.cseg AND c.ts <= p.ts
             |ORDER BY p.event_id""".stripMargin)
    ),
    Q(
      "join_asof_multikey_broadcast",
      // The SAME composite-key as-of through the custom broadcast exec:
      // BroadcastAsOfJoinExec now indexes on the full key TUPLE (packed
      // Array[Long] with value equality), so the tuple-keyed CD2-style
      // streams get the zero-probe-shuffle path too — the build index is
      // assembled ONCE on the driver inside the BroadcastExchange
      // (AsOfIndexMode.transform) and shipped ready to binary-search.
      // Shares join_asof_multikey_ext's oracle: two physical shapes, one
      // answer.
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val seg = get_json_object(col("props"), "$.k").cast("long") % 2
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), seg.as("seg"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id").as("uid"), seg.as("cseg"), col("ts"))
          .agg(max(col("event_id")).as("click_id"))
        graft.plans.BroadcastAsOf.joinBackwardBroadcast(purchases, clicks,
            Seq("user_id", "seg"), "ts", Seq("uid", "cseg"), "ts")
          .select(col("event_id"), col("user_id"), col("seg"), col("ts"),
            col("asof_ts").as("click_ts"), col("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH purchases AS (
             |  SELECT event_id, user_id,
             |         CAST(props->>'$.k' AS BIGINT) % 2 AS seg, ts
             |  FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id AS uid, CAST(props->>'$.k' AS BIGINT) % 2 AS cseg,
             |         ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY 1, 2, 3)
             |SELECT p.event_id, p.user_id, p.seg, p.ts,
             |       c.ts AS click_ts, c.click_id
             |FROM purchases p ASOF LEFT JOIN clicks c
             |  ON p.user_id = c.uid AND p.seg = c.cseg AND c.ts <= p.ts
             |ORDER BY p.event_id""".stripMargin)
    ),
    Q(
      "join_asof_forward_broadcast",
      // Forward as-of through the custom broadcast exec (r7): the SAME
      // (key, ts)-sorted broadcast index answers forward probes with a
      // lower-bound search — earliest click at-or-after each purchase,
      // zero probe-side shuffle. Shares join_asof_forward's oracle: the
      // window lowering and the custom exec must agree in both
      // directions.
      (s, dir) => {
        val (purchases, clicks) = asofSides(s, dir)
        graft.plans.BroadcastAsOf.joinForwardBroadcast(
            purchases.select(col("event_id"), col("user_id"), col("ts")),
            clicks.select(col("user_id"), col("ts"), col("click_id")),
            probeKey = "user_id", probeTs = "ts",
            buildKey = "user_id", buildTs = "ts")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_ts").as("click_ts"), col("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH purchases AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id, ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY user_id, ts)
             |SELECT p.event_id, p.user_id, p.ts,
             |       c.ts AS click_ts, c.click_id
             |FROM purchases p ASOF LEFT JOIN clicks c
             |  ON p.user_id = c.user_id AND c.ts >= p.ts
             |ORDER BY p.event_id""".stripMargin)
    ),
    Q(
      "join_asof_forward",
      // Forward as-of: EARLIEST click at-or-after each purchase, per user —
      // the mirror of join_asof, same union+window rewrite (one shuffle on
      // user_id, linear state, no range explosion). Probes sort BEFORE
      // build rows at equal ts (is_probe desc) so the equal-ts click falls
      // inside the probe's [current, following) frame → inclusive ">=",
      // matching DuckDB's forward ASOF.
      (s, dir) => {
        val (purchases, clicks) = asofSides(s, dir)
        val tagged = purchases
          .withColumn("click_id", lit(null).cast("long"))
          .withColumn("click_ts", lit(null).cast("timestamp_ntz"))
          .unionByName(clicks)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("is_probe").desc, col("event_id").asc_nulls_last)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        tagged
          .withColumn("m_click_id", first(col("click_id"), ignoreNulls = true).over(w))
          .withColumn("m_click_ts", first(col("click_ts"), ignoreNulls = true).over(w))
          .filter(col("is_probe") === 1)
          .select(col("event_id"), col("user_id"), col("ts"),
            col("m_click_ts").as("click_ts"), col("m_click_id").as("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH purchases AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id, ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY user_id, ts)
             |SELECT p.event_id, p.user_id, p.ts,
             |       c.ts AS click_ts, c.click_id
             |FROM purchases p ASOF LEFT JOIN clicks c
             |  ON p.user_id = c.user_id AND c.ts >= p.ts
             |ORDER BY p.event_id""".stripMargin)
    ),
    Q(
      "join_asof_tolerance",
      // Backward as-of with a max-gap tolerance (pandas merge_asof
      // `tolerance`): a match older than 1 hour is discarded, not carried
      // forward — the practical guard against joining against stale state.
      // Same single-shuffle union+window rewrite; the tolerance is a
      // post-projection, free at any scale.
      (s, dir) => {
        val (purchases, clicks) = asofSides(s, dir)
        val tagged = purchases
          .withColumn("click_id", lit(null).cast("long"))
          .withColumn("click_ts", lit(null).cast("timestamp_ntz"))
          .unionByName(clicks)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("is_probe"), col("event_id").asc_nulls_first)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val inTol = col("m_click_ts") >= col("ts") - expr("interval 1 hour")
        tagged
          .withColumn("m_click_id", last(col("click_id"), ignoreNulls = true).over(w))
          .withColumn("m_click_ts", last(col("click_ts"), ignoreNulls = true).over(w))
          .filter(col("is_probe") === 1)
          .select(col("event_id"), col("user_id"), col("ts"),
            when(inTol, col("m_click_ts")).as("click_ts"),
            when(inTol, col("m_click_id")).as("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH purchases AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id, ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY user_id, ts)
             |SELECT p.event_id, p.user_id, p.ts,
             |       CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR THEN c.ts END AS click_ts,
             |       CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR THEN c.click_id END AS click_id
             |FROM purchases p ASOF LEFT JOIN clicks c
             |  ON p.user_id = c.user_id AND c.ts <= p.ts
             |ORDER BY p.event_id""".stripMargin)
    ),
    Q(
      "join_asof_tolerance_broadcast",
      // Backward-with-tolerance through the custom broadcast exec (r7):
      // the max-gap check runs INSIDE the exec right after the binary
      // search (micros arithmetic on the matched index entry), so the
      // tolerance variant keeps the zero-probe-shuffle shape too. Shares
      // join_asof_tolerance's oracle — with the exec nulling BOTH payload
      // and ts on an out-of-tolerance match, exactly like the window
      // lowering's post-projection.
      (s, dir) => {
        val (purchases, clicks) = asofSides(s, dir)
        graft.plans.BroadcastAsOf.joinBackwardToleranceBroadcast(
            purchases.select(col("event_id"), col("user_id"), col("ts")),
            clicks.select(col("user_id"), col("ts"), col("click_id")),
            probeKey = "user_id", probeTs = "ts",
            buildKey = "user_id", buildTs = "ts",
            toleranceMicros = 3600L * 1000000L)
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_ts").as("click_ts"), col("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH purchases AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id, ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY user_id, ts)
             |SELECT p.event_id, p.user_id, p.ts,
             |       CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR THEN c.ts END AS click_ts,
             |       CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR THEN c.click_id END AS click_id
             |FROM purchases p ASOF LEFT JOIN clicks c
             |  ON p.user_id = c.user_id AND c.ts <= p.ts
             |ORDER BY p.event_id""".stripMargin)
    ),
    Q(
      "join_asof_nearest_broadcast",
      // Nearest as-of through the custom broadcast exec (r7): one
      // backward + one forward binary search per probe over the SAME
      // prebuilt index, closer candidate wins, ties to at-or-before —
      // completing the exec's direction matrix (backward / forward /
      // tolerance / nearest, single + composite keys). Shares
      // join_asof_nearest's oracle.
      (s, dir) => {
        val (purchases, clicks) = asofSides(s, dir)
        graft.plans.BroadcastAsOf.joinNearestBroadcast(
            purchases.select(col("event_id"), col("user_id"), col("ts")),
            clicks.select(col("user_id"), col("ts"), col("click_id")),
            probeKey = "user_id", probeTs = "ts",
            buildKey = "user_id", buildTs = "ts")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_ts").as("click_ts"), col("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH purchases AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id, ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY user_id, ts),
             |b AS (
             |  SELECT p.event_id, p.user_id, p.ts, c.ts AS b_ts, c.click_id AS b_id
             |  FROM purchases p ASOF LEFT JOIN clicks c
             |    ON p.user_id = c.user_id AND c.ts <= p.ts),
             |f AS (
             |  SELECT p.event_id, c.ts AS f_ts, c.click_id AS f_id
             |  FROM purchases p ASOF LEFT JOIN clicks c
             |    ON p.user_id = c.user_id AND c.ts >= p.ts)
             |SELECT b.event_id, b.user_id, b.ts,
             |       CASE WHEN f.f_ts IS NULL THEN b.b_ts
             |            WHEN b.b_ts IS NULL THEN f.f_ts
             |            WHEN epoch_us(b.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(b.ts)
             |            THEN b.b_ts ELSE f.f_ts END AS click_ts,
             |       CASE WHEN f.f_ts IS NULL THEN b.b_id
             |            WHEN b.b_ts IS NULL THEN f.f_id
             |            WHEN epoch_us(b.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(b.ts)
             |            THEN b.b_id ELSE f.f_id END AS click_id
             |FROM b JOIN f USING (event_id)
             |ORDER BY event_id""".stripMargin)
    ),
    Q(
      "join_asof_nearest",
      // Nearest as-of: the closest click in EITHER direction, ties to the
      // at-or-before side. Both directional candidates come out of one
      // tagged union with two window passes over the same user_id
      // partitioning — a second SortExec but still a single Exchange, so
      // the 100 TB cost is one shuffle, same as the one-directional forms.
      (s, dir) => {
        val (purchases, clicks) = asofSides(s, dir)
        val tagged = purchases
          .withColumn("click_id", lit(null).cast("long"))
          .withColumn("click_ts", lit(null).cast("timestamp_ntz"))
          .unionByName(clicks)
        val wB = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("is_probe"), col("event_id").asc_nulls_first)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wF = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("is_probe").desc, col("event_id").asc_nulls_last)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        // Distances compared as NTZ-subtraction intervals (day-time interval
        // is orderable) — no cast through TIMESTAMP, so the tie-break cannot
        // shift under a non-UTC session time zone the way
        // unix_micros(ntz.cast("timestamp")) would.
        val pickB = col("f_ts").isNull ||
          (col("b_ts").isNotNull &&
            (col("ts") - col("b_ts")) <= (col("f_ts") - col("ts")))
        tagged
          .withColumn("b_id", last(col("click_id"), ignoreNulls = true).over(wB))
          .withColumn("b_ts", last(col("click_ts"), ignoreNulls = true).over(wB))
          .withColumn("f_id", first(col("click_id"), ignoreNulls = true).over(wF))
          .withColumn("f_ts", first(col("click_ts"), ignoreNulls = true).over(wF))
          .filter(col("is_probe") === 1)
          .select(col("event_id"), col("user_id"), col("ts"),
            when(pickB, col("b_ts")).otherwise(col("f_ts")).as("click_ts"),
            when(pickB, col("b_id")).otherwise(col("f_id")).as("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH purchases AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id, ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY user_id, ts),
             |b AS (
             |  SELECT p.event_id, p.user_id, p.ts, c.ts AS b_ts, c.click_id AS b_id
             |  FROM purchases p ASOF LEFT JOIN clicks c
             |    ON p.user_id = c.user_id AND c.ts <= p.ts),
             |f AS (
             |  SELECT p.event_id, c.ts AS f_ts, c.click_id AS f_id
             |  FROM purchases p ASOF LEFT JOIN clicks c
             |    ON p.user_id = c.user_id AND c.ts >= p.ts)
             |SELECT b.event_id, b.user_id, b.ts,
             |       CASE WHEN f.f_ts IS NULL THEN b.b_ts
             |            WHEN b.b_ts IS NULL THEN f.f_ts
             |            WHEN epoch_us(b.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(b.ts)
             |            THEN b.b_ts ELSE f.f_ts END AS click_ts,
             |       CASE WHEN f.f_ts IS NULL THEN b.b_id
             |            WHEN b.b_ts IS NULL THEN f.f_id
             |            WHEN epoch_us(b.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(b.ts)
             |            THEN b.b_id ELSE f.f_id END AS click_id
             |FROM b JOIN f USING (event_id)
             |ORDER BY event_id""".stripMargin)
    ),
    Q(
      "join_asof_forward_ext",
      // Forward as-of through the §2.12 extension surface: the SAME
      // GraftAsOfJoin node as join_asof_ext with direction="forward",
      // lowered by the injected rule into first(ignoreNulls) over the
      // following frame. Shares join_asof_forward's oracle — the two paths
      // must be value-identical.
      (s, dir) => {
        val (purchases, clicks) = asofSides(s, dir)
        graft.plans.AsOf.joinForward(
            purchases.select(col("event_id"), col("user_id"), col("ts")),
            clicks.select(col("user_id"), col("ts"), col("click_id")),
            probeKey = "user_id", probeTs = "ts",
            buildKey = "user_id", buildTs = "ts")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_ts").as("click_ts"), col("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH purchases AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id, ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY user_id, ts)
             |SELECT p.event_id, p.user_id, p.ts,
             |       c.ts AS click_ts, c.click_id
             |FROM purchases p ASOF LEFT JOIN clicks c
             |  ON p.user_id = c.user_id AND c.ts >= p.ts
             |ORDER BY p.event_id""".stripMargin)
    ),
    Q(
      "join_asof_tolerance_ext",
      // Toleranced backward as-of through the extension surface: the node's
      // tolerance field nulls any match older than 1 hour during lowering.
      // Shares join_asof_tolerance's oracle.
      (s, dir) => {
        val (purchases, clicks) = asofSides(s, dir)
        graft.plans.AsOf.joinBackward(
            purchases.select(col("event_id"), col("user_id"), col("ts")),
            clicks.select(col("user_id"), col("ts"), col("click_id")),
            probeKey = "user_id", probeTs = "ts",
            buildKey = "user_id", buildTs = "ts",
            tolerance = Some("INTERVAL 1 HOUR"))
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_ts").as("click_ts"), col("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH purchases AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id, ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY user_id, ts)
             |SELECT p.event_id, p.user_id, p.ts,
             |       CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR THEN c.ts END AS click_ts,
             |       CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR THEN c.click_id END AS click_id
             |FROM purchases p ASOF LEFT JOIN clicks c
             |  ON p.user_id = c.user_id AND c.ts <= p.ts
             |ORDER BY p.event_id""".stripMargin)
    ),
    Q(
      "join_asof_nearest_ext",
      // Nearest as-of through the extension surface: direction="nearest"
      // computes both directional candidates over one Exchange and picks by
      // NTZ-interval distance, ties backward. Shares join_asof_nearest's
      // oracle.
      (s, dir) => {
        val (purchases, clicks) = asofSides(s, dir)
        graft.plans.AsOf.joinNearest(
            purchases.select(col("event_id"), col("user_id"), col("ts")),
            clicks.select(col("user_id"), col("ts"), col("click_id")),
            probeKey = "user_id", probeTs = "ts",
            buildKey = "user_id", buildTs = "ts")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_ts").as("click_ts"), col("click_id"))
          .orderBy(col("event_id"))
      },
      Some("""WITH purchases AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |clicks AS (
             |  SELECT user_id, ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY user_id, ts),
             |b AS (
             |  SELECT p.event_id, p.user_id, p.ts, c.ts AS b_ts, c.click_id AS b_id
             |  FROM purchases p ASOF LEFT JOIN clicks c
             |    ON p.user_id = c.user_id AND c.ts <= p.ts),
             |f AS (
             |  SELECT p.event_id, c.ts AS f_ts, c.click_id AS f_id
             |  FROM purchases p ASOF LEFT JOIN clicks c
             |    ON p.user_id = c.user_id AND c.ts >= p.ts)
             |SELECT b.event_id, b.user_id, b.ts,
             |       CASE WHEN f.f_ts IS NULL THEN b.b_ts
             |            WHEN b.b_ts IS NULL THEN f.f_ts
             |            WHEN epoch_us(b.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(b.ts)
             |            THEN b.b_ts ELSE f.f_ts END AS click_ts,
             |       CASE WHEN f.f_ts IS NULL THEN b.b_id
             |            WHEN b.b_ts IS NULL THEN f.f_id
             |            WHEN epoch_us(b.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(b.ts)
             |            THEN b.b_id ELSE f.f_id END AS click_id
             |FROM b JOIN f USING (event_id)
             |ORDER BY event_id""".stripMargin)
    ),
    Q(
      "subq_scalar_correlated",
      // Correlated scalar subquery written as SQL over the replica catalog:
      // Catalyst decorrelates (RewriteCorrelatedScalarSubquery) into an
      // aggregate + join — no per-row re-execution, which is the only
      // shape that survives scale. SURVEY.md §4.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(s"""SELECT o_orderkey, o_custkey, o_totalprice
                 |FROM orders o
                 |WHERE o_totalprice > 1.5 * (
                 |  SELECT avg(o2.o_totalprice) FROM orders o2
                 |  WHERE o2.o_custkey = o.o_custkey)
                 |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders o
             |WHERE o_totalprice > 1.5 * (
             |  SELECT avg(o2.o_totalprice) FROM orders o2
             |  WHERE o2.o_custkey = o.o_custkey)
             |ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "subq_in_exists",
      // IN + NOT EXISTS subqueries in SQL form — Catalyst rewrites to
      // left-semi / left-anti joins (same physical plans as the DSL
      // variants join_left_semi / join_left_anti).
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(s"""SELECT c_custkey, c_name
                 |FROM customer
                 |WHERE c_custkey IN (SELECT o_custkey FROM orders
                 |                    WHERE o_orderpriority = '1-URGENT')
                 |  AND NOT EXISTS (SELECT 1 FROM orders
                 |                  WHERE o_custkey = c_custkey
                 |                    AND o_orderstatus = 'P')
                 |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name
             |FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders
             |                    WHERE o_orderpriority = '1-URGENT')
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey
             |                    AND o_orderstatus = 'P')
             |ORDER BY c_custkey""".stripMargin)
    ),
    Q(
      "sql_tpch_q3",
      // TPC-H Q3 (shipping priority), adapted to the fixture schema — the
      // canonical 3-way star probe: one selective dimension filter
      // (BUILDING customers, ~1/5) broadcast into orders, the result
      // broadcast into lineitem, then a top-10 by revenue. Revenue is
      // summed in exact CENTS (BIGINT) so the partition order of the
      // float adds can never flip the ranking — at any scale the plan is
      // two broadcast hash joins + one partial agg + TakeOrdered, with
      // zero large-table shuffles until the final 10-row merge.
      (s, dir) => {
        val cust = Tables(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val ord = Tables(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        val li = Tables(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp_ntz"))
          .select(col("l_orderkey"),
            expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
              .as("rev_cents"))
        li.join(broadcast(ord.join(broadcast(cust),
            col("o_custkey") === col("c_custkey"))),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(sum(col("rev_cents")).as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM customer, orders, lineitem
             |WHERE c_mktsegment = 'BUILDING'
             |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
             |  AND o_orderdate < TIMESTAMP '1998-01-01'
             |  AND l_shipdate > TIMESTAMP '1998-01-01'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""".stripMargin)
    ),
    Q(
      "sql_tpch_q5",
      // TPC-H Q5 (local supplier volume): the 6-way snowflake — region →
      // nation → (customer, supplier) dimension chain folded into the
      // orders⋈lineitem fact spine, with the co-nation constraint
      // (c_nationkey = s_nationkey) that defeats naive join orders.
      // Written as SQL so Catalyst's cost-based reorder + AQE pick the
      // join order; the dimension chain is broadcast-sized at every
      // scale, so the only shuffle is the lineitem⋈orders key exchange.
      // Exact-cents revenue again makes the per-nation sums
      // order-independent.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""SELECT n_name,
                |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
                |FROM customer, orders, lineitem, supplier, nation, region
                |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
                |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
                |  AND r_name = 'ASIA'
                |  AND o_orderdate >= TIMESTAMP '1996-01-01'
                |  AND o_orderdate < TIMESTAMP '1999-01-01'
                |GROUP BY n_name
                |ORDER BY revenue_cents DESC, n_name""".stripMargin)
      },
      Some("""SELECT n_name,
             |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM customer, orders, lineitem, supplier, nation, region
             |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |  AND r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1999-01-01'
             |GROUP BY n_name
             |ORDER BY revenue_cents DESC, n_name""".stripMargin)
    ),
    Q(
      "sql_tpch_q10",
      // TPC-H Q10 (returned-item reporting, round-9 addition): customers
      // ranked by revenue lost to returns in a quarter. The return-flag
      // filter is pushed into the lineitem scan, orders' date window
      // prunes the fact spine, the customer/nation dimension chain is
      // broadcast-sized, and the final top-20 is a TakeOrdered over
      // per-customer partial sums — never a global sort. Revenue in
      // exact cents keeps the ranking partition-order-free at any scale.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""SELECT c_custkey, c_name, n_name,
                |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
                |FROM customer, orders, lineitem, nation
                |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
                |  AND c_nationkey = n_nationkey
                |  AND l_returnflag = 'R'
                |  AND o_orderdate >= TIMESTAMP '1996-07-01'
                |  AND o_orderdate < TIMESTAMP '1996-10-01'
                |GROUP BY c_custkey, c_name, n_name
                |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name, n_name,
             |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM customer, orders, lineitem, nation
             |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             |  AND c_nationkey = n_nationkey
             |  AND l_returnflag = 'R'
             |  AND o_orderdate >= TIMESTAMP '1996-07-01'
             |  AND o_orderdate < TIMESTAMP '1996-10-01'
             |GROUP BY c_custkey, c_name, n_name
             |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin)
    ),
    Q(
      "sql_tpch_q18",
      // TPC-H Q18 (large-volume customers, round-9 addition): orders
      // whose total quantity exceeds a threshold — the canonical
      // HAVING-subquery-feeds-IN shape. Catalyst plans the inner
      // aggregate once and semi-joins it into the fact spine; quantity
      // is integer-valued in the fixture so the HAVING sum is exact.
      // At scale both aggregations are partial+final over the same
      // l_orderkey exchange — AQE reuses the shuffle.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""SELECT c_custkey, o_orderkey, o_orderdate,
                |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
                |FROM customer, orders, lineitem
                |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
                |  AND o_orderkey IN (
                |    SELECT l_orderkey FROM lineitem
                |    GROUP BY l_orderkey
                |    HAVING sum(CAST(l_quantity AS BIGINT)) > 150)
                |GROUP BY c_custkey, o_orderkey, o_orderdate
                |ORDER BY total_qty DESC, o_orderkey LIMIT 50""".stripMargin)
      },
      Some("""SELECT c_custkey, o_orderkey, o_orderdate,
             |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
             |FROM customer, orders, lineitem
             |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
             |  AND o_orderkey IN (
             |    SELECT l_orderkey FROM lineitem
             |    GROUP BY l_orderkey
             |    HAVING sum(CAST(l_quantity AS BIGINT)) > 150)
             |GROUP BY c_custkey, o_orderkey, o_orderdate
             |ORDER BY total_qty DESC, o_orderkey LIMIT 50""".stripMargin)
    ),
    Q(
      "sql_tpch_q7",
      // TPC-H Q7 (volume shipping, round-9): bilateral trade between two
      // nations by ship year — the two-role dimension pattern (nation
      // joins TWICE, as supplier's and customer's country) plus a
      // disjunctive cross-nation predicate that defeats naive pushdown.
      // Both nation legs broadcast; the only big exchange is the fact
      // spine join. Exact-cents revenue per (supp, cust, year) cell.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                |       CAST(year(l_shipdate) AS BIGINT) AS yr,
                |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
                |FROM supplier, lineitem, orders, customer, nation n1, nation n2
                |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
                |  AND c_custkey = o_custkey
                |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
                |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
                |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
                |ORDER BY supp_nation, cust_nation, yr""".stripMargin)
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |       CAST(year(l_shipdate) AS BIGINT) AS yr,
             |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM supplier, lineitem, orders, customer, nation n1, nation n2
             |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
             |  AND c_custkey = o_custkey
             |  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
             |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
             |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
             |ORDER BY supp_nation, cust_nation, yr""".stripMargin)
    ),
    Q(
      "sql_tpch_q14",
      // TPC-H Q14 (promotion effect, round-9): promo share of revenue per
      // ship month — the conditional-aggregate-over-join shape
      // (CASE inside sum). Part is broadcast-sized; revenue stays exact
      // cents and the single final division is pinned to e6 so the share
      // is hash-stable. At scale: one fact exchange, everything else
      // map-side.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""WITH j AS (
                |  SELECT date_trunc('month', l_shipdate) AS mon,
                |         CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS cents,
                |         CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS is_promo
                |  FROM lineitem JOIN part ON l_partkey = p_partkey
                |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                |    AND l_shipdate < TIMESTAMP '1998-01-01')
                |SELECT CAST(mon AS DATE) AS mon,
                |       CAST(sum(is_promo * cents) AS BIGINT) AS promo_cents,
                |       CAST(sum(cents) AS BIGINT) AS total_cents,
                |       CAST(floor(CAST(sum(is_promo * cents) AS DOUBLE)
                |                  / CAST(sum(cents) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS promo_share_e6
                |FROM j GROUP BY mon ORDER BY mon""".stripMargin)
      },
      Some("""WITH j AS (
             |  SELECT date_trunc('month', l_shipdate) AS mon,
             |         CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS cents,
             |         CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS is_promo
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |    AND l_shipdate < TIMESTAMP '1998-01-01')
             |SELECT CAST(mon AS DATE) AS mon,
             |       CAST(sum(is_promo * cents) AS BIGINT) AS promo_cents,
             |       CAST(sum(cents) AS BIGINT) AS total_cents,
             |       CAST(floor(CAST(sum(is_promo * cents) AS DOUBLE)
             |                  / CAST(sum(cents) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS promo_share_e6
             |FROM j GROUP BY mon ORDER BY mon""".stripMargin)
    ),
    Q(
      "subq_count_bug",
      // The COUNT-on-empty decorrelation pitfall (the classic "COUNT
      // bug"): a correlated `(SELECT count(*) ...)` must yield 0 — not
      // NULL — for outer rows with NO matching inner rows, so naive
      // inner-join decorrelation is wrong; the correct plan is an OUTER
      // join + null-to-zero projection, which is exactly what Catalyst's
      // RewriteCorrelatedScalarSubquery emits. Customers with zero
      // urgent orders (the count=0 band) are the rows that only survive
      // when the engine gets this right.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""SELECT c_custkey, n_urgent
                |FROM (SELECT c_custkey,
                |             (SELECT count(*) FROM orders o
                |              WHERE o.o_custkey = c.c_custkey
                |                AND o.o_orderpriority = '1-URGENT') AS n_urgent
                |      FROM customer c) t
                |WHERE n_urgent <= 1
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, n_urgent
             |FROM (SELECT c_custkey,
             |             (SELECT count(*) FROM orders o
             |              WHERE o.o_custkey = c.c_custkey
             |                AND o.o_orderpriority = '1-URGENT') AS n_urgent
             |      FROM customer c) t
             |WHERE n_urgent <= 1
             |ORDER BY c_custkey""".stripMargin)
    ),
    Q(
      "join_lateral_topn",
      // LATERAL correlated subquery: per-customer order stats computed by a
      // subquery that references the outer row. Catalyst decorrelates it
      // into an aggregate + join (same survivable shape as
      // subq_scalar_correlated) — never a per-row re-execution.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(s"""SELECT c_custkey, s.max_price, s.n_orders
                 |FROM customer,
                 |LATERAL (SELECT ${graft.util.r2sql("max(o_totalprice)")} AS max_price,
                 |                count(o_orderkey) AS n_orders
                 |         FROM orders WHERE o_custkey = c_custkey) s
                 |ORDER BY c_custkey""".stripMargin)
      },
      Some(s"""SELECT c_custkey, s.max_price, s.n_orders
              |FROM customer,
              |LATERAL (SELECT ${util.r2sql("max(o_totalprice)")} AS max_price,
              |                count(o_orderkey) AS n_orders
              |         FROM orders WHERE o_custkey = c_custkey) s
              |ORDER BY c_custkey""".stripMargin)
    ),
    Q(
      "sql_recursive_cte",
      // WITH RECURSIVE (new in Spark 4): recursion generates the month
      // dimension driver-free, then a left join + group rolls orders onto
      // it — the calendar-spine pattern. The same SQL text runs on both
      // engines; Spark plans the recursion as UnionLoop.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""WITH RECURSIVE months(m) AS (
                |  SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12)
                |SELECT m, count(o_orderkey) AS n_orders
                |FROM months LEFT JOIN orders ON month(o_orderdate) = m
                |GROUP BY m ORDER BY m""".stripMargin)
          .select(col("m").cast("long").as("m"), col("n_orders"))
      },
      Some("""WITH RECURSIVE months(m) AS (
             |  SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12)
             |SELECT CAST(m AS BIGINT) AS m, count(o_orderkey) AS n_orders
             |FROM months LEFT JOIN orders ON month(o_orderdate) = m
             |GROUP BY m ORDER BY m""".stripMargin)
    ),
    Q(
      "sql_recursive_bom",
      // Bill-of-materials explosion via WITH RECURSIVE (round-9): the
      // recursive pattern sql_recursive_cte's calendar spine does NOT
      // cover — an aggregate carried ALONG the recursion (quantity
      // multiplies down each containment path, bounded depth). The
      // containment forest is derived deterministically (parent =
      // child div 4, qty = child mod 4 + 1 — ~log₄ depth), the recursion
      // explodes from root 0 accumulating the path product, and a final
      // rollup sums multiplicities per depth. Spark plans the recursion
      // as UnionLoop with a per-iteration join on the parent key — each
      // iteration is one bounded equi-join shuffle, O(frontier) rows.
      (s, dir) => graft.Catalog.sql(s, dir, bomSql),
      Some(bomSql)
    ),
    Q(
      "sql_window_tvf",
      // Batch `window()` time-bucketing TVF (round-9): the SAME
      // window(ts, '30 minutes') expression Structured Streaming
      // aggregates on, exercised on a BATCH frame through SQL — one
      // query text for both replay and live paths is the point of the
      // API. Oracle states the semantics as exact µs floor division
      // (tumbling bucket = ts − ts mod 30min).
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(
          """SELECT unix_micros(CAST(window.start AS TIMESTAMP)) AS bucket_us,
            |       CAST(count(*) AS BIGINT) AS n_events,
            |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            |FROM events
            |GROUP BY window(ts, '30 minutes')
            |ORDER BY bucket_us""".stripMargin)
      },
      Some("""SELECT CAST(epoch_us(ts) - epoch_us(ts) % 1800000000 AS BIGINT) AS bucket_us,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "sql_session_window_tvf",
      // Batch `session_window()` TVF (round-9): the dynamic-gap session
      // operator Structured Streaming aggregates on, driven on a BATCH
      // frame — sessions close after 30 idle minutes, exactly the
      // stream_session_window semantics, replayable on history with the
      // same expression. The oracle can't call the TVF, so it derives
      // sessions with the canonical gaps-and-islands rewrite (lag → gap
      // flag → running sum) and reproduces [start, end+gap) bounds —
      // the identity between the two formulations is what this row
      // hash-certifies (win_session_gaps pins the manual form; this
      // pins Spark's native operator against it).
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(
          """SELECT user_id,
            |       unix_micros(CAST(session_window.start AS TIMESTAMP)) AS s_us,
            |       unix_micros(CAST(session_window.end AS TIMESTAMP)) AS e_us,
            |       CAST(count(*) AS BIGINT) AS n_events
            |FROM events
            |GROUP BY user_id, session_window(ts, '30 minutes')
            |ORDER BY user_id, s_us""".stripMargin)
      },
      Some("""WITH m AS (
             |  SELECT user_id, ts,
             |         CASE WHEN lag(ts) OVER w IS NULL
             |                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
             |              THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |g AS (
             |  SELECT user_id, ts,
             |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, new_s
             |                          ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM m)
             |SELECT user_id,
             |       CAST(min(epoch_us(ts)) AS BIGINT) AS s_us,
             |       CAST(max(epoch_us(ts)) + 1800000000 AS BIGINT) AS e_us,
             |       CAST(count(*) AS BIGINT) AS n_events
             |FROM g GROUP BY user_id, sid
             |ORDER BY user_id, s_us""".stripMargin)
    ),
    Q(
      "sql_values_clause",
      // Inline VALUES table constructor (round-9): the literal dimension
      // pattern — a tiny mapping table authored in the query text itself,
      // joined (broadcast, trivially) against the fact. One shared text;
      // the planner folds the VALUES into a LocalRelation, so the join
      // costs one broadcast of constants.
      (s, dir) => graft.Catalog.sql(s, dir, valuesSql),
      Some(valuesSql)
    ),
    Q(
      "sql_unpivot_clause",
      // SQL-text UNPIVOT clause (round-9): the wide→long rotation as a
      // parser-level construct (agg_unpivot covers the DF `unpivot` API;
      // this pins the SQL surface). Plans as a single Expand over the
      // aggregated input — no join, no extra scan per metric. The oracle
      // states the semantics as the explicit 3-way UNION ALL.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(
          """SELECT o_orderpriority, metric, val FROM (
            |  SELECT o_orderpriority,
            |         CAST(count(*) AS BIGINT) AS n_orders,
            |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
            |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
            |  FROM orders GROUP BY o_orderpriority)
            |UNPIVOT (val FOR metric IN (n_orders, n_customers, cents))
            |ORDER BY o_orderpriority, metric""".stripMargin)
      },
      Some("""WITH wide AS (
             |  SELECT o_orderpriority,
             |         CAST(count(*) AS BIGINT) AS n_orders,
             |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
             |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
             |  FROM orders GROUP BY o_orderpriority)
             |SELECT o_orderpriority, metric, val FROM (
             |  SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS val FROM wide
             |  UNION ALL
             |  SELECT o_orderpriority, 'n_customers', n_customers FROM wide
             |  UNION ALL
             |  SELECT o_orderpriority, 'cents', cents FROM wide) u
             |ORDER BY o_orderpriority, metric""".stripMargin)
    ),
    Q(
      "sql_session_dynamic_gap",
      // PER-EVENT dynamic session gaps (round-9): session_window with a
      // gap EXPRESSION — purchases hold a session open 60 minutes,
      // everything else 30. Dynamic gaps are interval-UNION semantics
      // (each event projects [ts, ts+gap); overlapping projections
      // merge), NOT the fixed-gap lag test, so the oracle replays the
      // sweep: new session whenever ts exceeds the running max of all
      // previous events' ends — the same one-window-pass sweep shape as
      // win_interval_concurrency, O(events) shuffle, no self-join.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(
          """SELECT user_id,
            |       unix_micros(CAST(session_window.start AS TIMESTAMP)) AS s_us,
            |       unix_micros(CAST(session_window.end AS TIMESTAMP)) AS e_us,
            |       CAST(count(*) AS BIGINT) AS n_events
            |FROM events
            |GROUP BY user_id,
            |         session_window(ts, CASE WHEN event_type = 'purchase'
            |                               THEN '60 minutes' ELSE '30 minutes' END)
            |ORDER BY user_id, s_us""".stripMargin)
      },
      Some("""WITH iv AS (
             |  SELECT user_id, event_id,
             |         CAST(epoch_us(ts) AS BIGINT) AS s_us,
             |         CAST(epoch_us(ts) + CASE WHEN event_type = 'purchase'
             |              THEN 3600000000 ELSE 1800000000 END AS BIGINT) AS e_us
             |  FROM events),
             |m AS (
             |  SELECT user_id, s_us, e_us,
             |         CASE WHEN max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
             |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             |                OR s_us >= max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
             |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |              THEN 1 ELSE 0 END AS new_s
             |  FROM iv),
             |g AS (
             |  SELECT user_id, s_us, e_us,
             |         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY s_us, new_s
             |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
             |  FROM m)
             |SELECT user_id,
             |       CAST(min(s_us) AS BIGINT) AS s_us,
             |       CAST(max(e_us) AS BIGINT) AS e_us,
             |       CAST(count(*) AS BIGINT) AS n_events
             |FROM g GROUP BY user_id, sid
             |ORDER BY user_id, s_us""".stripMargin)
    ),
    Q(
      "sql_pipe_syntax",
      // Spark 4 SQL pipe operators (|>): the linear FROM → WHERE →
      // AGGREGATE → ORDER BY chain plans to exactly the same operators as
      // the classic nested form — the DuckDB oracle IS that classic form,
      // so the equivalence is hash-certified, not claimed.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(s"""FROM orders
                 ||> WHERE o_orderstatus = 'O'
                 ||> AGGREGATE count(*) AS n_orders,
                 |             ${util.r2sql("sum(o_totalprice)")} AS total_price
                 |   GROUP BY o_orderpriority
                 ||> ORDER BY o_orderpriority""".stripMargin)
          .select(col("o_orderpriority"), col("n_orders"), col("total_price"))
      },
      Some(s"""SELECT o_orderpriority, count(*) AS n_orders,
              |       ${util.r2sql("sum(o_totalprice)")} AS total_price
              |FROM orders WHERE o_orderstatus = 'O'
              |GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    ),
    Q(
      "sql_agg_filter_clause",
      // ANSI FILTER (WHERE …) on aggregates (round-9): per-aggregate
      // predicates without CASE-wrapping — one shared text both engines
      // parse, planned as the same conditional map-side partial aggregate
      // the CASE form produces (no extra scan per filtered aggregate).
      (s, dir) => graft.Catalog.sql(s, dir, aggFilterSql),
      Some(aggFilterSql)
    ),
    Q(
      "sql_group_by_all",
      // GROUP BY ALL: the analyst-SQL dialect feature (group by every
      // non-aggregate select item) that Spark and DuckDB both implement —
      // the SAME query text runs on both engines, so the oracle string IS
      // the Spark SQL and the dialect-parity claim is hash-certified. The
      // resolved plan is an ordinary two-phase hash aggregate.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
                |       CAST(min(o_orderkey) AS BIGINT) AS first_key
                |FROM orders
                |GROUP BY ALL
                |ORDER BY o_orderpriority, o_orderstatus""".stripMargin)
      },
      Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
             |       CAST(min(o_orderkey) AS BIGINT) AS first_key
             |FROM orders
             |GROUP BY ALL
             |ORDER BY o_orderpriority, o_orderstatus""".stripMargin)
    ),
    Q(
      "sql_lateral_view_outer",
      // LATERAL VIEW OUTER (round-12): the silent-row-loss trap of array
      // flattening — a plain explode DROPS every parent row whose array
      // is empty, so a per-doc census computed after an inner explode
      // quietly loses the "no matches" population; OUTER keeps them with
      // one NULL element row (the LEFT JOIN of generators). The array is
      // a filter of long tokens, so a real mix of empty and non-empty
      // arrays exercises both branches; the oracle emulates the OUTER
      // semantics in DuckDB by substituting [NULL] for the empty list.
      // At 100 TB this is a correctness footgun, not a perf one: the
      // denominator of any post-flatten rate silently shrinks without it.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""SELECT doc_id, tok
                |FROM (SELECT doc_id,
                |             filter(split(text, ' '), t -> length(t) > 7) AS lt
                |      FROM documents)
                |LATERAL VIEW OUTER explode(lt) t AS tok
                |ORDER BY doc_id, tok""".stripMargin)
      },
      Some("""SELECT doc_id,
             |       unnest(CASE WHEN len(lt) = 0 THEN CAST([NULL] AS VARCHAR[])
             |                   ELSE lt END) AS tok
             |FROM (SELECT doc_id,
             |             list_filter(string_split(text, ' '),
             |                         t -> length(t) > 7) AS lt
             |      FROM documents)
             |ORDER BY doc_id, tok NULLS FIRST""".stripMargin)
    ),
    Q(
      "sql_parameterized",
      // Named-parameter SQL (spark.sql(text, args)): the injection-safe
      // templating surface — parameters bind as Catalyst literals, so the
      // plan is identical to inlined constants (constant folding, filter
      // pushdown all apply) and the query TEXT is cacheable across
      // bindings. Oracle: the same query with the constants inlined.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(
          """SELECT o_orderpriority, count(*) AS n_orders,
            |       CAST(max(o_totalprice) AS DOUBLE) AS max_price
            |FROM orders
            |WHERE o_orderstatus = :status AND o_totalprice > :floor
            |GROUP BY o_orderpriority
            |ORDER BY o_orderpriority""".stripMargin,
          Map("status" -> "O", "floor" -> 100000))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders,
             |       CAST(max(o_totalprice) AS DOUBLE) AS max_price
             |FROM orders
             |WHERE o_orderstatus = 'O' AND o_totalprice > 100000
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)
    ),
    Q(
      "sql_identifier_clause",
      // IDENTIFIER() templating (Spark 4): table AND column names bound
      // from parameters without string-concatenating SQL — the
      // injection-safe way to write one query over N replicated tables
      // (per-tenant / per-day landed tables at scale). Resolution happens
      // at analysis, so the optimized plan is identical to the literal
      // query the oracle runs.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(
          """SELECT IDENTIFIER(:grp) AS priority, count(*) AS n_orders
            |FROM IDENTIFIER(:tab)
            |GROUP BY IDENTIFIER(:grp)
            |ORDER BY priority""".stripMargin,
          Map("tab" -> "orders", "grp" -> "o_orderpriority"))
      },
      Some("""SELECT o_orderpriority AS priority, count(*) AS n_orders
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY priority""".stripMargin)
    ),
    Q(
      "sql_lateral_alias",
      // Lateral column aliases (Spark 4): a SELECT item referencing an
      // alias defined earlier in the SAME select list — the chained
      // derived-metric idiom (gross → taxed → margin) without nested
      // subqueries. Catalyst inlines the chain, so the plan equals the
      // hand-expanded projection; the oracle IS that expansion (DuckDB
      // supports lateral aliases too, but re-expansion avoids its
      // re-evaluation quirks).
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(
          """SELECT l_orderkey, l_linenumber,
            |       floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS gross_c,
            |       CAST(gross_c + floor(gross_c * l_tax / 100) AS BIGINT) AS taxed_c,
            |       taxed_c - CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS delta_c
            |FROM lineitem
            |ORDER BY l_orderkey, l_linenumber""".stripMargin)
      },
      Some("""WITH g AS (
             |  SELECT l_orderkey, l_linenumber, l_tax, l_extendedprice,
             |         CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS gross_c
             |  FROM lineitem),
             |t AS (
             |  SELECT l_orderkey, l_linenumber, l_extendedprice, gross_c,
             |         CAST(gross_c + floor(gross_c * l_tax / 100) AS BIGINT) AS taxed_c
             |  FROM g)
             |SELECT l_orderkey, l_linenumber, gross_c, taxed_c,
             |       taxed_c - CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS delta_c
             |FROM t ORDER BY l_orderkey, l_linenumber""".stripMargin)
    ),
    Q(
      "sql_order_by_all",
      // ORDER BY ALL + GROUP BY ALL together (round-9): the whole-row
      // shorthand dialect — group on every non-aggregate column, order on
      // every output column — that makes exploratory SQL total-ordered by
      // construction. Both engines run the identical text; ALL expands to
      // the same column list, so the hash contract is satisfied without a
      // hand-written sort list.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
                |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
                |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
             |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin)
    ),
    Q(
      "sql_distribute_cluster_by",
      // DISTRIBUTE BY / SORT BY (round-10): the Hive-inherited layout
      // clauses — DISTRIBUTE BY hashes rows to partitions without a
      // global sort, SORT BY orders within each partition; together
      // (= CLUSTER BY) they are the SQL spelling of the
      // repartition + sortWithinPartitions write-layout idiom. Since
      // per-partition order is not observable through a total-order
      // ORDER BY, the row proves the DATA survives the exchange intact
      // (per-key census after the clustered subquery); the plan carries
      // the hash Exchange + partition-local Sort (no global sort node).
      (s, dir) => graft.Catalog.sql(s, dir,
        """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
          |FROM (SELECT l_returnflag, l_quantity FROM lineitem
          |      DISTRIBUTE BY l_returnflag SORT BY l_returnflag, l_quantity)
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)
    ),
    Q(
      "sql_window_clause",
      // Named WINDOW clause (round-9): one window definition shared by
      // multiple OVER references — the dialect feature that keeps
      // multi-metric window queries maintainable. Both engines run the
      // identical text; Spark plans ONE WindowExec for both functions
      // (shared partition/sort), so the shared name is also a shared
      // shuffle. DuckDB's windowed sum(BIGINT) yields HUGEINT, hence the
      // CAST on the sum only.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""SELECT l_orderkey, l_linenumber,
                |       CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT) AS run_qty,
                |       CAST(rank() OVER w AS BIGINT) AS rnk
                |FROM lineitem
                |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
                |ORDER BY l_orderkey, l_linenumber""".stripMargin)
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |       CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT) AS run_qty,
             |       CAST(rank() OVER w AS BIGINT) AS rnk
             |FROM lineitem
             |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    ),
    Q(
      "sql_execute_immediate",
      // EXECUTE IMMEDIATE + session variables (Spark 4): dynamic SQL
      // composed at runtime with DECLARE'd variables bound via USING —
      // the orchestration surface (a driver assembling per-partition
      // queries) without client-side string splicing. Variables bind as
      // literals, so pushdown/pruning see constants; the oracle inlines
      // the same constants.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("DECLARE OR REPLACE g_status STRING")
        s.sql("SET VAR g_status = 'F'")
        s.sql("DECLARE OR REPLACE g_floor DOUBLE")
        s.sql("SET VAR g_floor = 50000")
        s.sql(
          """EXECUTE IMMEDIATE
            |'SELECT o_orderpriority, count(*) AS n_orders
            | FROM orders WHERE o_orderstatus = ? AND o_totalprice > ?
            | GROUP BY o_orderpriority ORDER BY o_orderpriority'
            |USING g_status, g_floor""".stripMargin)
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders
             |FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 50000
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    ),
    Q(
      "sql_create_function",
      // SQL UDFs (Spark 4): a scalar CREATE FUNCTION ... RETURN expr and
      // a table function RETURNS TABLE ... RETURN SELECT, both declared
      // in pure SQL. Unlike JVM UDFs these are inlined into the plan at
      // analysis (no codegen black box — the 100 TB path keeps whole-stage
      // codegen), which is also why the oracle can expand them verbatim.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION price_cents(p DOUBLE)
                |RETURNS BIGINT RETURN CAST(floor(p * 100 + 0.5) AS BIGINT)""".stripMargin)
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION urgent_orders()
                |RETURNS TABLE(o_orderkey BIGINT, o_totalprice DOUBLE)
                |RETURN SELECT o_orderkey, o_totalprice FROM orders
                |       WHERE o_orderpriority = '1-URGENT'""".stripMargin)
        s.sql("""SELECT o_orderkey, price_cents(o_totalprice) AS cents
                |FROM urgent_orders()
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
             |FROM orders WHERE o_orderpriority = '1-URGENT'
             |ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "sql_default_columns",
      // Column DEFAULTs (Spark 4): DDL-declared defaults materialize on
      // INSERTs that omit the column — the schema-evolution affordance
      // that lets producers add columns without rewriting writers. Landed
      // as a parquet session-catalog table in scratch; the oracle
      // recomputes both inserts (one relying on defaults, one explicit).
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        val loc = util.tempDir("graft_defaults_")
        s.sql("DROP TABLE IF EXISTS graft_defaults_t")
        s.sql(s"""CREATE TABLE graft_defaults_t (
                 |  ok BIGINT,
                 |  grade STRING DEFAULT 'unreviewed',
                 |  score BIGINT DEFAULT 42)
                 |USING parquet LOCATION '$loc'""".stripMargin)
        s.sql("""INSERT INTO graft_defaults_t (ok)
                |SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin)
        s.sql("INSERT INTO graft_defaults_t VALUES (-1, 'reviewed', 7)")
        s.sql("""SELECT ok, grade, score FROM graft_defaults_t
                |ORDER BY ok""".stripMargin)
      },
      Some("""SELECT ok, grade, score FROM (
             |  SELECT o_orderkey AS ok, 'unreviewed' AS grade, CAST(42 AS BIGINT) AS score
             |  FROM orders WHERE o_orderpriority = '1-URGENT'
             |  UNION ALL
             |  SELECT -1, 'reviewed', 7)
             |ORDER BY ok""".stripMargin)
    ),
    Q(
      "sql_pivot_syntax",
      // SQL-text PIVOT clause (round-9): the FROM … PIVOT (agg FOR col IN
      // (…)) surface — the declarative cross-tab the DataFrame row
      // (agg_pivot) reaches via .pivot(); certifying the SQL spelling
      // matters because BI tools emit exactly this text. Values are
      // DECLARED in the IN list (the 100 TB discipline: an undeclared
      // pivot needs a distinct-scan planning pass). Oracle: conditional
      // aggregation, the engine-portable restatement.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(
          """SELECT * FROM (
            |  SELECT c_mktsegment, o_orderstatus,
            |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            |  FROM orders JOIN customer ON o_custkey = c_custkey)
            |PIVOT (count(*) AS n, sum(cents) AS cents
            |       FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
            |ORDER BY c_mktsegment""".stripMargin)
      },
      Some("""SELECT c_mktsegment,
             |       CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS f_n,
             |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END) AS BIGINT) AS f_cents,
             |       CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS o_n,
             |       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END) AS BIGINT) AS o_cents,
             |       CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS p_n,
             |       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END) AS BIGINT) AS p_cents
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)
    ),
    Q(
      "sql_ordered_set_aggs",
      // ANSI ordered-set / within-group aggregates (round-9, new in
      // Spark 4): `listagg(...) WITHIN GROUP (ORDER BY ...)` and
      // `percentile_cont(...) WITHIN GROUP` — the standard-SQL spelling
      // of ordered string aggregation and interpolated percentiles
      // (previously only expressible via collect_list gymnastics /
      // percentile()). Exact outputs: the listagg order is total
      // (n_name unique per region) and the nation-key median interpolates
      // on integers. Oracle: DuckDB's equivalent ordered-set forms.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(
          """SELECT r_name,
            |       CAST(count(*) AS BIGINT) AS n_nations,
            |       listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations_csv,
            |       percentile_cont(0.5) WITHIN GROUP (ORDER BY n_nationkey) AS median_key
            |FROM region JOIN nation ON n_regionkey = r_regionkey
            |GROUP BY r_name
            |ORDER BY r_name""".stripMargin)
      },
      Some("""SELECT r_name,
             |       CAST(count(*) AS BIGINT) AS n_nations,
             |       string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
             |       percentile_cont(0.5) WITHIN GROUP (ORDER BY n_nationkey) AS median_key
             |FROM region JOIN nation ON n_regionkey = r_regionkey
             |GROUP BY r_name
             |ORDER BY r_name""".stripMargin)
    ),
    Q(
      "sql_select_star_except",
      // `SELECT * EXCEPT (...)` (round-9, Spark 4): star expansion minus
      // named columns — the wide-table ergonomics feature that replaces
      // brittle 200-column select lists when dropping a couple of fields
      // (and composes with pruning: the excluded columns never reach the
      // scan's ReadSchema). Oracle: DuckDB's EXCLUDE spelling of the
      // same expansion.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(
          """SELECT * EXCEPT (c_name, c_acctbal) FROM customer
            |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT * EXCLUDE (c_name, c_acctbal) FROM customer
             |ORDER BY c_custkey""".stripMargin)
    ),
    Q(
      "join_spatial_grid",
      // Grid-bucketed SPATIAL distance join (round-9): customers near
      // suppliers on a synthetic planar map — the standard distributed
      // spatial-join shape (GeoSpark/Sedona's core): bucket points into
      // fixed cells the size of the query radius, replicate ONE side to
      // its 3×3 neighbor cells, equi-join on cell id, then exact distance
      // filter. Never all-pairs: candidate volume is density-bounded per
      // cell, the join is a plain shuffled equi-join on the cell key, and
      // the 9× replication rides a map-side explode. Coordinates are
      // deterministic integer e2-degree units derived from the keys;
      // distance is exact planar d² in BIGINT (no haversine float).
      (s, dir) => {
        val a = Tables(s, dir, "customer").select(col("c_custkey"),
          expr("(c_custkey * 7919) % 1800").as("au"),
          expr("(c_custkey * 104729) % 3600").as("av"))
          .withColumn("cu", expr("au div 100"))
          .withColumn("cv", expr("av div 100"))
        val b = Tables(s, dir, "supplier").select(col("s_suppkey"),
          expr("(s_suppkey * 6131) % 1800").as("bu"),
          expr("(s_suppkey * 9973) % 3600").as("bv"))
          .select(col("s_suppkey"), col("bu"), col("bv"),
            explode(expr(
              """flatten(transform(sequence(-1, 1), du ->
                |  transform(sequence(-1, 1), dv ->
                |    struct(bu div 100 + du AS cu, bv div 100 + dv AS cv))))""".stripMargin))
              .as("cell"))
          .select(col("s_suppkey"), col("bu"), col("bv"),
            col("cell.cu").as("cu"), col("cell.cv").as("cv"))
        a.join(b, Seq("cu", "cv"))
          .withColumn("d2", expr("(au - bu) * (au - bu) + (av - bv) * (av - bv)"))
          .filter(col("d2") <= 10000)
          .select(col("c_custkey"), col("s_suppkey"), col("d2"))
          .orderBy(col("c_custkey"), col("s_suppkey"))
      },
      Some("""WITH a AS (
             |  SELECT c_custkey, (c_custkey * 7919) % 1800 AS au,
             |         (c_custkey * 104729) % 3600 AS av
             |  FROM customer),
             |b AS (
             |  SELECT s_suppkey, (s_suppkey * 6131) % 1800 AS bu,
             |         (s_suppkey * 9973) % 3600 AS bv
             |  FROM supplier),
             |bx AS (
             |  SELECT s_suppkey, bu, bv,
             |         bu // 100 + du.x AS cu, bv // 100 + dv.x AS cv
             |  FROM b, (VALUES (-1), (0), (1)) du(x), (VALUES (-1), (0), (1)) dv(x))
             |SELECT c_custkey, s_suppkey,
             |       CAST((au - bu) * (au - bu) + (av - bv) * (av - bv) AS BIGINT) AS d2
             |FROM a JOIN bx ON a.au // 100 = bx.cu AND a.av // 100 = bx.cv
             |WHERE (au - bu) * (au - bu) + (av - bv) * (av - bv) <= 10000
             |ORDER BY c_custkey, s_suppkey""".stripMargin)
    ),
    Q(
      "sql_table_valued_functions",
      // Table-valued functions in the FROM clause (round-9): `range()`
      // as a generated spine and `posexplode()` as an inline dimension —
      // the no-table-needed generators behind calendar spines, bucket
      // scaffolds and enum dimensions. The spine LEFT JOIN keeps empty
      // buckets visible (the histogram-with-holes trap); the generated
      // side is O(buckets) and broadcast, the fact side aggregates
      // map-side first. Oracle: DuckDB's range() + an inline VALUES
      // dimension (same relations, its own generator syntax).
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(
          """SELECT s.id AS bucket, l.col AS parity,
            |       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
            |FROM range(0, 8) s
            |JOIN posexplode(array('even', 'odd')) l ON s.id % 2 = l.pos
            |LEFT JOIN orders o ON o.o_orderkey % 8 = s.id
            |GROUP BY s.id, l.col
            |ORDER BY bucket""".stripMargin)
      },
      Some("""SELECT s.id AS bucket, l.col AS parity,
             |       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
             |FROM range(0, 8) s(id)
             |JOIN (VALUES (0, 'even'), (1, 'odd')) l(pos, col) ON s.id % 2 = l.pos
             |LEFT JOIN orders o ON o.o_orderkey % 8 = s.id
             |GROUP BY s.id, l.col
             |ORDER BY bucket""".stripMargin)
    ),
    Q(
      "sql_session_variables",
      // SQL session variables (Spark 4 DECLARE VARIABLE / SET VAR): the
      // two-step parameterized workflow every SQL client runs — compute a
      // data-driven threshold once, then reference it from a second
      // query — without string templating or client round-trip glue. The
      // threshold is EXACT integer cents (sum-of-cents div count, no
      // double avg whose partition order could flip a boundary row). The
      // variable is a session-scoped scalar: the second query's plan sees
      // a literal, so pushdown/pruning work exactly as if hand-inlined.
      // Oracle: the same two steps as one nested scalar subquery.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("DECLARE OR REPLACE VARIABLE seg STRING DEFAULT 'MACHINERY'")
        s.sql("""DECLARE OR REPLACE VARIABLE bal_floor_cents BIGINT""")
        s.sql(
          """SET VAR bal_floor_cents =
            |  (SELECT CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
            |               / count(*) AS BIGINT)
            |   FROM customer WHERE c_mktsegment = seg)""".stripMargin)
        s.sql(
          """SELECT c_custkey, c_name
            |FROM customer
            |WHERE c_mktsegment = seg
            |  AND CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) > bal_floor_cents
            |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name
             |FROM customer
             |WHERE c_mktsegment = 'MACHINERY'
             |  AND CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) >
             |      (SELECT CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
             |                   / count(*) AS BIGINT)
             |       FROM customer WHERE c_mktsegment = 'MACHINERY')
             |ORDER BY c_custkey""".stripMargin)
    ),
    Q(
      "sql_scripting_repeat",
      // SQL scripting REPEAT…UNTIL + labeled LEAVE (round-9): the third
      // and fourth control-flow primitives after WHILE and FOR. The loop
      // body runs BEFORE the test (REPEAT semantics), doubling a size
      // threshold and folding one distributed aggregate per round; the
      // exit is a labeled LEAVE guard — the UNTIL clause is deliberately
      // never-true, so the row certifies LEAVE actually transfers
      // control. Scale posture equals the unrolled per-threshold
      // aggregates. Oracle: the unrolled threshold VALUES list.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        withConfs(s, scriptingConfs) {
          s.sql(
            """BEGIN
              |  DECLARE szs ARRAY<BIGINT> DEFAULT array();
              |  DECLARE cnts ARRAY<BIGINT> DEFAULT array();
              |  DECLARE sz BIGINT DEFAULT 1;
              |  lp: REPEAT
              |    IF sz > 32 THEN LEAVE lp; END IF;
              |    SET szs = array_append(szs, sz);
              |    SET cnts = array_append(cnts,
              |      (SELECT count(*) FROM part WHERE p_size >= sz));
              |    SET sz = sz * 2;
              |  UNTIL 1 = 0 END REPEAT lp;
              |  SELECT z.sz AS size_floor, z.c AS n_parts
              |  FROM (SELECT explode(zip_with(szs, cnts,
              |          (t, c) -> named_struct('sz', t, 'c', c))) AS z)
              |  ORDER BY size_floor;
              |END""".stripMargin)
        }
      },
      Some("""SELECT CAST(t.sz AS BIGINT) AS size_floor,
             |       CAST((SELECT count(*) FROM part WHERE p_size >= t.sz) AS BIGINT) AS n_parts
             |FROM (VALUES (1), (2), (4), (8), (16), (32)) AS t(sz)
             |ORDER BY size_floor""".stripMargin)
    ),
    Q(
      "sql_scripting_for",
      // SQL scripting FOR loop (round-9): cursor iteration over a result
      // set — the second control-flow primitive after WHILE. The loop
      // walks regions in key order, folding a per-region scalar aggregate
      // into ARRAY variables; like the WHILE row, each round is one
      // distributed aggregate and the script only moves the orchestration
      // server-side. Oracle: the equivalent grouped join.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        withConfs(s, scriptingConfs) {
          s.sql(
            """BEGIN
              |  DECLARE names ARRAY<STRING> DEFAULT array();
              |  DECLARE cnts ARRAY<BIGINT> DEFAULT array();
              |  FOR r AS SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey DO
              |    SET names = array_append(names, r.r_name);
              |    SET cnts = array_append(cnts,
              |      (SELECT count(*) FROM nation WHERE n_regionkey = r.r_regionkey));
              |  END FOR;
              |  SELECT z.nm AS r_name, z.c AS n_nations
              |  FROM (SELECT explode(zip_with(names, cnts,
              |          (n, c) -> named_struct('nm', n, 'c', c))) AS z)
              |  ORDER BY r_name;
              |END""".stripMargin)
        }
      },
      Some("""SELECT r_name, CAST(count(*) AS BIGINT) AS n_nations
             |FROM region JOIN nation ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)
    ),
    Q(
      "sql_scripting_while",
      // SQL scripting (Spark 4, BEGIN…END): procedural control flow in
      // pure SQL — a WHILE loop halving a price threshold, each round
      // folding a scalar aggregate into ARRAY variables, one final SELECT
      // inlining the (threshold, count) pairs. The driver-side loop issues
      // ONE distributed aggregate per round (the same shape a client
      // orchestrating spark.sql calls would produce), so scale posture
      // equals the unrolled queries; the script is just the orchestration
      // moving server-side. Oracle: the unrolled threshold list.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        withConfs(s, scriptingConfs) {
          s.sql(
            """BEGIN
              |  DECLARE ths ARRAY<BIGINT> DEFAULT array();
              |  DECLARE cnts ARRAY<BIGINT> DEFAULT array();
              |  DECLARE th BIGINT DEFAULT 400000;
              |  WHILE th >= 50000 DO
              |    SET ths = array_append(ths, th);
              |    SET cnts = array_append(cnts,
              |      (SELECT count(*) FROM orders WHERE o_totalprice > th));
              |    SET th = th DIV 2;
              |  END WHILE;
              |  -- explicit struct field names: bare ths/cnts in the outer
              |  -- select resolve to the script VARIABLES (whole arrays),
              |  -- and arrays_zip over variables yields positional fields
              |  SELECT z.th AS threshold, z.cnt AS n_orders
              |  FROM (SELECT explode(zip_with(ths, cnts,
              |          (t, c) -> named_struct('th', t, 'cnt', c))) AS z)
              |  ORDER BY threshold DESC;
              |END""".stripMargin)
        }
      },
      Some("""SELECT CAST(th AS BIGINT) AS threshold,
             |       (SELECT count(*) FROM orders WHERE o_totalprice > th) AS n_orders
             |FROM (VALUES (400000), (200000), (100000), (50000)) t(th)
             |ORDER BY threshold DESC""".stripMargin)
    ),
    Q(
      "join_skew_salted",
      // Skew-mitigation pattern: l_suppkey is pathologically skewed (6M·sf
      // rows over 10 suppliers). Salting splits each hot key into S
      // sub-keys — the fact side derives a deterministic salt, the dim side
      // replicates each row S times — so the shuffle spreads every hot key
      // over S reducers instead of one. (AQE's OptimizeSkewedJoin does this
      // adaptively; the explicit form works on any static planner too.)
      (s, dir) => {
        val S = 8
        val li = Tables(s, dir, "lineitem")
          .withColumn("salt", pmod(col("l_orderkey"), lit(S)).cast("int"))
        val sup = Tables(s, dir, "supplier")
          .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
          .hint("merge") // pin SMJ so the salted shuffle actually runs
        li.join(sup, col("l_suppkey") === col("s_suppkey") && li("salt") === sup("salt"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("n_lines"),
            util.r2(sum(col("l_extendedprice"))).as("total_price"))
          .orderBy(col("s_name"))
      },
      Some(s"""SELECT s_name, count(*) AS n_lines,
              |       ${util.r2sql("sum(l_extendedprice)")} AS total_price
              |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              |GROUP BY s_name ORDER BY s_name""".stripMargin)
    ),
    Q(
      "join_skew_aqe",
      // The ADAPTIVE twin of join_skew_salted: a pathologically skewed
      // join (75% of lines synthesized onto ONE supplier key) UNSALTED,
      // with AQE's OptimizeSkewedJoin splitting the hot shuffle partition
      // at runtime from map-output statistics — the production default at
      // 100 TB (no schema changes, no salt column, splits sized to the
      // actual skew). The uniform fixture has no natural skew and the
      // default 256 MB trigger never fires at toy scale, so the hot key
      // is synthesized and the thresholds lowered; PlanShapeSpec asserts
      // the executed plan carries the skew=true marker. Broadcast
      // demotion is disabled so the skewed exchange actually exists, and
      // the result is materialized EAGERLY (localCheckpoint) so the join
      // runs while the confs hold — they are restored before return.
      (s, dir) => {
        withConfs(s, skewAqeConfs) {
          skewedSupplierJoin(s, dir).localCheckpoint(true)
        }
      },
      Some(s"""WITH f AS (
              |  SELECT CASE WHEN l_orderkey % 4 < 3 THEN 7 ELSE l_suppkey END AS skew_key,
              |         l_extendedprice
              |  FROM lineitem)
              |SELECT s_name, count(*) AS n_lines,
              |       ${util.r2sql("sum(l_extendedprice)")} AS total_price
              |FROM f JOIN supplier ON skew_key = s_suppkey
              |GROUP BY s_name ORDER BY s_name""".stripMargin)
    ),
    Q(
      "join_aqe_bhj_conversion",
      // AQE's runtime join demotion: the STATIC planner is denied
      // broadcasts (threshold -1, as when stale/absent stats undersize
      // nothing), so the initial plan is a shuffle join — then AQE's
      // accurate map-output statistics convert it to a BroadcastHashJoin
      // at runtime via the adaptive threshold. This is how a 100 TB
      // cluster recovers broadcast plans without table statistics; the
      // conversion also elides the probe-side shuffle read
      // (localShuffleReader). Materialized eagerly so the join runs
      // while the confs hold (the join_skew_aqe discipline); the result
      // must equal the plain join, broadcast or not.
      (s, dir) =>
        withConfs(s, aqeBhjConfs)(aqeBhjJoin(s, dir).localCheckpoint(true)),
      Some("""SELECT n_name, count(*) AS n_customers,
             |       CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS bal_cents
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)
    ),
    Q(
      "join_cross",
      (s, dir) => {
        Tables(s, dir, "region")
          .crossJoin(Tables(s, dir, "nation"))
          .select(col("r_regionkey"), col("n_nationkey"), col("r_name"), col("n_name"))
          .orderBy(col("r_regionkey"), col("n_nationkey"))
      },
      Some("""SELECT r_regionkey, n_nationkey, r_name, n_name
             |FROM region CROSS JOIN nation
             |ORDER BY r_regionkey, n_nationkey""".stripMargin)
    ),
    Q(
      "join_null_safe",
      // Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
      // match each other instead of vanishing — the dimension-conforming
      // join for feeds where "unknown" is a real key value. Spark hashes
      // NULL like any other key under <=>, so it shuffles/broadcasts the
      // same as a plain equi-join (no fallback to nested-loop). Nulls are
      // synthesized deterministically via nullif on one nation key.
      (s, dir) => {
        val c = Tables(s, dir, "customer")
          .select(nullif(col("c_nationkey"), lit(3)).cast("long").as("ck"))
        val sup = Tables(s, dir, "supplier")
          .select(nullif(col("s_nationkey"), lit(3)).cast("long").as("sk"))
        c.join(sup, col("ck") <=> col("sk"))
          .groupBy(coalesce(col("ck"), lit(-1L)).as("k"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("k"))
      },
      Some("""SELECT CAST(coalesce(ck, -1) AS BIGINT) AS k, count(*) AS n_pairs
             |FROM (SELECT nullif(c_nationkey, 3) AS ck FROM customer) c
             |JOIN (SELECT nullif(s_nationkey, 3) AS sk FROM supplier) s
             |  ON ck IS NOT DISTINCT FROM sk
             |GROUP BY 1 ORDER BY k""".stripMargin)
    ),
    Q(
      "join_cidr_lookup",
      // Longest-prefix-match CIDR enrichment (round-9): map each event's
      // IPv4 to the MOST SPECIFIC route in an overlapping routing table
      // (/8 default < /16 per nation < /24 for dc nations) — the GeoIP /
      // network-attribution join every log pipeline runs. LPM is not an
      // equi-join, but the classic scalable rewrite makes it one: explode
      // the probe side once per DISTINCT prefix length (3 here — routing
      // tables have ≤ 32), mask the IP to that length, equi-join on
      // (plen, masked_net) against the BROADCAST routing table (real
      // tables are ~1M rows — always broadcastable), then max_by(plen)
      // per event picks the longest match. Probe-side cost is |lens|×
      // map-only rows; the fact table never shuffles for the lookup
      // itself. All 32-bit address math is exact BIGINT.
      (s, dir) => {
        val n = Tables(s, dir, "nation")
        val routes = n.select(
            (lit(167772160L) + col("n_nationkey").cast("long") * 65536L).as("net"),
            lit(16).as("plen"), col("n_name").as("route"))
          .unionByName(n.filter(col("n_nationkey") % 5 === 0).select(
            (lit(167772160L) + col("n_nationkey").cast("long") * 65536L + 256L).as("net"),
            lit(24).as("plen"), concat(col("n_name"), lit("-dc")).as("route")))
          .unionByName(s.range(1).select(
            lit(167772160L).as("net"), lit(8).as("plen"), lit("default").as("route")))
        val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
          (lit(167772160L) + (col("user_id") % 30) * 65536L
            + (col("event_id") % 3) * 256L + (col("event_id") % 250)).as("ip"))
        val probe = ev
          .select(col("event_id"), col("user_id"), col("ip"),
            explode(array(lit(8), lit(16), lit(24))).as("plen"))
          .withColumn("masked", expr(
            "CAST(ip DIV shiftleft(CAST(1 AS BIGINT), 32 - plen) AS BIGINT)" +
              " * shiftleft(CAST(1 AS BIGINT), 32 - plen)"))
        probe.join(broadcast(routes),
            probe("plen") === routes("plen") && probe("masked") === routes("net"))
          .groupBy(col("event_id"), col("user_id"))
          .agg(max_by(col("route"), routes("plen")).as("route"))
          .groupBy(col("route"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("route"))
      },
      Some("""WITH routes AS (
             |  SELECT 167772160 + n_nationkey * 65536 AS net, 16 AS plen,
             |         n_name AS route FROM nation
             |  UNION ALL
             |  SELECT 167772160 + n_nationkey * 65536 + 256, 24, n_name || '-dc'
             |  FROM nation WHERE n_nationkey % 5 = 0
             |  UNION ALL SELECT 167772160, 8, 'default'),
             |ev AS (
             |  SELECT event_id, user_id,
             |         167772160 + (user_id % 30) * 65536
             |           + (event_id % 3) * 256 + (event_id % 250) AS ip
             |  FROM events),
             |probe AS (
             |  SELECT event_id, user_id, ip, plen,
             |         (ip // (CAST(1 AS BIGINT) << (32 - plen)))
             |           * (CAST(1 AS BIGINT) << (32 - plen)) AS masked
             |  FROM ev, (SELECT unnest([8, 16, 24]) AS plen)),
             |m AS (
             |  SELECT p.event_id, p.user_id, arg_max(r.route, r.plen) AS route
             |  FROM probe p JOIN routes r ON p.plen = r.plen AND p.masked = r.net
             |  GROUP BY 1, 2)
             |SELECT route, CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             |FROM m GROUP BY route ORDER BY route""".stripMargin)
    ),
    Q(
      "join_null_aware_anti",
      // NOT IN (subquery) under 3-valued logic: one NULL in the subquery
      // makes NOT IN unknowable for every probe row (x <> NULL is NULL),
      // so the whole result must go empty — the classic silent-wrong-answer
      // trap when NOT IN is "optimized" to a plain anti join. Catalyst
      // plans this as a NULL-AWARE anti join (single-column null-aware
      // BroadcastHashJoin since 3.1); the row pins both halves: the clean
      // subquery behaves as an anti join, the null-poisoned one (nullif
      // injects NULL for one supplier) yields zero matches. Counts by
      // segment keep the output stable under scale.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(
          s"""SELECT m.c_mktsegment,
             |       count(*) FILTER (WHERE kind = 'clean') AS n_clean,
             |       count(*) FILTER (WHERE kind = 'poisoned') AS n_poisoned
             |FROM (
             |  SELECT c_mktsegment, 'clean' AS kind FROM customer
             |  WHERE c_nationkey NOT IN (SELECT s_nationkey FROM supplier
             |                            WHERE s_acctbal > 5000)
             |  UNION ALL
             |  SELECT c_mktsegment, 'poisoned' AS kind FROM customer
             |  WHERE c_nationkey NOT IN (SELECT nullif(s_nationkey, s_nationkey)
             |                            FROM supplier WHERE s_acctbal > 5000)
             |) m
             |GROUP BY m.c_mktsegment
             |ORDER BY m.c_mktsegment""".stripMargin)
      },
      Some("""SELECT m.c_mktsegment,
             |       count(*) FILTER (WHERE kind = 'clean') AS n_clean,
             |       count(*) FILTER (WHERE kind = 'poisoned') AS n_poisoned
             |FROM (
             |  SELECT c_mktsegment, 'clean' AS kind FROM customer
             |  WHERE c_nationkey NOT IN (SELECT s_nationkey FROM supplier
             |                            WHERE s_acctbal > 5000)
             |  UNION ALL
             |  SELECT c_mktsegment, 'poisoned' AS kind FROM customer
             |  WHERE c_nationkey NOT IN (SELECT nullif(s_nationkey, s_nationkey)
             |                            FROM supplier WHERE s_acctbal > 5000)
             |) m
             |GROUP BY m.c_mktsegment
             |ORDER BY m.c_mktsegment""".stripMargin)
    )
  )

  /** Shared Spark/DuckDB SQL for [[sql_values_clause]]. */
  private lazy val valuesSql: String =
    """SELECT v.tier, CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders
      |JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'),
      |             ('3-MEDIUM', 'warm'), ('4-NOT SPECIFIED', 'cold'),
      |             ('5-LOW', 'cold')) AS v(prio, tier)
      |  ON o_orderpriority = v.prio
      |GROUP BY v.tier ORDER BY v.tier""".stripMargin

  /** Shared Spark/DuckDB SQL for [[sql_recursive_bom]]: a derived
    * containment forest (parent = child div 4 via float-floor so one text
    * parses on both engines), exploded from root 0 with the quantity
    * product carried through the recursion (≤ 4^8, no overflow).
    */
  private lazy val bomSql: String =
    """WITH RECURSIVE edges AS (
      |  SELECT CAST(floor(CAST(p_partkey AS DOUBLE) / 4) AS BIGINT) AS parent,
      |         p_partkey AS child,
      |         p_partkey % 4 + 1 AS qty
      |  FROM part WHERE p_partkey > 0),
      |bom(part, depth, mult) AS (
      |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)
      |  UNION ALL
      |  SELECT e.child, b.depth + 1, b.mult * e.qty
      |  FROM bom b JOIN edges e ON e.parent = b.part
      |  WHERE b.depth < 8)
      |SELECT depth, CAST(count(*) AS BIGINT) AS n_parts,
      |       CAST(sum(mult) AS BIGINT) AS total_units,
      |       CAST(max(mult) AS BIGINT) AS max_mult
      |FROM bom GROUP BY depth ORDER BY depth""".stripMargin

  /** Land the 3-table star twice — `graft_cbo3a` ANALYZEd, `graft_cbo3n`
    * not — for [[sql_cbo_join_reorder]] and PlanShapeSpec's
    * stats-present/stats-absent pin. Staged per session like [[cboLand]].
    */
  private[graft] def cbo3Land(s: SparkSession, dir: String): Unit =
    Staged(s, "joins.cbo3", dir) {
      val land = Seq(
        "customer" -> Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
        "orders" -> Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority")),
        "lineitem" -> Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")))
      landTables(s, "graft_cbo3a", land, analyze = true)
      landTables(s, "graft_cbo3n", land, analyze = false)
    }

  /** Save `land` as parquet tables of database `db` (created over a fresh
    * scratch location), ANALYZEd FOR ALL COLUMNS if `analyze`.
    */
  private def landTables(s: SparkSession, db: String,
      land: Seq[(String, org.apache.spark.sql.DataFrame)], analyze: Boolean): Unit = {
    val loc = graft.util.tempDir(s"graft_${db}_db_")
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    land.foreach { case (n, df) =>
      df.write.mode("overwrite").format("parquet").saveAsTable(s"$db.$n")
      if (analyze) s.sql(s"ANALYZE TABLE $db.$n COMPUTE STATISTICS FOR ALL COLUMNS")
    }
  }

  /** The deliberately badly-written 3-table star for
    * [[sql_cbo_join_reorder]]: fact ⋈ fact first, the selective customer
    * predicate last — parameterized by schema so the spec can plan it
    * over the analyzed and the un-analyzed copies.
    */
  private[graft] def cbo3StarSql(db: String): String =
    s"""SELECT o_orderpriority, count(*) AS n_lines,
       |       ${util.r2sql("sum(l_extendedprice * (1 - l_discount))")} AS revenue
       |FROM $db.lineitem
       |JOIN $db.orders   ON l_orderkey = o_orderkey
       |JOIN $db.customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING' AND c_acctbal < 0
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** Land the star as catalog tables + ANALYZE, staged per session (the
    * `graft_cbo` names are session-global, so the last dir wins). Narrow
    * landed projections — statistics land with the physical design choice.
    */
  private[graft] def cboLand(s: SparkSession, dir: String): Unit =
    Staged(s, "joins.cbo", dir) {
      landTables(s, "graft_cbo", Seq(
        "region" -> Tables(s, dir, "region"),
        "nation" -> Tables(s, dir, "nation"),
        "customer" -> Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
        "orders" -> Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
        "lineitem" -> Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))),
        analyze = true)
    }

  /** The selective fact-fact join for [[join_runtime_bloom_filter]]:
    * urgent orders (selective creation side) ⋈ lineitem (application
    * side whose scan receives the injected bloom probe).
    */
  private[graft] def bloomFilterJoin(
      s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val o = Tables(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        util.r2(sum(col("l_extendedprice"))).as("revenue"))
  }

  /** Stage both SPJ sides once per fixture dir (bucket = key % 8, landed
    * executor-side by [[graft.sources.SpjStage]]).
    */
  private def spjStage(s: SparkSession, dir: String): String =
    Staged(s, "joins.spj", dir) {
      val base = graft.util.tempDir("graft_spj_")
      graft.sources.SpjStage(
        Tables(s, dir, "orders").select(
          (col("o_orderkey") % 8).cast("long").as("bucket"),
          col("o_orderkey"), col("o_orderpriority")),
        s"$base/orders")
      graft.sources.SpjStage(
        Tables(s, dir, "lineitem").select(
          (col("l_orderkey") % 8).cast("long").as("bucket"),
          col("l_orderkey"), col("l_extendedprice")),
        s"$base/lineitem")
      base
    }

  /** Confs under which Spark matches the two reported partitionings:
    * v2 bucketing on, partial-cluster-key matching allowed, broadcast
    * off so the join would otherwise shuffle.
    */
  private[graft] val spjConfs = Seq(
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** The bare co-partitioned join for [[join_storage_partitioned]] —
    * PlanShapeSpec pins zero Exchange beneath the SortMergeJoin.
    */
  private[graft] def spjJoin(
      s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val base = spjStage(s, dir)
    val o = s.read
      .schema("bucket BIGINT, o_orderkey BIGINT, o_orderpriority STRING")
      .format("graft.sources.SpjSource").load(s"$base/orders")
    val li = s.read
      .schema("bucket BIGINT, l_orderkey BIGINT, l_extendedprice DOUBLE")
      .format("graft.sources.SpjSource").load(s"$base/lineitem")
    li.join(o, li("bucket") === o("bucket") &&
      col("l_orderkey") === col("o_orderkey"))
  }

  /** The deliberately badly-written 5-way chain for [[join_cbo_reorder]]:
    * literal left-deep order joins the two fact tables FIRST and applies
    * the selective region filter LAST — the order CostBasedJoinReorder
    * must fix from statistics alone.
    */
  private[graft] lazy val cboStarSql: String =
    s"""SELECT n_name, count(*) AS n_lines,
       |       ${util.r2sql("sum(l_extendedprice * (1 - l_discount))")} AS revenue
       |FROM graft_cbo.lineitem
       |JOIN graft_cbo.orders   ON l_orderkey = o_orderkey
       |JOIN graft_cbo.customer ON o_custkey = c_custkey
       |JOIN graft_cbo.nation   ON c_nationkey = n_nationkey
       |JOIN graft_cbo.region   ON n_regionkey = r_regionkey
       |WHERE r_name IN ('EUROPE', 'ASIA')
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin

  /** Shared Spark/DuckDB SQL for [[sql_agg_filter_clause]]. */
  private lazy val aggFilterSql: String =
    """SELECT event_type,
      |       CAST(count(*) FILTER (WHERE value > 50) AS BIGINT) AS n_high,
      |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
      |            FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS even_cents,
      |       CAST(count(DISTINCT user_id) FILTER (WHERE value > 50) AS BIGINT) AS high_users,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
}
