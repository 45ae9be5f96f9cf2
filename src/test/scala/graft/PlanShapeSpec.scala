package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape guards (SURVEY.md §5.4): the physical strategies pinned by
  * hints/broadcasts must actually appear, filters must reach the parquet
  * scan, and projections must prune the read schema — the properties that
  * decide whether a plan survives 100 TB.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sfDir

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def cboConfs(on: Boolean) = Seq(
    "spark.sql.cbo.enabled" -> on.toString,
    "spark.sql.cbo.joinReorder.enabled" -> on.toString)

  test("join_broadcast_inner plans a BroadcastHashJoin") {
    assert(planOf("join_broadcast_inner").contains("BroadcastHashJoin"))
  }

  test("join_sort_merge plans a SortMergeJoin") {
    assert(planOf("join_sort_merge").contains("SortMergeJoin"))
  }

  test("join_shuffle_hash plans a ShuffledHashJoin") {
    assert(planOf("join_shuffle_hash").contains("ShuffledHashJoin"))
  }

  test("join_theta_nl plans a BroadcastNestedLoopJoin") {
    assert(planOf("join_theta_nl").contains("BroadcastNestedLoopJoin"))
  }

  test("filter_pushdown_date pushes the date predicates into the parquet scan") {
    val plan = planOf("filter_pushdown_date")
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(l_shipdate") &&
      plan.contains("LessThan(l_shipdate"))
  }

  test("project_prune reads only the three projected columns") {
    val plan = planOf("project_prune")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_discount"))
  }

  test("topk_order_limit plans TakeOrderedAndProject (never a full sort)") {
    assert(planOf("topk_order_limit").contains("TakeOrderedAndProject"))
  }

  test("agg_hash_group plans a two-phase HashAggregate (partial then final)") {
    val plan = planOf("agg_hash_group")
    assert("HashAggregate".r.findAllIn(plan).size >= 2)
  }

  test("join_star_5way broadcasts the small dimensions") {
    assert(planOf("join_star_5way").contains("BroadcastHashJoin"))
  }

  test("sink_bucketed_join joins co-located buckets without shuffling either side") {
    // run the query once to (re)create the bucketed tables
    val plan0 = planOf("sink_bucketed_join")
    assert(plan0.contains("Bucketed: true"), s"scans not bucketed:\n$plan0")
    // at fixture scale Catalyst rightly broadcasts; simulate both sides
    // too big to broadcast — the bucketed SMJ must then need NO exchange
    GraftSession.withConfs(spark, ops.Sources.noBroadcastConfs) {
      val join = spark.table("graft_buckets.lineitem_b")
        .join(spark.table("graft_buckets.orders_b"),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
        .select("o_orderpriority")
      val plan = join.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    }
  }

  test("correlated subqueries decorrelate (no per-row re-execution)") {
    val scalar = planOf("subq_scalar_correlated")
    // decorrelated = aggregate + join, not a Subquery node per row
    assert(scalar.contains("HashAggregate") &&
      (scalar.contains("SortMergeJoin") || scalar.contains("BroadcastHashJoin") ||
        scalar.contains("ShuffledHashJoin")), scalar)
    val semi = planOf("subq_in_exists")
    assert(semi.contains("LeftSemi") && semi.contains("LeftAnti"), semi)
  }

  test("sim_cosine_topk_native uses the custom expression and partial top-k") {
    val plan = planOf("sim_cosine_topk_native")
    assert(plan.contains("cosine_sim"))
    // Spark 4 pushes row_number()<=k down as a partial WindowGroupLimit —
    // each partition keeps only k rows before the shuffle
    assert(plan.contains("WindowGroupLimit"))
  }

  test("join_null_safe hashes <=> keys (no nested-loop fallback)") {
    val plan = planOf("join_null_safe")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"), plan)
  }

  test("agg_conditional_counts runs all predicates in one two-phase aggregate") {
    val plan = planOf("agg_conditional_counts")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    // one scan, not one per predicate
    assert("FileScan parquet".r.findAllIn(plan).size === 1, plan)
  }

  test("sql_recursive_cte plans Spark 4 recursion (union loop)") {
    val plan = planOf("sql_recursive_cte")
    assert(plan.contains("UnionLoop") || plan.contains("CTERelation"), plan)
  }

  test("filter_dynamic_partition_pruning injects a pruning subquery into the fact scan") {
    val plan = planOf("filter_dynamic_partition_pruning")
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
  }

  test("stat_bloom_semi_filter probes via native might_contain (no UDF in the scan path)") {
    val plan = planOf("stat_bloom_semi_filter")
    assert(plan.contains("might_contain"), plan)
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"bloom probe fell back to a UDF:\n$plan")
  }

  test("join_asof_ext: custom node survives analysis, is lowered by the injected rule") {
    val df = SparkEntry.queries("join_asof_ext")(spark, dir)
    val analyzed = df.queryExecution.analyzed.toString
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(analyzed.contains("GraftAsOfJoin"),
      s"custom logical node missing from analyzed plan:\n$analyzed")
    assert(!optimized.contains("GraftAsOfJoin"),
      s"injected rule did not lower the custom node:\n$optimized")
    assert(df.queryExecution.executedPlan.toString.contains("Window"),
      "lowered plan should execute via WindowExec")
  }

  test("as-of family shuffles ONCE on the key (plus the output sort)") {
    for (q <- Seq("join_asof", "join_asof_forward", "join_asof_tolerance",
        "join_asof_nearest", "join_asof_ext")) {
      val plan = planOf(q)
      val keyShuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(keyShuffles <= 2, // probe union + pre-deduped build side
        s"$q: expected at most 2 key shuffles (probe+build prep), got $keyShuffles:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
        s"$q fell back to a range product:\n$plan")
    }
  }

  test("join_asof_multikey_ext shuffles once on the WHOLE key tuple") {
    val df = SparkEntry.queries("join_asof_multikey_ext")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the union's window partitioning must carry BOTH key columns — a
    // single-column partitioning would co-group rows across segments
    val windowExchange = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .filter(l => l.contains("user_id") && l.contains("seg"))
    assert(windowExchange.nonEmpty,
      s"no exchange partitioning on the (user_id, seg) tuple:\n$plan")
    val keyShuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(keyShuffles <= 2, // probe union + pre-deduped build side
      s"expected at most 2 key shuffles, got $keyShuffles:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"fell back to a range product:\n$plan")
  }

  test("text_repetition_ratio aggregates token counts, never shipping text") {
    val plan = planOf("text_repetition_ratio")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    // the text column must not survive into any Exchange
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("text#")),
      s"token-count shuffle carries raw text:\n$plan")
  }

  test("source_custom_calendar: DSv2 scan parallelizes across input partitions") {
    val plan = planOf("source_custom_calendar")
    assert(plan.contains("BatchScan"), s"expected a DSv2 BatchScan:\n$plan")
    def days(parts: String) = spark.read.format("graft.sources.CalendarSource")
      .option("start", "2024-01-01").option("end", "2024-12-31")
      .option("partitions", parts).load()
    assert(days("4").rdd.getNumPartitions === 4)
    assert(days("7").rdd.getNumPartitions === 7)
    // ranges are disjoint + exhaustive regardless of the split count
    assert(days("7").count() === 366)
    assert(days("7").distinct().count() === 366)
  }

  test("source_custom_calendar: range filters push into the connector (planning-time pruning)") {
    import org.apache.spark.sql.functions.col
    val dec = spark.read.format("graft.sources.CalendarSource")
      .option("start", "2024-01-01").option("end", "2024-12-31").load()
      .filter(col("d") >= "2024-12-01")
    val plan = dec.queryExecution.executedPlan.toString
    // the scan description reflects the NARROWED generated range, proving
    // the predicate pruned generation rather than filtering afterwards
    assert(plan.contains("CalendarScan[2024-12-01..2024-12-31]"),
      s"pushdown did not narrow the generated range:\n$plan")
    assert(dec.count() === 31)
    val none = spark.read.format("graft.sources.CalendarSource")
      .option("start", "2024-01-01").option("end", "2024-12-31").load()
      .filter(col("d") > "2025-06-01")
    assert(none.count() === 0)
  }

  test("join_range_bucketed plans an equi hash/merge join, never a cartesian") {
    val plan = planOf("join_range_bucketed")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"no-equi-key range join fell back to a product:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("project_nested_prune reads only the meta.lang subfield from the struct") {
    val plan = planOf("project_nested_prune")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("lang"), readSchema)
    // the sibling subfields (incl. the large text payload) must be pruned
    assert(!readSchema.contains("text") && !readSchema.contains("n_chars"),
      s"nested pruning failed — whole struct read:\n$readSchema")
  }

  test("sample_hash_deterministic stays a single scan + filter (no shuffle)") {
    val plan = planOf("sample_hash_deterministic")
    // global sort for output determinism is the ONLY exchange
    assert("Exchange".r.findAllIn(plan).size <= 1, plan)
  }

  test("join_null_aware_anti plans anti joins, not a per-row subquery") {
    val plan = planOf("join_null_aware_anti")
    // both NOT IN subqueries must lower to join operators (the poisoned
    // one is the null-aware variant); none may survive as an uncorrelated
    // per-row InSubquery probe
    assert("LeftAnti".r.findAllIn(plan).size >= 2, plan)
  }

  test("agg_bitmap_distinct builds bitmaps map-side before the shuffle") {
    val plan = planOf("agg_bitmap_distinct")
    // the scale property: a PARTIAL bitmap_construct_agg runs before the
    // (group, bucket) exchange, so the shuffle carries bitmap blobs — raw
    // ids never cross the wire
    assert(plan.contains("partial_bitmap_construct_agg"), plan)
    assert("bitmap_construct_agg".r.findAllIn(plan).size >= 2, plan)
  }

  test("join_bloom_pruned pushes a runtime bloom filter into the probe scan") {
    val plan = GraftSession.withConfs(spark, ops.Joins.bloomConfs) {
      ops.Joins.bloomProneJoin(spark, dir).queryExecution.executedPlan.toString
    }
    // InjectRuntimeFilter: the lineitem side must carry a might_contain
    // probe fed by a bloom_filter_agg subquery over the filtered orders
    assert(plan.contains("might_contain"), plan)
    assert(plan.contains("bloom_filter_agg"), plan)
  }

  test("sim_ann_ivf_quantized broadcasts the codebook, never shuffles the corpus to it") {
    val plan = planOf("sim_ann_ivf_quantized")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("cdc_deletion_vectors applies deletes as a broadcast anti join") {
    val plan = planOf("cdc_deletion_vectors")
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("win_interval_concurrency is one union + one window pass, no self-join") {
    val plan = planOf("win_interval_concurrency")
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Join"), s"sweep line must not join:\n$plan")
  }

  test("join_asof_broadcast_exec plans the custom exec with a broadcast build") {
    val plan = planOf("join_asof_broadcast_exec")
    // physical nodes print without the Exec suffix
    assert(plan.contains("BroadcastAsOfJoin"), plan)
    // the custom mode means the exchange itself builds the sorted per-key
    // index on the driver — executors receive it ready to probe
    assert(plan.contains("BroadcastExchange AsOfIndexMode"), plan)
  }

  test("broadcast as-of shuffles nothing when the build side needs no prep") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pr = graft.Tables(spark, dir, "events")
      .select(col("event_id").as("pid"), col("user_id").as("uid"),
        col("event_id").as("t"))
    val bd = Seq((1L, 5L, "x"), (2L, 7L, "y")).toDF("user", "at", "tag")
    val plan = graft.plans.BroadcastAsOf
      .joinBackwardBroadcast(pr, bd, "uid", "t", "user", "at")
      .queryExecution.executedPlan.toString
    // probe: scan → custom exec; build: local rows → broadcast. The
    // union+window lowering would hash-exchange the whole probe side here.
    assert(plan.contains("BroadcastAsOfJoin"), plan)
    assert(!plan.contains("hashpartitioning"), s"probe side was shuffled:\n$plan")
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("simhash band join: salted shuffle-hash, NO corpus-sized broadcast (r8 verdict #2)") {
    // r9: the r7 broadcast shape put an O(docs) band table on every
    // executor — a scale-killer at 100 TB. The bounded replacement salts
    // the hot (band_id, band) keys (16-way) and hash-joins after a keyed
    // shuffle: fan-out still spreads across the cluster, but nothing
    // corpus-sized is ever broadcast.
    val plan = planOf("text_neardup_simhash")
    assert(!plan.contains("BroadcastExchange"),
      s"band join must not broadcast an O(corpus) table:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"band join must stay a hash join (SMJ sorts both sides for nothing):\n$plan")
  }

  test("graph analytics reuse one materialized edge list (no rebuild per row)") {
    // the memoized localCheckpoint means downstream plans scan an RDD,
    // not the lineitem self-join
    val plan = planOf("graph_pagerank_fixedpoint")
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("parquet"), s"pagerank re-read parquet:\n$plan")
  }

  test("ts_mad_outlier runs the fused med_mad kernel off ONE window exchange") {
    val plan = planOf("ts_mad_outlier")
    assert(plan.contains("med_mad"), s"native kernel missing:\n$plan")
    // one hash exchange (the user_id window); the interpreted HOF chain
    // (array_sort/transform towers) must be gone
    val hashEx = plan.linesIterator.count(_.contains("hashpartitioning"))
    assert(hashEx == 1, s"expected 1 window exchange, got $hashEx:\n$plan")
    assert(!plan.contains("array_sort"), s"HOF chain resurfaced:\n$plan")
  }

  test("embed_random_projection is map-only and runs the codegen'd dot kernel") {
    val plan = planOf("embed_random_projection")
    assert(!plan.contains("hashpartitioning"),
      s"projection must not shuffle:\n$plan")
    assert(plan.contains("long_dot"), s"native kernel missing:\n$plan")
  }

  test("dedup_candidate_verify never plans an all-pairs join") {
    val plan = planOf("dedup_candidate_verify")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs shape in the verify plan:\n$plan")
  }

  test("winnowing runs off ONE doc_id exchange and the native token hash") {
    val plan = planOf("text_winnowing_fingerprints")
    // one hashpartitioning exchange on doc_id serves both window passes
    // (frame argmin + doc max); the only other exchanges are the
    // distinct's and the output sort's
    val hashEx = "Exchange hashpartitioning\\(doc_id".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected 1 doc_id exchange, got $hashEx:\n$plan")
    assert(plan.contains("portable_token_hashes"),
      "winnowing must hash tokens with the fused native kernel")
  }

  test("binary hamming top-k broadcasts the query sketches, corpus map-side") {
    val plan = planOf("embed_binary_hamming_topk")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "query sketches must broadcast (corpus side never exchanges pre-join)")
    // the corpus scan must flow into the join without a shuffle: the only
    // hashpartitioning exchange is the per-query window's
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 1, s"corpus must not shuffle before scoring:\n$plan")
  }

  test("pca power iteration exchanges only 64-cell aggregates, never vectors") {
    val plan = planOf("embed_pca_power_iter")
    // every hashpartitioning exchange keys on the 64-cell position (shown
    // as `pos` or the optimizer's `_groupingexpression` alias of pos0+1);
    // the corpus itself (vec_id / embedding) is NEVER an exchange key —
    // per iteration only 64 aggregate cells cross the wire
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(e => e.contains("pos") || e.contains("_groupingexpression")),
      s"unexpected exchange key:\n${exchanges.mkString("\n")}")
    assert(exchanges.forall(e =>
      !e.contains("vec_id") && !e.contains("embedding")),
      s"corpus column used as exchange key:\n${exchanges.mkString("\n")}")
  }

  test("sql ASOF JOIN text lowers to the same single-shuffle window plan") {
    val plan = planOf("sql_asof_join_syntax")
    // the parser island's node must be GONE (lowered), leaving the
    // union+window shape: one Window over the key partitioning
    assert(!plan.contains("GraftAsOfJoin"), "logical node leaked to physical")
    assert(plan.contains("Window"), "as-of lowering must be the window form")
  }

  test("join_skew_aqe: OptimizeSkewedJoin splits the hot partition (skew=true)") {
    GraftSession.withConfs(spark, ops.Joins.skewAqeConfs) {
      val df = graft.ops.Joins.skewedSupplierJoin(spark, dir)
      df.collect() // AQE finalizes the plan only on execution
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$plan")
    }
  }

  test("sql_tpch_q3 is a pure broadcast star: two BHJs, TakeOrdered, no SMJ") {
    val plan = planOf("sql_tpch_q3")
    assert(plan.split("BroadcastHashJoin").length - 1 >= 2, plan.take(400))
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("SortMergeJoin"),
      "the fact spine must never shuffle-sort against broadcast dims")
  }

  test("sample_reservoir_topk plans TakeOrderedAndProject (distributed reservoir)") {
    assert(planOf("sample_reservoir_topk").contains("TakeOrderedAndProject"))
  }

  test("join_runtime_bloom_filter: InjectRuntimeFilter plants might_contain on the fact side") {
    GraftSession.withConfs(spark, ops.Joins.bloomConfs) {
      val plan = ops.Joins.bloomFilterJoin(spark, dir)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        "no runtime bloom probe was injected:\n" + plan.take(800))
    }
  }

  test("join_storage_partitioned: reported KeyGroupedPartitioning joins with zero exchanges") {
    GraftSession.withConfs(spark, ops.Joins.spjConfs) {
      val j = ops.Joins.spjJoin(spark, dir)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(600))
      assert(!plan.contains("Exchange"),
        "the co-partitioned DSv2 join must not shuffle either side:\n" + plan.take(1200))
      assert(j.count() > 0)
    }
  }

  test("join_cbo_reorder: column stats flip the fact-fact-first chain to dimension-first") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    ops.Joins.cboLand(spark, dir)
    def leafName(p: LogicalPlan): Option[String] = p match {
      case l: LogicalRelation => l.catalogTable.map(_.identifier.table)
      case _ => None
    }
    // the badly-written chain contains a join whose WHOLE subtree is the
    // two fact tables iff the literal order survived optimization
    def factFactJoin(cbo: Boolean): Boolean =
      GraftSession.withConfs(spark, cboConfs(cbo)) {
        val plan = spark.sql(ops.Joins.cboStarSql).queryExecution.optimizedPlan
        plan.collect { case j: Join => j }.exists { j =>
          val names = j.collectLeaves().flatMap(leafName(_))
          names.nonEmpty && names.toSet.subsetOf(Set("lineitem", "orders"))
        }
      }
    assert(factFactJoin(cbo = false),
      "without CBO the literal order must keep lineitem ⋈ orders at the bottom")
    assert(!factFactJoin(cbo = true),
      "CostBasedJoinReorder should eliminate the fact-fact-first join given stats")
  }

  test("sql_cbo_join_reorder: 3-table star reorders with stats, stays literal without (r12 verdict #4)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    ops.Joins.cbo3Land(spark, dir)
    def leafName(p: LogicalPlan): Option[String] = p match {
      case l: LogicalRelation => l.catalogTable.map(_.identifier.table)
      case _ => None
    }
    // literal order survived iff some join's whole subtree is the two
    // fact tables (lineitem ⋈ orders before customer ever joins)
    def factFactJoin(db: String, cbo: Boolean): Boolean =
      GraftSession.withConfs(spark, cboConfs(cbo)) {
        val plan = spark.sql(ops.Joins.cbo3StarSql(db))
          .queryExecution.optimizedPlan
        plan.collect { case j: Join => j }.exists { j =>
          val names = j.collectLeaves().flatMap(leafName(_))
          names.nonEmpty && names.toSet.subsetOf(Set("lineitem", "orders"))
        }
      }
    // all three leverage points: the REORDER needs stats AND cbo — the
    // flag alone (no ANALYZE) and the stats alone (cbo off) both keep
    // the literal fact-fact-first order
    assert(!factFactJoin("graft_cbo3a", cbo = true),
      "with column stats + CBO the selective customer join must come first")
    assert(factFactJoin("graft_cbo3n", cbo = true),
      "CBO without ANALYZE stats must not reorder (rowCount prices the reorder)")
    assert(factFactJoin("graft_cbo3a", cbo = false),
      "stats without CBO must keep the literal order")
    // and the answer is order-invariant: analyzed+cbo ≡ plain
    def answer(cbo: Boolean) = GraftSession.withConfs(spark, cboConfs(cbo)) {
      spark.sql(ops.Joins.cbo3StarSql("graft_cbo3a")).collect().toSeq
    }
    assert(answer(cbo = true) === answer(cbo = false),
      "reorder must never change the answer")
  }

  test("scan_parquet_agg_pushdown: the scan carries PushedAggregation (metadata-only)") {
    val src = ops.Sources.aggPushdownStage(spark, dir)
    GraftSession.withConfs(spark, ops.Sources.aggPushdownConfs) {
      val plan = ops.Sources.aggPushdownQuery(spark, src)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation"),
        "aggregate was not pushed into the parquet scan:\n" + plan.take(1500))
      assert(plan.toLowerCase.contains("min(l_orderkey)"), plan.take(1500))
    }
  }

  test("scan_manifest_agg_pushdown: the connector answers from manifest stats (no aggregate exec)") {
    import org.apache.spark.sql.functions._
    val fmt = "graft.sources.ManifestSink"
    val out = graft.util.tempDir("graft_mfagg_spec_")
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .repartition(4)
      .write.format(fmt).option("path", out).mode("overwrite").save()
    val t = spark.read.format(fmt).option("path", out).load()
    val agg = t.agg(count(lit(1)), min(col("o_orderkey")), max(col("o_orderkey")))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"),
      "aggregate was not pushed into the manifest scan:\n" + plan.take(1200))
    assert(!plan.contains("HashAggregate"),
      "complete pushdown must eliminate the aggregate exec:\n" + plan.take(1200))
    // grouped aggregates must NOT push (manifest stats are table-global)
    val grouped = t.groupBy(col("o_custkey") % 2).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!grouped.contains("PushedAggregation"))
  }

  test("join_v2_stats_broadcast: reported connector stats drive a hint-free broadcast") {
    val plan = planOf("join_v2_stats_broadcast")
    assert(plan.contains("BroadcastHashJoin"),
      "small manifest dim did not auto-broadcast (stats not reported?):\n" +
        plan.take(900))
    assert(plan.contains("ManifestScan"),
      "broadcast build side should be the v2 manifest scan:\n" + plan.take(900))
  }

  test("sink_rebalance_partitions: the write plans a RebalancePartitions shuffle") {
    import org.apache.spark.sql.functions._
    val plan = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
      .hint("rebalance", col("l_orderkey"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("RebalancePartitions"),
      "REBALANCE hint did not reach the plan:\n" + plan.take(800))
  }

  test("sink_partition_evolution: each generation prunes on its own partition spec") {
    import org.apache.spark.sql.functions._
    val (g1, g2) = ops.Sources.evolutionStage(spark, dir)
    val p1 = spark.read.parquet(g1)
      .filter(col("m") === lit("1994-03-01").cast("date"))
      .queryExecution.executedPlan.toString
    assert(p1.contains("PartitionFilters") && p1.contains("m#"),
      "gen1 must prune on month:\n" + p1.take(600))
    val p2 = spark.read.parquet(g2)
      .filter(col("m") === lit("1999-03-01").cast("date") && col("rf") === "R")
      .queryExecution.executedPlan.toString
    val pf = p2.substring(p2.indexOf("PartitionFilters"))
      .takeWhile(_ != ']')
    assert(pf.contains("m#") && pf.contains("rf#"),
      "gen2 must prune on BOTH month and returnflag:\n" + pf)
  }

  test("scan_json_variant: landed-variant extraction carries NO JSON parser; the string path re-parses per field") {
    import org.apache.spark.sql.functions._
    // land the payload once as (string, variant) side by side
    val tmp = util.tempDir("graft_planshape_var_")
    Tables.events(spark, dir)
      .select(col("event_id"), col("props").as("js"),
        expr("parse_json(props)").as("v"))
      .write.mode("overwrite").parquet(tmp)
    val fourFromVariant = spark.read.parquet(tmp)
      .select(
        expr("variant_get(v, '$.k', 'bigint')"),
        expr("variant_get(v, '$.k', 'string')"),
        expr("try_variant_get(v, '$.k', 'double')"),
        expr("variant_get(v, '$.k', 'bigint')").plus(lit(1L)))
      .queryExecution.executedPlan.toString
    val fourFromString = spark.read.parquet(tmp)
      .select(
        get_json_object(col("js"), "$.k").cast("long"),
        get_json_object(col("js"), "$.k"),
        get_json_object(col("js"), "$.k").cast("double"),
        get_json_object(col("js"), "$.k").cast("long").plus(lit(1L)))
      .queryExecution.executedPlan.toString
    // the variant scan decodes an already-encoded binary — no JSON parse
    // node anywhere in the plan; each access is an offset lookup
    assert(!fourFromVariant.contains("parse_json") &&
      !fourFromVariant.contains("from_json"),
      "variant extraction must not re-parse JSON:\n" + fourFromVariant.take(800))
    assert(fourFromVariant.contains("variant_get"))
    // the string path pays one full parse PER FIELD per row
    assert("get_json_object".r.findAllIn(fourFromString).size >= 4,
      "expected 4 per-field JSON parses:\n" + fourFromString.take(800))
  }

  test("join_aqe_bhj_conversion: AQE converts the denied-broadcast join to BHJ at runtime") {
    GraftSession.withConfs(spark, ops.Joins.aqeBhjConfs) {
      val df = ops.Joins.aqeBhjJoin(spark, dir)
      df.collect() // AQE finalizes only on execution
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AdaptiveSparkPlan"), plan.take(200))
      assert(plan.contains("BroadcastHashJoin"),
        "AQE did not convert the shuffle join to a broadcast join:\n" + plan.take(800))
    }
  }

  test("sql_mv_rewrite: the executed plan scans the MV, never the fact; unsupported measures leave the fact scan intact") {
    val df = SparkEntry.queries("sql_mv_rewrite")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mv_rw_"),
      s"rewritten plan must scan the MV:\n${plan.take(800)}")
    assert(!plan.contains("lineitem.parquet"),
      s"rewritten plan must not touch the fact:\n${plan.take(800)}")
    // negative control: avg() is NOT answerable from the rollup exactly,
    // so the rule must not fire — conservative matching is the soundness
    // guarantee
    val mvDir = graft.util.tempDir("graft_mv_neg_")
    Tables(spark, dir, "lineitem")
      .groupBy(org.apache.spark.sql.functions.col("l_returnflag"),
        org.apache.spark.sql.functions.col("l_linestatus"))
      .agg(org.apache.spark.sql.functions.sum("l_quantity").as("sum_qty"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.mode("overwrite").parquet(mvDir)
    graft.plans.MvRegistry.register("lineitem.parquet", mvDir)
    try {
      val neg = Tables(spark, dir, "lineitem")
        .groupBy(org.apache.spark.sql.functions.col("l_returnflag"))
        .agg(org.apache.spark.sql.functions.avg("l_quantity").as("a"))
      val negPlan = neg.queryExecution.optimizedPlan.toString
      assert(!negPlan.contains("graft_mv_neg_"),
        s"avg() must not rewrite (not exactly answerable):\n$negPlan")
      // filtered fact scans must not rewrite either (no predicate
      // containment analysis in the demo contract)
      val filtered = Tables(spark, dir, "lineitem")
        .filter(org.apache.spark.sql.functions.col("l_quantity") > 10)
        .groupBy(org.apache.spark.sql.functions.col("l_returnflag"))
        .agg(org.apache.spark.sql.functions.sum("l_quantity").as("sum_qty"))
      val fPlan = filtered.queryExecution.optimizedPlan.toString
      assert(!fPlan.contains("graft_mv_neg_"),
        s"a filtered scan must not rewrite:\n$fPlan")
    } finally graft.plans.MvRegistry.clear()
  }

  test("sql_column_mask: the masked view still column-prunes and pushes consumer filters to the scan (r13 verdict #6)") {
    // register the policy view (and the base tables) exactly as the row does
    SparkEntry.queries("sql_column_mask")(spark, dir)
    // a consumer that never touches the masked columns must not read
    // them: governance cannot cost a wider scan
    val pruned = spark.sql(
      """SELECT c_mktsegment FROM customer_masked
        |WHERE c_custkey < 100""".stripMargin)
    val plan = pruned.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("c_custkey") &&
      readSchema.contains("c_mktsegment"), readSchema)
    assert(!readSchema.contains("c_name") && !readSchema.contains("c_acctbal"),
      s"masked columns must prune out of the scan: $readSchema")
    // ...and the consumer's own predicate reaches the parquet scan
    // THROUGH the view
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThan(c_custkey,100)"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("sql_row_filter_policy: enforcement is a broadcast semi-join; consumer filters still reach the scan") {
    SparkEntry.queries("sql_row_filter_policy")(spark, dir)
    val q = spark.sql(
      """SELECT count(*) FROM customer_rls WHERE c_custkey < 100""")
    val plan = q.queryExecution.executedPlan.toString
    // the policy IN-subquery plans as a broadcast LeftSemi against the
    // O(grants) relation — never a shuffle of the governed table
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan.take(1200))
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThan(c_custkey,100)"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("text_pack_sequences_bpe prunes the documents scan to the consumed columns") {
    // the encode + packing pipeline touches doc_id/text/lang/source;
    // n_chars must never reach the scan — at 100 TB an unpruned text
    // sidecar column is the difference between one pass and two
    val plan = planOf("text_pack_sequences_bpe")
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(reads.contains("text") && !reads.contains("n_chars"), reads)
  }

  test("sim_knn_graph_compact serves from the staged sweep (no join at read time)") {
    // the compact row's heavy work (repair scoring + one NN-Descent
    // round) happens ONCE behind the session-staged localCheckpoint;
    // the row itself must plan as a checkpoint read + filter + sort —
    // the build-once/serve-many discipline, visible in the plan
    val plan = planOf("sim_knn_graph_compact")
    assert(plan.contains("ExistingRDD"), plan.take(800))
    assert(!plan.contains("Join"), plan.take(800))
  }

  test("source ratchet: unpartitioned window specs do not grow in any file") {
    // `Window.orderBy(` with no partitionBy moves every row into one
    // partition (Spark warns "No Partition Defined for Window operation").
    // The counts below are the sites to rewrite (ROADMAP "Carried"); lower
    // a count when a site is rewritten, never raise one.
    val allowed = Map(
      "src/main/scala/graft/ops/Aggregates.scala" -> 13,
      "src/main/scala/graft/ops/Cdc.scala" -> 1,
      "src/main/scala/graft/ops/Eval.scala" -> 4,
      "src/main/scala/graft/ops/Quality.scala" -> 1,
      "src/main/scala/graft/ops/SimOps.scala" -> 1,
      "src/main/scala/graft/ops/Sources.scala" -> 1,
      "src/main/scala/graft/ops/TextOps.scala" -> 11,
      "src/main/scala/graft/ops/Windows.scala" -> 25)
    val grown = SparkTestBase.occurrences("src/main/scala", "Window.orderBy(")
      .filter { case (f, n) => n > allowed.getOrElse(f, 0) }
    assert(grown.isEmpty, s"new unpartitioned window specs (partition them, or use a two-phase form): $grown")
  }
}
