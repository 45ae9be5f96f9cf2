package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness (r8 verdict #4): empirically checks the heavy
  * tail's 100×-scale claims by timing each query at sf0.1 AND at a
  * synthesized ×K copy of sf0.1 (default K=10 ≈ sf1), then reporting the
  * growth ratio. A linear operator should grow ≲ K (plus constant
  * overheads that AMORTIZE at scale, so ratios well under K are common);
  * anything super-linear in K is a scale bug.
  *
  * The scaled corpus is key-shifted so join relationships hold within
  * each copy (order/part/supp/cust keys shift together), and document
  * text is PERTURBED per copy (a per-copy suffix token) so near-dup
  * workloads see realistic mostly-distinct fingerprints rather than K
  * exact clones of every doc (which would quadratically inflate LSH
  * bucket collisions — a data-semantics change, not an engine cost).
  * Dimension tables (region, nation) keep their real-world cardinality.
  *
  * Usage: runMain graft.ScaleStress [factor] [query...]
  * Prints one JSON line per query and a trailing summary line; results
  * are recorded in SCALE.md §stress.
  */
object ScaleStress {
  private val Shift = 1000000000L

  /** Tables whose long keys shift per copy so intra-copy joins survive. */
  private val keyShifts: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def buildScaled(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int, only: Set[String] = Set.empty): Unit = {
    // `only` restricts staging to the tables a targeted stress actually
    // reads (e.g. the ×100 streaming tier needs events+orders, not a
    // ×100 lineitem) — dims and unlisted tables still land real-sized so
    // any query against the scaled dir resolves
    Catalog.tableNames.foreach { t =>
      val df = spark.read.parquet(s"$baseDir/$t.parquet")
      val wantScale = keyShifts.contains(t) && (only.isEmpty || only(t))
      val scaled =
        if (!wantScale) df // dims (and un-targeted facts) stay real-sized
        else (0 until factor).map { k =>
          val shifted = keyShifts(t).foldLeft(df) { (d, c) =>
            d.withColumn(c, col(c) + lit(Shift * k))
          }
          if (t == "documents" && k > 0)
            // perturb text so copies are near- but not exact-duplicates
            shifted.withColumn("text", concat(col("text"), lit(s" xk$k")))
          else shifted
        }.reduce(_ union _)
      scaled.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** The heavy tail from BENCH_DETAIL: the two pipelines, the near-dup
    * tier, the graph tier, ANN, and the stateful stream rows.
    */
  val defaultQueries: Seq[String] = Seq(
    "pipeline_eval_holdout", "pipeline_dap_replica", "pipeline_training_mix",
    "pipeline_corpus_clean", "text_neardup_simhash", "text_neardup_minhash",
    "dedup_candidate_verify", "graph_pagerank_fixedpoint",
    "graph_label_propagation", "graph_triangle_count", "sim_cosine_ann_lsh",
    "sim_pq_topk", "stream_stateful_agg", "stream_state_reader",
    "stream_merge_into")

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val queries = if (args.length > 1) args.drop(1).toSeq else defaultQueries
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    util.sweepStaleScratch()
    val spark = GraftSession.build(cpus.toInt)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val scaledDir = util.tempDir(s"graft_stress_x${factor}_")
    val t0 = System.nanoTime()
    // SPARK_GRAFT_STRESS_TABLES=orders,customer restricts ×K staging to
    // the tables the targeted queries read (the ×100 tiers would
    // otherwise stage a ×100 lineitem nobody scans)
    val only = sys.env.get("SPARK_GRAFT_STRESS_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    buildScaled(spark, baseDir, scaledDir, factor, only)
    println(f"""{"stress":"build","factor":$factor,"sec":${(System.nanoTime() - t0) / 1e9}%.1f}""")

    // (first, min-of-2): steady-state cost is the ratio signal; the
    // first run is reported too because the staged rows (kNN-graph
    // builds, BPE merge table) amortize their build across a session —
    // first ≈ build+serve, min ≈ serve, and BOTH bands matter at scale
    // (build grows with the corpus, serve must not).
    def time(name: String, dir: String): (Double, Double) = {
      val fn = SparkEntry.queries(name)
      def once(): Double = {
        val s = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - s) / 1e9
      }
      val first = once()
      (first, math.min(first, once()))
    }

    val rows = queries.map { q =>
      val (baseFirst, base) = time(q, baseDir)
      val (scaledFirst, scaled) = time(q, scaledDir)
      val ratio = scaled / math.max(base, 1e-9)
      val firstRatio = scaledFirst / math.max(baseFirst, 1e-9)
      println(f"""{"stress":"$q","base_sec":$base%.2f,"x${factor}_sec":$scaled%.2f,"ratio":$ratio%.1f,"base_first_sec":$baseFirst%.2f,"x${factor}_first_sec":$scaledFirst%.2f,"first_ratio":$firstRatio%.1f}""")
      (q, base, scaled, ratio)
    }
    val worst = rows.maxBy(_._4)
    println(f"""{"stress":"summary","factor":$factor,"n":${rows.size},"worst":"${worst._1}","worst_ratio":${worst._4}%.1f}""")
    spark.stop()
  }
}
