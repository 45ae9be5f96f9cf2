package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral guards for the round-13 additions — properties the DuckDB
  * hash oracle can't see (it would agree with a same-on-both-sides bug).
  */
class Round13Spec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sfDir

  test("sim_knn_graph_nndescent: one round never loses recall vs its seed") {
    import spark.implicits._
    // brute top-3 per query = the rank<=3 prefix of the brute top-5 row
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, dir)
      .filter(col("rank") <= 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // the seed graph restricted to the query subset IS the LSH row's
    // rank<=3 prefix (same bucket candidates, same exact re-score)
    val seed = SparkEntry.queries("sim_cosine_ann_lsh")(spark, dir)
      .filter(col("rank") <= 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val refined = SparkEntry.queries("sim_knn_graph_nndescent")(spark, dir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rSeed = (brute intersect seed).size.toDouble / brute.size
    val rRef = (brute intersect refined).size.toDouble / brute.size
    // the round's candidate set is a superset of the seed's, re-scored
    // exactly — per-query top-3 can only improve or hold
    assert(rRef >= rSeed, s"NN-Descent round lost recall: $rRef < $rSeed")
    assert(rRef > 0.2, s"refined recall too low: $rRef")
  }

  test("restoreVersion is metadata-only and preserves history") {
    val fmt = "graft.sources.ManifestSink"
    val out = graft.util.tempDir("graft_restore_spec_")
    val o = Tables(spark, dir, "orders").select(col("o_orderkey"))
    o.filter(col("o_orderkey") % 2 === 0)
      .write.format(fmt).option("path", out).mode("overwrite").save()
    o.filter(col("o_orderkey") % 2 === 1)
      .write.format(fmt).option("path", out).mode("append").save()
    val filesBefore = new java.io.File(s"$out/data").list().toSet
    val v = graft.sources.ManifestSink.restoreVersion(out, 1)
    assert(v === 3)
    // metadata-only: restore wrote no data files
    assert(new java.io.File(s"$out/data").list().toSet === filesBefore)
    // current == v1 content
    val cur = spark.read.format(fmt).option("path", out).load().count()
    val v1 = spark.read.format(fmt).option("path", out)
      .option("versionAsOf", "1").load().count()
    assert(cur === v1)
    // history preserved: the rolled-back v2 still reads
    val v2 = spark.read.format(fmt).option("path", out)
      .option("versionAsOf", "2").load().count()
    assert(v2 > v1)
    // the restore is itself restorable: roll forward to v2 again
    val v4 = graft.sources.ManifestSink.restoreVersion(out, 2)
    assert(v4 === 4)
    assert(spark.read.format(fmt).option("path", out).load().count() === v2)
  }

  test("restoreVersion carries the current txn set and writer generation forward") {
    val fmt = "graft.sources.ManifestSink"
    val out = graft.util.tempDir("graft_restore_txn_")
    val o = Tables(spark, dir, "orders").select(col("o_orderkey"))
    def append(mod: Int, txn: String, gen: Long): Unit =
      o.filter(col("o_orderkey") % 2 === mod)
        .write.format(fmt).option("path", out).option("txnId", txn)
        .option("writerGeneration", gen.toString).mode("append").save()
    append(0, "t1", 1)
    append(1, "t2", 2)
    val v = graft.sources.ManifestSink.restoreVersion(out, 1)
    assert(v === 3)
    val st = graft.sources.ManifestSink.readState(out, Some(3)).get
    // v1's files, but the CURRENT txns and generation: a replay of t2
    // stays a replay after the rollback, and generation 1 stays fenced
    assert(st.files === graft.sources.ManifestSink.readState(out, Some(1)).get.files)
    assert(st.txns === Set("t1", "t2"))
    assert(st.generation === 2L)
    append(1, "t2", 2)
    assert(graft.sources.ManifestSink.latestVersion(out) === 3, "a replayed txn committed")
    intercept[Throwable] { append(1, "t3", 1) }
    assert(graft.sources.ManifestSink.latestVersion(out) === 3, "a fenced writer committed")
  }

  test("stat_g_test agrees in direction with stat_chi_square's contingency logic") {
    val g = SparkEntry.queries("stat_g_test")(spark, dir).collect()(0)
    // a real fixture dependence or independence — either way G >= 0 and
    // the cell count is the full cross of observed margins
    assert(g.getLong(2) >= 0L, s"G statistic negative: ${g.getLong(2)}")
    assert(g.getLong(0) >= 2L, "degenerate contingency table")
  }

  test("stat_tost_equivalence: flag is exactly the pinned-z rule") {
    val r = SparkEntry.queries("stat_tost_equivalence")(spark, dir).collect()(0)
    val zLow = r.getDouble(3)
    val zUp = r.getDouble(4)
    val flag = r.getBoolean(5)
    assert(flag === (zLow >= 1.65 && zUp <= -1.65))
    // TOST internal consistency: z_low > z_up always (margin is positive)
    assert(zLow > zUp)
  }

  test("stat_cochran_q: statistic is non-negative and bounded by df scaling") {
    val r = SparkEntry.queries("stat_cochran_q")(spark, dir).collect()(0)
    val q = r.getLong(4)
    assert(q >= 0L, s"Cochran Q negative: $q")
    // subjects with orders in-window exist at every sf
    assert(r.getLong(0) > 0L)
  }

  test("win_hhi_concentration: HHI in [1/n, 1] scaled to basis points") {
    SparkEntry.queries("win_hhi_concentration")(spark, dir).collect().foreach { r =>
      val n = r.getLong(1)
      val hhi = r.getLong(3)
      assert(hhi <= 10000L, s"HHI > 1: $hhi bp")
      assert(hhi * n >= 10000L - n, // floor rounding slack
        s"HHI below equal-share floor: $hhi bp with $n suppliers")
    }
  }

  test("graph_harmonic_centrality: bounded by degree expansion and symmetric") {
    val h = SparkEntry.queries("graph_harmonic_centrality")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(h.nonEmpty)
    h.foreach { case (node, reached, hx6) =>
      // every reached node contributes between 6/3=2 and 6/1=6 units
      assert(hx6 >= 2 * reached && hx6 <= 6 * reached,
        s"node $node: harmonic_x6 $hx6 outside [2, 6]x$reached")
    }
  }

  test("multimodal_caption_audit: funnel counts are consistent") {
    val rows = SparkEntry.queries("multimodal_caption_audit")(spark, dir).collect()
    val total = rows.map(_.getLong(1)).sum
    val docs = Tables(spark, dir, "documents").count()
    assert(total === docs, "audit must cover every pair exactly once")
    rows.foreach { r =>
      val n = r.getLong(1)
      val admitted = r.getLong(7)
      val rejects = (2 to 6).map(r.getLong(_))
      assert(admitted <= n)
      // a pair is admitted iff NO gate rejected it, so the max single-gate
      // reject count bounds n - admitted from below
      assert(n - admitted >= rejects.max,
        s"admitted $admitted inconsistent with gate rejects $rejects of $n")
      assert(n - admitted <= rejects.sum,
        s"more rejected than individual gates explain: $rejects of $n")
    }
  }

  test("eval_dpo_margin: accuracy matches the sign census of margins") {
    val rows = SparkEntry.queries("eval_dpo_margin")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1)
      val correct = r.getLong(2)
      assert(correct <= n)
      val acc = r.getLong(3)
      assert(acc === math.floor(correct.toDouble / n * 1000000 + 0.5).toLong)
    }
  }

  test("eval_roc_curve_deciles: curve is monotone and ends at (1, 1)") {
    val rows = SparkEntry.queries("eval_roc_curve_deciles")(spark, dir).collect()
    assert(rows.length === 10)
    val tpr = rows.map(_.getLong(3))
    val fpr = rows.map(_.getLong(4))
    assert(tpr.zip(tpr.tail).forall { case (a, b) => a <= b }, "TPR not monotone")
    assert(fpr.zip(fpr.tail).forall { case (a, b) => a <= b }, "FPR not monotone")
    assert(tpr.last === 1000000L && fpr.last === 1000000L)
  }

  test("stat_odds_ratio_ci: CI brackets the point estimate; flag consistent") {
    val r = SparkEntry.queries("stat_odds_ratio_ci")(spark, dir).collect()(0)
    val (or, lo, hi) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
    assert(lo <= or && or <= hi, s"CI [$lo, $hi] does not bracket OR $or")
    assert(r.getBoolean(7) === (lo > 1.0 || hi < 1.0))
    // a 50/50 hash split of the same outcome should NOT show an effect
    assert(!r.getBoolean(7), "null-effect fixture flagged significant")
  }

  test("text_boilerplate_linefreq: token accounting is exact") {
    val out = SparkEntry.queries("text_boilerplate_linefreq")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === toks.keySet, "every doc must be line-audited")
    out.foreach { case (d, (nLines, nBoiler, tot, kept)) =>
      // every doc carries its source's 10-token banner prefix
      assert(tot === toks(d) + 10, s"doc $d: token total $tot != ${toks(d)} + 10")
      assert(kept <= tot - 10, s"doc $d: banner tokens survived ($kept of $tot)")
      assert(nBoiler >= 1 && nBoiler <= nLines,
        s"doc $d: banner line not flagged ($nBoiler of $nLines)")
      assert(nLines === (toks(d) + 10 + 9) / 10,
        s"doc $d: $nLines lines of ${toks(d)} + 10 tokens")
    }
  }

  test("graph_betweenness_seeds: dependencies non-negative, bridges found") {
    val rows = SparkEntry.queries("graph_betweenness_seeds")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= 0L, s"negative dependency at node ${r.getLong(0)}")
      assert(r.getLong(1) >= 1L)
    }
    assert(rows.exists(_.getLong(2) > 0L), "no node brokers any path")
  }

  test("stream_static_reresolve: batch 2 sees the dim commit, batch 1 does not") {
    val rows = SparkEntry.queries("stream_static_reresolve")(spark, dir).collect()
    val (b1, b2) = rows.partition(_.getLong(3) == 1L)
    assert(b1.nonEmpty && b2.nonEmpty && b1.length === b2.length)
    assert(b1.forall(r => r.isNullAt(2) || !r.getString(2).endsWith("_v2")),
      "batch 1 leaked the post-commit dim")
    val recoded = b2.filter(r => !r.isNullAt(2) && r.getString(2).endsWith("_v2"))
    assert(recoded.nonEmpty, "batch 2 never saw the dim commit")
    assert(recoded.forall(_.getLong(1) % 3 == 0),
      "recode leaked outside the custkey % 3 = 0 set")
  }

  test("sql_merge_schema_evolution: target schema widened, old rows null-filled") {
    val out = SparkEntry.queries("sql_merge_schema_evolution")(spark, dir)
    assert(out.schema.fieldNames.toSeq ===
      Seq("o_orderkey", "o_totalprice", "o_orderpriority"))
    val rows = out.collect()
    // rows only in the target (odd keys not in source) carry NULL priority
    val targetOnly = rows.filter(r => r.getLong(0) % 2 != 0 && r.getLong(0) % 3 != 0)
    assert(targetOnly.forall(_.isNullAt(2)),
      "pre-evolution rows must null-fill the evolved column")
    // matched/inserted source rows carry the source's value
    val fromSource = rows.filter(r => r.getLong(0) % 2 == 0)
    assert(fromSource.nonEmpty && fromSource.forall(!_.isNullAt(2)))
  }

  test("pipeline_fim_transform: spans partition the doc and the gate is ~50%") {
    val out = SparkEntry.queries("pipeline_fim_transform")(spark, dir).collect()
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // prefix+middle+suffix always reassembles the full char count
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) === docs(id),
        s"doc $id spans don't sum to length")
    }
    val applied = out.count(_.getBoolean(1))
    assert(applied > out.length / 4 && applied < out.length * 3 / 4,
      s"FIM gate far from 50%: $applied/${out.length}")
    // non-FIM docs hash the ORIGINAL text (pass-through, not re-serialized)
    val plain = out.filter(!_.getBoolean(1))
    assert(plain.forall(r => r.getLong(3) == 0L && r.getLong(4) == 0L))
  }

  test("eval_token_f1: micro-F1 bounded and overlap >= 20-token window floor") {
    val rows = SparkEntry.queries("eval_token_f1")(spark, dir).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val f1 = r.getLong(3)
      // pred[1..30] and ref[11..40] share positions 11..30 of the SAME doc
      // verbatim, so overlap >= 20 per doc that has >= 30 tokens — micro-F1
      // can't drop below ~2*20/70 and can't exceed 1
      assert(f1 > 400000L && f1 <= 1000000L, s"$r out of band")
    }
  }

  test("graph_eigenvector_power: max-normalized, hub tops the leaf") {
    val rows = SparkEntry.queries("graph_eigenvector_power")(spark, dir).collect()
    assert(rows.head.getLong(1) === 1000000L, "max node must pin at 1.0")
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 1000000L))
    // eigenvector centrality must separate nodes (not a constant vector):
    // the sparsified graph is not regular
    assert(rows.map(_.getLong(1)).distinct.length > 5)
  }

  test("ts_hurst_rs: block filter keeps only full blocks; hurst in (0,1.5)") {
    val rows = SparkEntry.queries("ts_hurst_rs")(spark, dir).collect()
    assert(rows.nonEmpty)
    // every kept m has at least one full block and the same hurst constant
    val hs = rows.map(_.getDouble(3)).distinct
    assert(hs.length === 1, s"hurst must be one constant, got ${hs.toSeq}")
    assert(hs.head > 0.0 && hs.head < 1.5, s"implausible hurst ${hs.head}")
    rows.foreach(r => assert(r.getLong(1) > 0))
  }

  test("ts_sample_entropy: B-matches are a subset of A-matches") {
    val r = SparkEntry.queries("ts_sample_entropy")(spark, dir).collect().head
    val (a, b) = (r.getLong(0), r.getLong(1))
    // every 3-step match is by definition also a 2-step match
    assert(b <= a, s"B=$b must be <= A=$a")
    assert(a > 0, "tolerance must admit at least one template match")
    if (b > 0) assert(r.getLong(2) >= 0L, "SampEn = -ln(B/A) >= 0 when B<=A")
  }

  test("stat_dunn_posthoc: antisymmetric pairs, all 10 priority pairs present") {
    val rows = SparkEntry.queries("stat_dunn_posthoc")(spark, dir).collect()
    assert(rows.length === 10, s"expected C(5,2)=10 pairs, got ${rows.length}")
    // mean ranks are a fixed total order; z(i,j) uses R_i - R_j so the
    // pair ordering (i<j) fixes each sign — no |z| should be absurd
    rows.foreach(r => assert(math.abs(r.getLong(2)) < 50000000L, r.toString))
  }

  test("stat_page_trend and friedman agree on the block/treatment frame") {
    val p = SparkEntry.queries("stat_page_trend")(spark, dir).collect().head
    val f = SparkEntry.queries("stat_friedman_test")(spark, dir).collect().head
    assert(p.getLong(0) === f.getLong(1), "same block count")
    assert(p.getLong(1) === f.getLong(0), "same treatment count")
    // L is a sum of j*R_j with ranks >= 1: bounded by b*k(k+1)/2 * k
    val (b, k, l) = (p.getLong(0), p.getLong(1), p.getLong(2))
    assert(l >= b * k * (k + 1) / 2 && l <= b * k * k * (k + 1) / 2,
      s"Page L=$l outside feasible band")
  }

  test("text_vocab_coverage: monotone in k and bounded by 1") {
    val rows = SparkEntry.queries("text_vocab_coverage")(spark, dir).collect()
    assert(rows.length === 3)
    val cov = rows.map(_.getLong(5))
    assert(cov.sameElements(cov.sorted), "coverage must grow with vocab k")
    assert(cov.last <= 1000000L && cov.head > 0L)
    // the fixture vocab is tiny — 800-word vocab must cover everything
    val used = rows.map(r => (r.getLong(0), r.getLong(1)))
    used.foreach { case (k, u) => assert(u <= k) }
  }

  test("text_js_divergence: symmetric-bounded in [0,1] bit for all lang pairs") {
    val rows = SparkEntry.queries("text_js_divergence")(spark, dir).collect()
    assert(rows.length === 10, s"C(5,2)=10 lang pairs, got ${rows.length}")
    rows.foreach { r =>
      val j = r.getDouble(3)
      assert(j >= 0.0 && j <= 1.0, s"JSD out of [0,1]: $r")
    }
  }

  test("embed_zscore_whiten: per-dim z-scores keep |z| plausible") {
    val rows = SparkEntry.queries("embed_zscore_whiten")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) < 10000000L, s"max z > 10 sigma: $r")   // e6
      assert(r.getLong(3) > -10000000L, s"min z < -10 sigma: $r")
    }
    // whitening must not collapse: checksums differ across vectors
    assert(rows.map(_.getLong(1)).distinct.length > rows.length / 2)
  }

  test("win_cohort_ltv: cumulative within cohort is monotone") {
    val rows = SparkEntry.queries("win_cohort_ltv")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byOff = rs.sortBy(_.getLong(1)).map(_.getLong(3))
      assert(byOff.sameElements(byOff.sorted), "cum LTV must be monotone")
    }
    // offset 0 always exists: the first order IS the cohort assignment
    assert(rows.groupBy(_.getLong(0)).forall(_._2.exists(_.getLong(1) == 0L)))
  }

  test("agg_pythagorean_means: AM >= GM >= HM per group") {
    val rows = SparkEntry.queries("agg_pythagorean_means")(spark, dir).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val am = r.getLong(2) / 100.0
      val (gm, hm) = (r.getDouble(3), r.getDouble(4))
      assert(am >= gm && gm >= hm, s"AM>=GM>=HM violated: $r")
      assert(hm > 0.0)
    }
  }

  test("stat_sign_test: winners partition the non-tied pairs of wilcoxon's frame") {
    val s = SparkEntry.queries("stat_sign_test")(spark, dir).collect().head
    val w = SparkEntry.queries("stat_wilcoxon_signed_rank")(spark, dir)
      .collect().head
    // both tests drop ties from the SAME 1995/1996 paired-spend frame
    assert(s.getLong(0) + s.getLong(1) === w.getLong(0),
      "sign-test pair count must equal wilcoxon's n_pairs")
    assert(s.getLong(2) >= 0L, "continuity-corrected |z| is non-negative")
  }

  test("stat_cramer_von_mises: T >= its theoretical minimum and U positive") {
    val r = SparkEntry.queries("stat_cramer_von_mises")(spark, dir)
      .collect().head
    val (n, m) = (r.getLong(0), r.getLong(1))
    assert(n > 0 && m > 0)
    assert(r.getLong(2) > 0, "normalized U must be positive")
    // T = U/(nmN) - (4mn-1)/(6N) >= -1/(6N) always (CvM lower bound is
    // attained only by perfectly interleaved samples)
    val lb = -1000000.0 / (6.0 * (n + m))
    assert(r.getLong(3) >= lb - 1, s"T below theoretical floor: $r")
  }

  test("dq_monotonic_violations: rates bounded, regression magnitude consistent") {
    val rows = SparkEntry.queries("dq_monotonic_violations")(spark, dir)
      .collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "violations <= steps")
      assert(r.getLong(3) <= 1000000L)
      if (r.getLong(2) == 0L)
        assert(r.getLong(4) === 0L, "no violations -> zero max regression")
    }
  }

  test("text_vocab_overlap: jaccard symmetric-bounded, heads capped at 200") {
    val rows = SparkEntry.queries("text_vocab_overlap")(spark, dir).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getLong(2) <= 200L, "intersection can't exceed head size")
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L)
    }
  }

  test("geo_dbscan_core: census partitions the point set") {
    val rows = SparkEntry.queries("geo_dbscan_core")(spark, dir).collect()
    val total = rows.map(_.getLong(1)).sum
    assert(total === Tables(spark, dir, "customer").count())
    // neighbor relation is symmetric: total neighbor count is even
    assert(rows.map(_.getLong(2)).sum % 2 === 0L,
      "haversine <= eps is symmetric, so the sum of degrees must be even")
  }

  test("eval_rank_biased_overlap: identity ranking scores exactly 1") {
    import spark.implicits._
    // pin the metric itself: RBO of a ranking against ITSELF must be
    // 1000000 under the truncated-normalized form — overlap@d = d
    val depths = spark.range(1, 21).select(col("id").as("d"), col("id").as("ov"))
    val wts = (0 until 20).map(k => math.floor(math.pow(0.9, k) * 1e9 + 0.5).toLong)
    val norm = wts.sum
    val terms = depths.select(
      expr(s"(ov * element_at(array(${wts.mkString("L, ")}L), CAST(d AS INT))) DIV d").as("t"))
    val rbo = terms.agg(expr(s"sum(t) * 1000000 DIV ${norm}L")).as[Long].collect().head
    assert(rbo === 1000000L, s"self-RBO must pin at 1.0, got $rbo")
    // and the registered query's value is in (0, 1]
    val r = SparkEntry.queries("eval_rank_biased_overlap")(spark, dir)
      .collect().head
    assert(r.getLong(0) === 20L)
    assert(r.getLong(2) >= 0L && r.getLong(2) <= 1000000L)
  }

  test("stat_delta_method_ratio: ratios positive, arms both populated") {
    val r = SparkEntry.queries("stat_delta_method_ratio")(spark, dir)
      .collect().head
    assert(r.getLong(0) > 0 && r.getLong(1) > 0, "both arms populated")
    assert(r.getLong(2) > 0 && r.getLong(3) > 0, "revenue/order > 0")
    // a null-effect hash split: |z| should not be absurdly large
    assert(math.abs(r.getLong(4)) < 10000000L, s"|z| >= 10 on a null split: $r")
  }

  test("sample_poisson_bootstrap: CI brackets the exact mean, weights ~ Poisson(1)") {
    val r = SparkEntry.queries("sample_poisson_bootstrap")(spark, dir)
      .collect().head
    assert(r.getLong(0) === 40L)
    val exact = Tables(spark, dir, "orders")
      .agg(expr("CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) DIV count(*)"))
      .collect().head.getLong(0)
    val (lo, hi) = (r.getLong(3), r.getLong(4))
    assert(lo <= exact && exact <= hi,
      s"95% CI [$lo,$hi] must bracket the exact mean $exact")
    assert(r.getLong(1) <= lo && hi <= r.getLong(2), "order stats within range")
  }

  test("pipeline_contamination_embed: eval split is disjoint from train counts") {
    val rows = SparkEntry.queries("pipeline_contamination_embed")(spark, dir)
      .collect()
    val total = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    assert(total === Tables(spark, dir, "embeddings").count(),
      "train + eval must partition the corpus")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1), "contaminated <= train")
    }
  }

  test("graph_attribute_mixing: assortativity <= 1 and homophily consistent") {
    val r = SparkEntry.queries("graph_attribute_mixing")(spark, dir)
      .collect().head
    val (hom, assort) = (r.getLong(2), r.getLong(3))
    assert(hom >= 0L && hom <= 1000000L)
    assert(assort <= 1000000L, "Newman r can't exceed 1")
    // r <= homophily rescaled: r = (h - a2)/(1 - a2) <= h iff h <= 1
    assert(assort <= hom || hom === 1000000L)
  }

  test("ts_decay_halflife: slope sign gates the half-life") {
    val rows = SparkEntry.queries("ts_decay_halflife")(spark, dir).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val slope = r.getLong(2)
      if (slope < 0) assert(!r.isNullAt(3) && r.getLong(3) > 0L,
        s"decaying series must report a half-life: $r")
      else assert(r.isNullAt(3), s"growing series must report NULL: $r")
    }
  }

  test("multimodal_aspect_gate: buckets partition the corpus") {
    val rows = SparkEntry.queries("multimodal_aspect_gate")(spark, dir).collect()
    val total = rows.map(_.getLong(1)).sum
    val nDocs = Tables(spark, dir, "documents").count()
    assert(total === nDocs, "gate buckets must partition all images")
    val names = rows.map(_.getString(0)).toSet
    assert(names.subsetOf(Set("pass", "below_pixel_floor", "too_wide",
      "too_tall", "invalid_dims")))
  }

  test("stat_kruskal_wallis: tie-corrected H >= raw H and both finite") {
    val r = SparkEntry.queries("stat_kruskal_wallis")(spark, dir).collect().head
    val (h, hc) = (r.getDouble(2), r.getDouble(3))
    assert(!h.isNaN && !hc.isNaN)
    // C = 1 - ties/(N^3-N) <= 1, so H/C >= H always
    assert(hc >= h, s"tie correction must not shrink H: $hc < $h")
    assert(r.getLong(0) === 5L)
  }
}
