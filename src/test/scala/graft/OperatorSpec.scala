package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operator unit checks on tiny inputs + registry invariants
  * (SURVEY.md §5.2), plus set-op algebra (§5.3).
  */
class OperatorSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._
  private val dir = SparkTestBase.sfDir

  test("registry: every oracle key is a query key; names are unique") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size === names.size, "duplicate query names")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every query runs and returns a non-negative row count at sf0.001") {
    // smoke over the full inventory — streaming queries included
    val failures = SparkEntry.all.flatMap { q =>
      try { q.fn(spark, dir).count(); None }
      catch { case e: Throwable => Some(q.name -> e.getMessage) }
    }
    assert(failures.isEmpty, s"queries failed: $failures")
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("weighted avg Aggregator matches hand computation") {
    val wavg = udaf(functions.WeightedAvg)
    val got = Seq((2.0, 1.0), (4.0, 3.0)).toDF("v", "w")
      .agg(wavg(col("v"), col("w"))).head.getDouble(0)
    assert(math.abs(got - (2.0 * 1 + 4.0 * 3) / 4.0) < 1e-12)
  }

  test("weighted avg handles empty input (NaN, not crash)") {
    val wavg = udaf(functions.WeightedAvg)
    val got = Seq.empty[(Double, Double)].toDF("v", "w")
      .agg(wavg(col("v"), col("w"))).head.getDouble(0)
    assert(got.isNaN)
  }

  test("cosine expression equals the HOF formula on the fixtures") {
    val emb = Tables(spark, dir, "embeddings").limit(20)
    val a = emb.select(col("vec_id"), col("embedding").as("a"))
    val b = emb.select(col("vec_id").as("vid2"), col("embedding").as("b"))
    val pairs = a.crossJoin(b).filter(col("vec_id") < col("vid2")).limit(50)
    def hofDot(x: String, y: String) =
      aggregate(zip_with(col(x), col(y), (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val hof = hofDot("a", "b") / (sqrt(hofDot("a", "a")) * sqrt(hofDot("b", "b")))
    val rows = pairs.select(
      functions.CosineSimilarity(col("a"), col("b")).as("native"),
      hof.as("hof")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("cosine expression interpreted path (eval) matches codegen result") {
    val e = functions.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0f, 0.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0f, 0.0f), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    assert(math.abs(e.eval(null).asInstanceOf[Double] - 1.0) < 1e-12)
  }

  test("approx quantiles (portable sample + native sketch) land within rank-error bands of exact") {
    val got = SparkEntry.queries("agg_approx_quantile")(spark, dir)
      .selectExpr("l_returnflag", "CAST(price_q50_cents AS DOUBLE) / 100 AS approx_median")
      .as[(String, Double)].collect().toMap
    got.foreach { case (flag, approx) =>
      // 1/16 sample of a ~2000-row group → median rank error well
      // inside the 38th..62nd percentile band
      val band = Tables(spark, dir, "lineitem").filter(col("l_returnflag") === flag)
        .selectExpr("percentile(l_extendedprice, 0.38) lo", "percentile(l_extendedprice, 0.62) hi")
        .as[(Double, Double)].head()
      assert(approx >= band._1 && approx <= band._2,
        s"$flag: approx $approx outside [$band]")
      // Spark's production sketch stays inside the same band — the
      // certified portable estimator and the native one agree on rank
      val native = Tables(spark, dir, "lineitem")
        .filter(col("l_returnflag") === flag)
        .selectExpr("approx_percentile(l_extendedprice, 0.5, 10000) m")
        .as[Double].head()
      assert(native >= band._1 && native <= band._2,
        s"$flag: native $native outside [$band]")
    }
  }

  test("quantile partial merge: merged partials ≡ direct sample; native partials inside the rank band") {
    // r14 verdict #1 "Done =" contract. The operator merges
    // per-(priority, status) sampled partials up to priority; because
    // the sample predicate is a pure row hash, that merge must equal
    // sampling the union DIRECTLY (computed here via an independent
    // DataFrame path, no partial staging).
    val got = SparkEntry.queries("agg_quantile_partial_merge")(spark, dir)
      .selectExpr("o_orderpriority", "n_sample", "n_partials",
        "q25_cents", "q50_cents", "q75_cents")
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val sampled = Tables(spark, dir, "orders")
      .filter(expr("((o_orderkey % 1000003) * 2654435761 % 1000003) % 16 = 0"))
      .select(col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
    val direct = sampled
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("prio")).orderBy(col("cents"))))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("prio"))))
      .groupBy(col("prio"))
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === floor(lit(0.25) * (col("n") - 1) + lit(0.5)) + 1,
          col("cents"))).as("q25"),
        max(when(col("rn") === floor(lit(0.50) * (col("n") - 1) + lit(0.5)) + 1,
          col("cents"))).as("q50"),
        max(when(col("rn") === floor(lit(0.75) * (col("n") - 1) + lit(0.5)) + 1,
          col("cents"))).as("q75"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.keySet === direct.keySet)
    got.foreach { case (prio, (n, nPart, q25, q50, q75)) =>
      assert(nPart >= 2, s"$prio merged only $nPart partial cells")
      val (dn, d25, d50, d75) = direct(prio)
      assert((n, q25, q50, q75) === ((dn, d25, d50, d75)),
        s"$prio: merged partials != direct sample")
    }
    // Spark's production partial-merge path (approx_percentile is an
    // ImperativeAggregate whose partials merge across executors) lands
    // inside the same rank-error band around the exact per-group median.
    val bands = Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(expr("percentile(o_totalprice, 0.40)").as("lo"),
        expr("percentile(o_totalprice, 0.60)").as("hi"),
        expr("percentile(o_totalprice, 0.20)").as("wlo"),
        expr("percentile(o_totalprice, 0.80)").as("whi"),
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("native"))
      .collect()
    bands.foreach { r =>
      val (lo, hi) = (r.getDouble(1), r.getDouble(2))
      val nat = r.getDouble(5)
      assert(nat >= lo && nat <= hi, s"${r.getString(0)}: native $nat outside [$lo,$hi]")
      // merged sample is ~n/16 rows per priority at the spec's sf — its
      // 3σ rank band is wider than the native sketch's (rank sd ≈
      // √n/2 of ~19 samples ≈ ±12 percentile points)
      val (wlo, whi) = (r.getDouble(3), r.getDouble(4))
      val mergedMedian = got(r.getString(0))._4.toDouble / 100
      assert(mergedMedian >= wlo && mergedMedian <= whi,
        s"${r.getString(0)}: merged q50 $mergedMedian outside [$wlo,$whi]")
    }
  }

  test("heavy-hitter partial merge: estimates are lower bounds; top-5 recall floor vs exact") {
    val got = SparkEntry.queries("agg_heavyhitter_partial_merge")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(2), r.getLong(3)))
    assert(got.nonEmpty)
    // exact per-(source, token) counts — the thing the partial store
    // exists to avoid recomputing
    val exact = Tables(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // truncation can only LOSE cell contributions, never invent them
    got.foreach { case (src, tok, est) =>
      assert(est <= exact((src, tok)),
        s"($src,$tok): merged estimate $est exceeds true ${exact((src, tok))}")
    }
    // the fixture's per-source token counts are nearly FLAT (73, 68,
    // 65, 59, 58, 58, 57, ...), so positional top-5 recall is dominated
    // by ties — not a property of the merge. What SpaceSaving actually
    // guarantees, and what is pinned here: (a) with eps_src = Σ over
    // cells of each cell's k-th (16th) count — the maximum mass
    // truncation can hide — every RETURNED token's true count is within
    // eps of the exact 5th count (a token can only displace a closure
    // member when truncation could account for the gap), and (b) the
    // merged top-1's ESTIMATE is at least maxTrue − eps: the winner's
    // estimate dominates the true-max token's estimate, which truncation
    // can depress by at most eps (est(top1) ≥ est(trueMax) ≥ maxTrue −
    // eps) — the detectability guarantee a flat distribution still owes.
    val bySrc = exact.toSeq.groupBy(_._1._1)
    val cellKth = Tables(spark, dir, "documents")
      .select(col("source"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"), col("lang"))
          .orderBy(col("n").desc, col("tok").asc)))
      .filter(col("rk") === 16)
      .groupBy(col("source")).agg(sum(col("n")).as("eps"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.groupBy(_._1).foreach { case (src, xs) =>
      val sorted = bySrc(src).sortBy { case ((_, t), n) => (-n, t) }
      val fifth = sorted(math.min(4, sorted.size - 1))._2
      val eps = cellKth.getOrElse(src, 0L)
      xs.foreach { case (_, tok, _) =>
        assert(exact((src, tok)) >= fifth - eps,
          s"$src/$tok: true ${exact((src, tok))} below 5th $fifth - eps $eps")
      }
      // detectability: the winner's estimate can trail the true max by
      // at most the truncation mass
      val top1Est = xs.map(_._3).max
      val maxTrue = sorted.head._2
      assert(top1Est >= maxTrue - eps,
        s"$src: merged top-1 est $top1Est below max $maxTrue - eps $eps")
    }
  }

  test("KMV set-overlap estimates land within the sketch's error bands of exact") {
    val r = SparkEntry.queries("agg_kmv_set_overlap")(spark, dir).head()
    val (na, nb, nu, ni) =
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5))
    val orders = Tables(spark, dir, "orders")
    val a = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    val b = orders.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey")).distinct()
    val (ea, eb) = (a.count(), b.count())
    val eu = a.unionByName(b).distinct().count()
    val ei = a.join(b, "o_custkey").count()
    // k=64 → rsd ≈ 1/√62 ≈ 12.7%; 3σ ≈ 38%. Intersection compounds the
    // union estimate with the ρ sampling fraction → wider band.
    def band(est: Long, exact: Long, frac: Double, name: String): Unit =
      assert(math.abs(est - exact) <= math.max(5, frac * exact),
        s"$name: est $est vs exact $exact outside ${frac * 100}%")
    band(na, ea, 0.40, "A"); band(nb, eb, 0.40, "B")
    band(nu, eu, 0.40, "A∪B"); band(ni, ei, 0.55, "A∩B")
  }

  test("KMV set-difference decomposes the union sketch and lands within the error bands (round-16)") {
    val r = SparkEntry.queries("agg_kmv_set_difference")(spark, dir).head()
    val (nu, ca, cb, cc, dab, dba) = (r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
    val orders = Tables(spark, dir, "orders")
    val a = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    val b = orders.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey")).distinct()
    val eu = a.unionByName(b).distinct().count()
    val eab = a.join(b, Seq("o_custkey"), "left_anti").count()
    val eba = b.join(a, Seq("o_custkey"), "left_anti").count()
    // the union signature is fully partitioned: exclusive + common =
    // signature size — the identity that makes the difference and the
    // overlap rows decompose the SAME union mass
    assert(ca + cb + cc === math.min(64L, eu),
      s"a_only $ca + b_only $cb + common $cc != signature size ${math.min(64L, eu)}")
    val ov = SparkEntry.queries("agg_kmv_set_overlap")(spark, dir).head()
    assert(cc === ov.getLong(4),
      s"common membership $cc differs from the overlap row's ${ov.getLong(4)}")
    assert(nu === ov.getLong(3),
      s"union estimate $nu differs from the overlap row's ${ov.getLong(3)}")
    // exclusive-membership ratio estimator: the sampled fraction is
    // binomial over the 64-slot signature, compounded with the union
    // estimate like the intersection band above → wide band, floor 12
    def band(est: Long, exact: Long, frac: Double, name: String): Unit =
      assert(math.abs(est - exact) <= math.max(12, frac * exact),
        s"$name: est $est vs exact $exact outside ${frac * 100}%")
    band(dab, eab, 0.75, "A∖B"); band(dba, eba, 0.75, "B∖A")
  }

  test("KMV partial merge: merged-min-64 signature ≡ signature of the union (r15 verdict #4)") {
    // the associativity certificate: any hash in the union's global
    // bottom-64 is in its own cell's bottom-64, so merging per-cell
    // signatures loses nothing vs sketching the union directly — the
    // property that lets KMV partials roll up any hierarchy without
    // rescanning raw data, exactly like the HLL/quantile/heavy-hitter
    // partial families. Verified column-for-column (fill, kth hash,
    // estimate) against an independent direct-signature DataFrame path.
    val got = SparkEntry.queries("agg_kmv_partial_merge")(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prio")).orderBy(col("h"))
    val direct = Tables(spark, dir, "orders")
      .select(col("o_orderpriority").as("prio"),
        expr("((o_custkey % 1000003) * 2654435761) % 1000003").as("h"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 64)
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("k_filled"), max(col("h")).as("kth"))
      .selectExpr("prio", "k_filled", "kth",
        """CASE WHEN k_filled < 64 THEN k_filled
          |     ELSE CAST(63 * 1000003 AS BIGINT) DIV kth END AS est""".stripMargin)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet === direct.keySet && got.nonEmpty)
    got.foreach { case (prio, (nPart, filled, kth, est)) =>
      assert(nPart >= 2, s"$prio merged only $nPart partial cells")
      val (dFilled, dKth, dEst) = direct(prio)
      assert((filled, kth, est) === ((dFilled, dKth, dEst)),
        s"$prio: merged signature != direct union signature")
    }
  }

  test("HLL approx distinct (portable registers + native sketch) within rsd bound of exact") {
    val approx = SparkEntry.queries("agg_approx_hll")(spark, dir)
      .selectExpr("l_returnflag", "approx_parts")
      .as[(String, Double)].collect().toMap
    val native = Tables(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("n"))
      .as[(String, Long)].collect().toMap
    val exact = Tables(spark, dir, "lineitem")
      .groupBy("l_returnflag").agg(countDistinct(col("l_partkey")))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) =>
      // m=256 → rsd ≈ 6.5%; allow 3 sigma ≈ 20% (linear-counting path
      // at small sf is much tighter)
      assert(math.abs(approx(k) - n) <= math.max(2, 0.20 * n),
        s"$k: portable ${approx(k)} vs exact $n")
      // the native sketch (rsd 0.02 → 3σ ≈ 6%) stays in ITS band
      assert(math.abs(native(k) - n) <= math.max(1, (0.06 * n).toLong),
        s"$k: native ${native(k)} vs exact $n")
    }
  }

  test("map ops: element_at/keys/values semantics on a constructed map") {
    val row = SparkEntry.queries("fn_map_ops")(spark, dir)
      .filter(col("o_orderkey") === 1L).head
    val src = Tables(spark, dir, "orders").filter(col("o_orderkey") === 1L)
      .select("o_orderstatus", "o_orderpriority").head
    assert(row.getAs[String]("status_val") === src.getString(0))
    assert(row.getAs[String]("priority_val") === src.getString(1))
    assert(row.getAs[Int]("n_keys") === 2)
    assert(row.getAs[String]("vals_joined") === s"${src.getString(0)}|${src.getString(1)}")
  }

  test("bloom semi-filter: no false negatives, false positives within fpp slack") {
    val filtered = SparkEntry.queries("stat_bloom_semi_filter")(spark, dir)
      .agg(sum(col("n_lines"))).head.getLong(0)
    val exact = Tables(spark, dir, "lineitem").join(
      Tables(spark, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
      col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(filtered >= exact, "bloom filter dropped a true member (false negative)")
    assert(filtered <= (exact * 1.01 + 10).toLong, s"too many false positives: $filtered vs $exact")
  }

  test("hll partial-merge: union of partials equals direct sketch; bounded error vs exact") {
    val merged = SparkEntry.queries("agg_hll_partial_merge")(spark, dir)
      .selectExpr("o_orderpriority", "approx_customers", "z_scaled", "v_zero")
      .as[(String, Double, Long, Long)].collect().sortBy(_._1).toSeq
    // lossless union at equal m: per-register max over the per-status
    // partials must give EXACTLY the registers (hence z/v/estimate) of
    // sketching each priority group directly — the direct query is the
    // same portable HLL minus the partial stage
    graft.Catalog.registerAll(spark, dir)
    val direct = spark.sql(ops.Aggregates.hllSql(duck = false, "orders",
        "o_custkey", "o_orderpriority", "approx_customers", partial = None))
      .as[(String, Double, Long, Long)].collect().sortBy(_._1).toSeq
    assert(merged === direct,
      s"partial-merge diverged from direct sketch:\n $merged\n $direct")
    // Spark's native Datasketches union is lossless the same way
    val nativeMerged = Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      .groupBy(col("o_orderpriority"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).cast("long").as("est"))
      .as[(String, Long)].collect().toMap
    val nativeDirect = Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).cast("long").as("est"))
      .as[(String, Long)].collect().toMap
    assert(nativeMerged === nativeDirect,
      "native partial-merge estimate diverged from direct sketch")
    val exact = Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n")).as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) =>
      val m = merged.find(_._1 == k).get._2
      assert(math.abs(m - n) / n < 0.20,
        s"portable HLL estimate for $k off by >20%: $m vs $n")
      assert(math.abs(nativeMerged(k) - n).toDouble / n < 0.05,
        s"native HLL estimate for $k off by >5%: ${nativeMerged(k)} vs $n")
    }
  }

  test("small-file compaction: 64 shards -> 2 files, rows byte-identical") {
    def partFiles(p: String) =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    val frag = graft.util.tempDir("spec_frag_")
    val compact = graft.util.tempDir("spec_compact_")
    val src = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    src.repartition(64).write.mode("overwrite").parquet(frag)
    assert(partFiles(frag) === 64)
    spark.read.parquet(frag).repartition(2)
      .write.mode("overwrite").parquet(compact)
    assert(partFiles(compact) === 2)
    val back = spark.read.parquet(compact)
    assert(back.count() === src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("count-min heavy hitters: estimates >= exact, within epsilon overcount") {
    val est = SparkEntry.queries("stat_countmin_heavyhitters")(spark, dir)
      .as[(String, Long)].collect().toMap
    val exact = Tables.events(spark, dir).groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    val total = exact.values.sum
    exact.foreach { case (k, n) =>
      assert(est(k) >= n, s"CMS undercounted $k")
      assert(est(k) <= n + (0.001 * total).toLong + 1, s"CMS overcount too large for $k")
    }
  }

  test("stratified sample: deterministic for a seed, per-stratum rates in bounds") {
    // retired from the query registry (round 3: engine-specific RNG can't be
    // oracled; sample_hash_deterministic is the canonical pin) but the
    // Bernoulli sampleBy capability itself stays spec-tested here
    def sample = Tables(spark, dir, "orders")
      .stat.sampleBy("o_orderstatus", Map("F" -> 0.5, "O" -> 0.2, "P" -> 1.0), 42L)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))
    val s1 = sample.collect()
    val s2 = sample.collect()
    assert(s1.toSeq === s2.toSeq, "same seed must give identical samples")
    val rates = sample
      .groupBy("o_orderstatus").count().as[(String, Long)].collect().toMap
    val totals = Tables(spark, dir, "orders")
      .groupBy("o_orderstatus").count().as[(String, Long)].collect().toMap
    val expected = Map("F" -> 0.5, "O" -> 0.2, "P" -> 1.0)
    expected.foreach { case (k, frac) =>
      val got = rates.getOrElse(k, 0L).toDouble / totals(k)
      assert(math.abs(got - frac) < 0.15, s"stratum $k rate $got vs $frac")
    }
  }

  test("set-op algebra: |a\\b| + |a∩b| == |distinct a| over common schema") {
    val a = Tables(spark, dir, "orders").filter(col("o_totalprice") > 100000)
      .select("o_orderkey", "o_orderstatus")
    val b = Tables(spark, dir, "orders").filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderstatus")
    assert(a.except(b).count() + a.intersect(b).count() === a.distinct().count())
  }

  test("ann lsh recall: bucketed candidates overlap brute-force top-5") {
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, dir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = SparkEntry.queries("sim_cosine_ann_lsh")(spark, dir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ann).size.toDouble / brute.size
    assert(recall > 0.15, s"ANN recall too low: $recall") // 8-bit sig, 1 table
  }

  test("ann multi-table lsh: OR-amplification recall >= single-table recall") {
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, dir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val single = SparkEntry.queries("sim_cosine_ann_lsh")(spark, dir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val multi = SparkEntry.queries("sim_cosine_ann_multitable")(spark, dir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rSingle = (brute intersect single).size.toDouble / brute.size
    val rMulti = (brute intersect multi).size.toDouble / brute.size
    // table 0 IS the single-table signature, so the multi-table candidate
    // set is a superset — measured recall must not drop, and with 4 tables
    // it should clear a floor well above the single-table assertion
    assert(rMulti >= rSingle,
      s"multi-table recall $rMulti below single-table $rSingle")
    assert(rMulti > 0.3, s"multi-table recall too low: $rMulti") // 4 x 8-bit; measured 0.34
  }

  test("ann ivf recall: probed-cell candidates overlap brute-force top-5") {
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, dir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = SparkEntry.queries("sim_cosine_ann_ivf")(spark, dir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    // nProbe=2 of 8 label cells; fixture labels correlate with geometry
    assert(recall > 0.3, s"IVF recall too low: $recall")
    // determinism: same plan twice → same candidate set
    val again = SparkEntry.queries("sim_cosine_ann_ivf")(spark, dir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(again === ivf)
  }

  test("int8 quantize: reconstruction error bounded by half a quantization step") {
    // q = round(x/scale) implies |x - q*scale| <= scale/2 per component
    val rows = Tables(spark, dir, "embeddings")
      .withColumn("amax",
        expr("aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"))
      .filter(col("amax") > 0)
      .withColumn("scale", col("amax") / 127)
      .withColumn("maxerr",
        expr("""aggregate(embedding, CAST(0 AS DOUBLE), (a, x) ->
                greatest(a, abs(CAST(x AS DOUBLE) -
                  CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT) * scale)))"""))
      .agg(max(expr("maxerr / scale")).as("worst"))
      .as[Double].head()
    assert(rows <= 0.5 + 1e-9, s"reconstruction error beyond half step: $rows")
  }

  test("sequence packing: every bin but a source's last holds >= budget - max_doc tokens") {
    // greedy cumsum packing can undershoot a bin only by less than one doc
    val packed = SparkEntry.queries("text_pack_sequences")(spark, dir)
      .select("source", "bin", "bin_tokens").as[(String, Long, Long)].collect()
    val lastBin = packed.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val maxDoc = Tables(spark, dir, "documents")
      .agg(max(expr("(length(text) + 3) div 4"))).as[Long].head()
    packed.filter(p => p._2 != lastBin(p._1)).foreach { case (src, bin, toks) =>
      assert(toks >= 2048 - maxDoc && toks < 2048 + maxDoc,
        s"bin $src/$bin holds $toks tokens (budget 2048, max doc $maxDoc)")
    }
  }

  test("policy gate counts words, not substrings (r13 verdict #2 boundary pin)") {
    // the gate's `\b(slow|low|leak)\b` must count word-boundary matches
    // ONLY: "low" inside "slow"/"lower"/"flow" is not a hit, punctuation
    // and string edges are boundaries, and multiple hits in one doc all
    // count. Constructed strings, same pattern the operator inlines.
    val pat = "\\b(slow|low|leak)\\b"
    val cases = Seq(
      ("slow query", 1L),            // plain word
      ("slower queries flow", 0L),   // substrings only — no hit
      ("low, low! low.", 3L),        // punctuation is a boundary
      ("leak", 1L),                  // whole-string match
      ("lowest leaky slowdown", 0L), // all three as prefixes — no hit
      ("slow low leak", 3L))         // every list word once
    val got = cases.map(_._1).toDF("text")
      .select(regexp_count(col("text"), lit(pat)).cast("long")).as[Long].collect()
    assert(got.toSeq === cases.map(_._2),
      s"word-boundary counts diverged: got ${got.toSeq} for ${cases.map(_._1)}")
    // and the verdict thresholds are integer-exact at their edges:
    // 2 hits in 100 tokens = exactly 2% → flag; 5 in 100 → reject
    def verdict(hits: Long, toks: Long): String =
      if (hits * 100 >= toks * 5) "reject"
      else if (hits * 100 >= toks * 2) "flag" else "pass"
    assert(verdict(2, 100) === "flag" && verdict(5, 100) === "reject" &&
      verdict(1, 100) === "pass" && verdict(0, 1) === "pass")
  }

  test("license detect: SPDX outranks phrase, header zone bounds the search (r13 verdict #3)") {
    val out = SparkEntry.queries("text_license_detect")(spark, dir)
      .select("doc_id", "license", "method").as[(Long, String, String)].collect()
    val byMod = out.groupBy(r => (r._1 % 10).toInt)
    assert(byMod(0).forall(r => r._2 == "Apache-2.0" && r._3 == "spdx"))
    assert(byMod(1).forall(r => r._2 == "MIT" && r._3 == "phrase"))
    assert(byMod(2).forall(r => r._2 == "Apache-2.0" && r._3 == "phrase"))
    assert(byMod(3).forall(r => r._2 == "GPL-3.0-or-later" && r._3 == "phrase"))
    assert(byMod(4).forall(r => r._2 == "BSD-3-Clause" && r._3 == "phrase"))
    (5 to 9).foreach(m => assert(byMod.get(m).forall(_.forall(r =>
      r._2 == "none" && r._3 == "none")), s"mod $m must detect nothing"))
  }

  test("weighted priority sample: high-weight rows oversampled vs uniform") {
    // the 200 selected orders' mean totalprice must exceed the table mean
    // (priority sampling biases selection toward weight)
    val sel = SparkEntry.queries("sample_weighted_priority")(spark, dir)
      .agg(avg("o_totalprice")).as[Double].head()
    val all = Tables(spark, dir, "orders").agg(avg("o_totalprice")).as[Double].head()
    assert(sel > all, s"selected mean $sel not above table mean $all")
  }
}
