package graft.ops

import graft.{Q, Staged, Tables, util}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.13 graph-analytics tier beyond dedup components: the standard OLAP
  * graph queries (degree profile, PageRank, multi-source BFS, triangle
  * counts) over a similarity graph SPARSIFIED the way production systems
  * do it — top-k neighbors per node — so every downstream algorithm runs
  * on a bounded-degree graph at any scale.
  *
  * Graph: co-supply similarity. Suppliers are linked when they supply the
  * same order; pair weight = co-occurrence count; each node keeps its
  * top-3 partners by (weight desc, id asc); edges are symmetrized. The
  * raw co-occurrence graph over uniform fixtures is near-complete (≈50%
  * density at sf0.1) — exactly the degenerate case that kills naive graph
  * jobs at 100 TB — while the top-k projection is ≤ 6 edges/node at ANY
  * scale factor. That sparsification (count + per-key window top-k) is
  * itself a declared row, hash-checked against DuckDB.
  *
  * Scale posture: pair generation is a self-join on the order key, fanout
  * bounded by lines-per-order squared (TPC-H ≤ 7 lines ⇒ ≤ 42 pairs per
  * order); the weight aggregation is a map-side-combinable count; top-k is
  * one window pass partitioned by node. Every algorithm below runs
  * join+groupBy rounds on the bounded-degree edge list — shuffle volume
  * O(edges) = O(6·nodes) per round, never O(nodes²).
  *
  * Determinism: PageRank and BFS use pure BIGINT arithmetic (fixed-point
  * ranks scaled by 10^12, `div` integer division) so Spark and DuckDB
  * agree bit-for-bit — no float summation-order hazard. Reference: the
  * CD2-AWS replica has no graph tier (SURVEY.md §1 — checkout is
  * LICENSE-only); this tier extends the engine the way SURVEY §2.13
  * declares for the LLM-pipeline workload (dedup clusters, similarity
  * neighborhoods).
  */
object GraphAnalytics {

  /** The DIRECTED pick list (s → d when d is in s's top-3, with the pair's
    * co-occurrence `cnt`), staged per session: the expensive co-occurrence
    * build runs once, and the undirected tier (via [[edges12]]), the
    * weighted SSSP edges and the directed diagnostics
    * ([[graph_reciprocity]]) all derive from the same checkpointed frame.
    */
  private def directedTopk(s: SparkSession, dir: String): DataFrame =
    Staged(s, "graph.topk", dir) {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      // pair weights: same-order co-occurrence counts (map-side combinable)
      val w = li.as("a")
        .join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.sk") =!= col("b.sk"))
        .groupBy(col("a.sk").as("s"), col("b.sk").as("d"))
        .agg(count(lit(1)).as("cnt"))
      // top-3 partners per node, deterministic tiebreak (cnt desc, d asc)
      w.withColumn("rn", row_number().over(
          Window.partitionBy(col("s")).orderBy(col("cnt").desc, col("d"))))
        .filter(col("rn") <= 3)
        .select(col("s"), col("d"), col("cnt"))
        .localCheckpoint(true)
    }

  /** Oriented sparse edges (src < dst), one row per undirected edge,
    * staged and eagerly localCheckpoint'ed: five rows share one build.
    */
  private def edges12(s: SparkSession, dir: String): DataFrame =
    Staged(s, "graph.edges12", dir) {
      directedTopk(s, dir)
        .select(least(col("s"), col("d")).as("src"),
          greatest(col("s"), col("d")).as("dst"))
        .distinct()
        .localCheckpoint(true)
    }

  /** Symmetric adjacency (both directions) from the oriented list. */
  private def edgesSym(s: SparkSession, dir: String): DataFrame = {
    val e12 = edges12(s, dir)
    e12.unionByName(
      e12.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Degree table: node -> degree over the symmetric adjacency. */
  private def degrees(s: SparkSession, dir: String): DataFrame =
    edgesSym(s, dir).groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))

  /** Deterministic 3-round synchronous label propagation (smallest-label
    * tiebreak) — shared by [[graph_label_propagation]] and the
    * conductance census.
    */
  private def lpaLabels(s: SparkSession, dir: String): DataFrame = {
    val e = edgesSym(s, dir)
    var labels = degrees(s, dir).select(col("node"), col("node").as("lab"))
    for (_ <- 1 to 3) {
      labels = e
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("node"))
            .orderBy(col("cnt").desc, col("lab"))))
        .filter(col("rn") === 1)
        .select(col("node"), col("lab"))
    }
    labels
  }

  /** The shared LPA oracle CTE chain (3 unrolled rounds ending in `l3`),
    * appended to [[baseSql]].
    */
  private val lpaSql: String =
    """l0 AS (SELECT node, node AS lab FROM deg),
      |c1 AS (SELECT e.dst AS node, l0.lab, count(*) AS cnt
      |       FROM e JOIN l0 ON e.src = l0.node GROUP BY 1, 2),
      |l1 AS (SELECT node, lab FROM (
      |  SELECT node, lab, row_number() OVER (
      |    PARTITION BY node ORDER BY cnt DESC, lab) AS rn FROM c1)
      |  WHERE rn = 1),
      |c2 AS (SELECT e.dst AS node, l1.lab, count(*) AS cnt
      |       FROM e JOIN l1 ON e.src = l1.node GROUP BY 1, 2),
      |l2 AS (SELECT node, lab FROM (
      |  SELECT node, lab, row_number() OVER (
      |    PARTITION BY node ORDER BY cnt DESC, lab) AS rn FROM c2)
      |  WHERE rn = 1),
      |c3 AS (SELECT e.dst AS node, l2.lab, count(*) AS cnt
      |       FROM e JOIN l2 ON e.src = l2.node GROUP BY 1, 2),
      |l3 AS (SELECT node, lab FROM (
      |  SELECT node, lab, row_number() OVER (
      |    PARTITION BY node ORDER BY cnt DESC, lab) AS rn FROM c3)
      |  WHERE rn = 1)""".stripMargin

  /** Shared oracle prefix: weight -> top-k -> oriented/symmetric edges ->
    * degrees, byte-for-byte the semantics of [[directedTopk]]/[[edges12]]/
    * [[degrees]].
    */
  private val baseSql =
    """WITH w AS (
      |  SELECT a.l_suppkey AS s, b.l_suppkey AS d, count(*) AS cnt
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
      |  GROUP BY 1, 2),
      |topk AS (
      |  SELECT s, d, cnt FROM (
      |    SELECT s, d, cnt,
      |           row_number() OVER (PARTITION BY s ORDER BY cnt DESC, d) AS rn
      |    FROM w)
      |  WHERE rn <= 3),
      |e12 AS (SELECT DISTINCT least(s, d) AS src, greatest(s, d) AS dst FROM topk),
      |e AS (SELECT src, dst FROM e12 UNION ALL SELECT dst AS src, src AS dst FROM e12),
      |deg AS (SELECT src AS node, count(*) AS degree FROM e GROUP BY src)""".stripMargin

  /** Fixed-point PageRank scale: 10^12 per node. All arithmetic below is
    * BIGINT: contribution = pr div degree, damping = (85 * sum) div 100,
    * teleport = 0.15 * 10^12 exactly. Overflow headroom: total mass is
    * nodes * 10^12, so 85 * (max rank) stays below 2^63 up to ~10^5 nodes;
    * at larger node counts drop SCALE a decade per 10x nodes.
    */
  private val Scale = 1000000000000L
  private val Teleport = 150000000000L // 0.15 * Scale

  val defs: Seq[Q] = Seq(
    Q(
      "graph_topk_similarity",
      // The sparsifier as a row: weighted co-occurrence -> per-node top-k
      // -> symmetrized oriented edge list. This is the step that turns a
      // near-complete similarity graph into a bounded-degree one — the
      // difference between O(n^2) and O(k*n) for everything downstream.
      (s, dir) => edges12(s, dir).orderBy(col("src"), col("dst")),
      Some(s"""$baseSql
              |SELECT src, dst FROM e12 ORDER BY src, dst""".stripMargin)
    ),
    Q(
      "graph_degree_histogram",
      // Degree distribution: the first sanity profile of any large graph
      // (skew detection before launching iterative jobs). Two tiny
      // aggregations over the edge list.
      (s, dir) => degrees(s, dir)
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("degree")),
      Some(s"""$baseSql
              |SELECT degree, count(*) AS n_nodes FROM deg
              |GROUP BY degree ORDER BY degree""".stripMargin)
    ),
    Q(
      "graph_pagerank_fixedpoint",
      // 3 damped PageRank rounds in pure BIGINT fixed-point: each round is
      // one join (ranks -> out-contributions along edges) + one groupBy
      // (sum incoming) — the canonical message-passing shape. Fixed
      // iteration count keeps the plan bounded (no checkpoint needed);
      // integer arithmetic keeps Spark/DuckDB bit-identical where float
      // summation order would diverge.
      (s, dir) => {
        val e = edgesSym(s, dir)
        val deg = degrees(s, dir)
        var ranks = deg.select(col("node"), lit(Scale).as("pr"))
        for (_ <- 1 to 3) {
          val contribs = e
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg.withColumnRenamed("node", "src"), "src")
            .select(col("dst").as("node"), expr("pr div degree").as("c"))
            .groupBy(col("node")).agg(sum(col("c")).as("sm"))
          ranks = deg.select(col("node"))
            .join(contribs, Seq("node"), "left")
            .select(col("node"),
              (lit(Teleport) + expr("(85 * coalesce(sm, 0)) div 100")).as("pr"))
        }
        ranks.orderBy(col("node"))
      },
      Some(s"""$baseSql,
              |r0 AS (SELECT node, CAST($Scale AS BIGINT) AS pr FROM deg),
              |s1 AS (SELECT e.dst AS node, sum(r0.pr // deg.degree) AS sm
              |       FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.node
              |       GROUP BY e.dst),
              |r1 AS (SELECT deg.node, CAST($Teleport + (85 * coalesce(s1.sm, 0)) // 100 AS BIGINT) AS pr
              |       FROM deg LEFT JOIN s1 ON deg.node = s1.node),
              |s2 AS (SELECT e.dst AS node, sum(r1.pr // deg.degree) AS sm
              |       FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.node
              |       GROUP BY e.dst),
              |r2 AS (SELECT deg.node, CAST($Teleport + (85 * coalesce(s2.sm, 0)) // 100 AS BIGINT) AS pr
              |       FROM deg LEFT JOIN s2 ON deg.node = s2.node),
              |s3 AS (SELECT e.dst AS node, sum(r2.pr // deg.degree) AS sm
              |       FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.node
              |       GROUP BY e.dst),
              |r3 AS (SELECT deg.node, CAST($Teleport + (85 * coalesce(s3.sm, 0)) // 100 AS BIGINT) AS pr
              |       FROM deg LEFT JOIN s3 ON deg.node = s3.node)
              |SELECT node, pr FROM r3 ORDER BY node""".stripMargin)
    ),
    Q(
      "graph_pagerank_personalized",
      // Personalized PageRank (round-9): random walks RESTART at a seed
      // set (suppliers with node % 7 = 0) instead of uniformly — the
      // recommendation / related-entities primitive (global PageRank
      // ranks the whole graph; PPR ranks it AROUND a query set). Same
      // 3-round BIGINT fixed-point message passing as the global row —
      // only the teleport vector changes: seeds get 0.15·Scale, others 0,
      // and the initial mass sits entirely on seeds. Identical overflow
      // headroom; mass bounded by |seeds|·Scale.
      (s, dir) => {
        val e = edgesSym(s, dir)
        val deg = degrees(s, dir)
        val seeded = deg.select(col("node"),
          (col("node") % 7 === 0).as("is_seed"))
        var ranks = seeded.select(col("node"),
          when(col("is_seed"), lit(Scale)).otherwise(lit(0L)).as("pr"))
        for (_ <- 1 to 3) {
          val contribs = e
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg.withColumnRenamed("node", "src"), "src")
            .select(col("dst").as("node"), expr("pr div degree").as("c"))
            .groupBy(col("node")).agg(sum(col("c")).as("sm"))
          ranks = seeded
            .join(contribs, Seq("node"), "left")
            .select(col("node"),
              (when(col("is_seed"), lit(Teleport)).otherwise(lit(0L))
                + expr("(85 * coalesce(sm, 0)) div 100")).as("pr"))
        }
        seeded.join(ranks, "node")
          .select(col("node"), col("is_seed"), col("pr"))
          .orderBy(col("node"))
      },
      Some(s"""$baseSql,
              |sd AS (SELECT node, node % 7 = 0 AS is_seed FROM deg),
              |p0 AS (SELECT node, CAST(CASE WHEN node % 7 = 0 THEN $Scale ELSE 0 END AS BIGINT) AS pr FROM deg),
              |t1 AS (SELECT e.dst AS node, sum(p0.pr // deg.degree) AS sm
              |       FROM e JOIN p0 ON e.src = p0.node JOIN deg ON e.src = deg.node
              |       GROUP BY e.dst),
              |p1 AS (SELECT sd.node, CAST(CASE WHEN sd.is_seed THEN $Teleport ELSE 0 END
              |              + (85 * coalesce(t1.sm, 0)) // 100 AS BIGINT) AS pr
              |       FROM sd LEFT JOIN t1 ON sd.node = t1.node),
              |t2 AS (SELECT e.dst AS node, sum(p1.pr // deg.degree) AS sm
              |       FROM e JOIN p1 ON e.src = p1.node JOIN deg ON e.src = deg.node
              |       GROUP BY e.dst),
              |p2 AS (SELECT sd.node, CAST(CASE WHEN sd.is_seed THEN $Teleport ELSE 0 END
              |              + (85 * coalesce(t2.sm, 0)) // 100 AS BIGINT) AS pr
              |       FROM sd LEFT JOIN t2 ON sd.node = t2.node),
              |t3 AS (SELECT e.dst AS node, sum(p2.pr // deg.degree) AS sm
              |       FROM e JOIN p2 ON e.src = p2.node JOIN deg ON e.src = deg.node
              |       GROUP BY e.dst),
              |p3 AS (SELECT sd.node, CAST(CASE WHEN sd.is_seed THEN $Teleport ELSE 0 END
              |              + (85 * coalesce(t3.sm, 0)) // 100 AS BIGINT) AS pr
              |       FROM sd LEFT JOIN t3 ON sd.node = t3.node)
              |SELECT sd.node, sd.is_seed, p3.pr
              |FROM sd JOIN p3 ON sd.node = p3.node ORDER BY sd.node""".stripMargin)
    ),
    Q(
      "graph_modularity_greedy",
      // Greedy modularity sweep + partition modularity (round-9): the
      // first synchronized Louvain pass from singleton communities —
      // each node joins the neighbor whose merge gain 2m·d − k_i·k_j is
      // maximal and positive (on a simple graph d = 1, so the argmax is
      // the LOWEST-degree neighbor: hubs absorb nothing, tight pockets
      // coalesce) — then the resulting partition is scored with exact
      // modularity: Q·4m² = Σ_c (4m·L_c − D_c²), e6-pinned by one double
      // division at the end. Every step is the message-passing shuffle
      // (join + argmax window / two-phase sums over O(edges)); community
      // detection without label propagation's tie churn, and the Q score
      // is the audit any clustering of the co-supply graph reports.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e12 = edges12(s, dir)
        val e = edgesSym(s, dir)
        val deg = degrees(s, dir)
        val m = e12.agg(count(lit(1)).as("m"))
        val nbr = e
          .join(deg.select(col("node").as("src"), col("degree").as("ki")), "src")
          .join(deg.select(col("node").as("dst"), col("degree").as("kj")), "dst")
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("src")).orderBy(col("kj"), col("dst"))))
          .filter(col("rn") === 1)
          .crossJoin(broadcast(m))
          .select(col("src").as("node"),
            when(lit(2) * col("m") > col("ki") * col("kj"), col("dst"))
              .otherwise(col("src")).as("community"))
        val labeled = nbr.localCheckpoint(false)
        val lin = e12
          .join(labeled.select(col("node").as("src"), col("community").as("ca")), "src")
          .join(labeled.select(col("node").as("dst"), col("community").as("cb")), "dst")
          .filter(col("ca") === col("cb"))
          .groupBy(col("ca").as("community")).agg(count(lit(1)).as("l_in"))
        val dtot = labeled
          .join(deg, "node")
          .groupBy(col("community"))
          .agg(count(lit(1)).as("n_members"), sum(col("degree")).as("d_tot"))
        dtot.join(lin, Seq("community"), "left")
          .withColumn("l_in", coalesce(col("l_in"), lit(0L)))
          .crossJoin(broadcast(m))
          .withColumn("q_term", lit(4) * col("m") * col("l_in")
            - col("d_tot") * col("d_tot"))
          .withColumn("q_e6", expr(
            """CAST(floor(CAST(sum(q_term) OVER () AS DOUBLE)
              |     / (CAST(4 AS DOUBLE) * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))
              |     * 1000000 + 0.5) AS BIGINT)""".stripMargin))
          .select(col("community"), col("n_members"), col("l_in"),
            col("d_tot"), col("q_e6"))
          .orderBy(col("community"))
      },
      Some(s"""$baseSql,
              |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e12),
              |nbr AS (
              |  SELECT src AS node,
              |         CASE WHEN 2 * (SELECT m FROM m) > ki * kj THEN dst ELSE src END AS community
              |  FROM (
              |    SELECT e.src, e.dst, da.degree AS ki, db.degree AS kj,
              |           row_number() OVER (PARTITION BY e.src
              |                              ORDER BY db.degree, e.dst) AS rn
              |    FROM e
              |    JOIN deg da ON e.src = da.node
              |    JOIN deg db ON e.dst = db.node) t
              |  WHERE rn = 1),
              |lin AS (
              |  SELECT la.community, CAST(count(*) AS BIGINT) AS l_in
              |  FROM e12
              |  JOIN nbr la ON e12.src = la.node
              |  JOIN nbr lb ON e12.dst = lb.node
              |  WHERE la.community = lb.community
              |  GROUP BY la.community),
              |dtot AS (
              |  SELECT nbr.community, CAST(count(*) AS BIGINT) AS n_members,
              |         CAST(sum(deg.degree) AS BIGINT) AS d_tot
              |  FROM nbr JOIN deg ON nbr.node = deg.node
              |  GROUP BY nbr.community),
              |q AS (
              |  SELECT dtot.community, n_members,
              |         CAST(coalesce(lin.l_in, 0) AS BIGINT) AS l_in, d_tot,
              |         4 * (SELECT m FROM m) * coalesce(lin.l_in, 0) - d_tot * d_tot AS q_term
              |  FROM dtot LEFT JOIN lin ON dtot.community = lin.community)
              |SELECT community, n_members, l_in, d_tot,
              |       CAST(floor(CAST(sum(q_term) OVER () AS DOUBLE)
              |            / (CAST(4 AS DOUBLE) * CAST((SELECT m FROM m) AS DOUBLE)
              |               * CAST((SELECT m FROM m) AS DOUBLE))
              |            * 1000000 + 0.5) AS BIGINT) AS q_e6
              |FROM q ORDER BY community""".stripMargin)
    ),
    Q(
      "graph_hits_hubs_auth",
      // HITS hubs & authorities (round-9): the second classic link-
      // analysis fixpoint after PageRank — hubs point at good
      // authorities, authorities are pointed at by good hubs — run on
      // the ORIENTED edge list (src→dst), 2 full iterations in pure
      // BIGINT fixed-point. Normalization is L∞ (divide by the round's
      // max, the standard HITS variant that avoids sqrt): scores stay
      // ≤ 1e6, so every product is ≤ deg·1e12 at ANY node count — no
      // overflow cliff, unlike sum-normalization whose rescale factor
      // grows with n. Each half-step is one edge join + one
      // map-side-combinable sum + a 1-row max broadcast — the PageRank
      // message-passing shape, O(edges) shuffle per round.
      (s, dir) => {
        val e = edges12(s, dir)
        val nodes = degrees(s, dir).select(col("node"))
        var h = nodes.select(col("node"), lit(1000000L).as("sc"))
        var a: DataFrame = h
        for (_ <- 1 to 2) {
          val araw = e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst").as("node")).agg(sum(col("sc")).as("raw"))
          a = nodes.join(araw, Seq("node"), "left")
            .crossJoin(broadcast(araw.agg(max(col("raw")).as("mx"))))
            .select(col("node"),
              expr("(coalesce(raw, 0) * 1000000) div mx").as("sc"))
          val hraw = e.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy(col("src").as("node")).agg(sum(col("sc")).as("raw"))
          h = nodes.join(hraw, Seq("node"), "left")
            .crossJoin(broadcast(hraw.agg(max(col("raw")).as("mx"))))
            .select(col("node"),
              expr("(coalesce(raw, 0) * 1000000) div mx").as("sc"))
        }
        h.select(col("node"), col("sc").as("hub_e6"))
          .join(a.select(col("node"), col("sc").as("auth_e6")), "node")
          .orderBy(col("node"))
      },
      Some(s"""$baseSql,
              |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS sc FROM deg),
              |ar1 AS (SELECT e12.dst AS node, CAST(sum(h0.sc) AS BIGINT) AS raw
              |        FROM e12 JOIN h0 ON e12.src = h0.node GROUP BY e12.dst),
              |a1 AS (SELECT deg.node,
              |              CAST((coalesce(ar1.raw, 0) * 1000000)
              |                   // (SELECT max(raw) FROM ar1) AS BIGINT) AS sc
              |       FROM deg LEFT JOIN ar1 ON deg.node = ar1.node),
              |hr1 AS (SELECT e12.src AS node, CAST(sum(a1.sc) AS BIGINT) AS raw
              |        FROM e12 JOIN a1 ON e12.dst = a1.node GROUP BY e12.src),
              |h1 AS (SELECT deg.node,
              |              CAST((coalesce(hr1.raw, 0) * 1000000)
              |                   // (SELECT max(raw) FROM hr1) AS BIGINT) AS sc
              |       FROM deg LEFT JOIN hr1 ON deg.node = hr1.node),
              |ar2 AS (SELECT e12.dst AS node, CAST(sum(h1.sc) AS BIGINT) AS raw
              |        FROM e12 JOIN h1 ON e12.src = h1.node GROUP BY e12.dst),
              |a2 AS (SELECT deg.node,
              |              CAST((coalesce(ar2.raw, 0) * 1000000)
              |                   // (SELECT max(raw) FROM ar2) AS BIGINT) AS sc
              |       FROM deg LEFT JOIN ar2 ON deg.node = ar2.node),
              |hr2 AS (SELECT e12.src AS node, CAST(sum(a2.sc) AS BIGINT) AS raw
              |        FROM e12 JOIN a2 ON e12.dst = a2.node GROUP BY e12.src),
              |h2 AS (SELECT deg.node,
              |              CAST((coalesce(hr2.raw, 0) * 1000000)
              |                   // (SELECT max(raw) FROM hr2) AS BIGINT) AS sc
              |       FROM deg LEFT JOIN hr2 ON deg.node = hr2.node)
              |SELECT h2.node, h2.sc AS hub_e6, a2.sc AS auth_e6
              |FROM h2 JOIN a2 ON h2.node = a2.node
              |ORDER BY h2.node""".stripMargin)
    ),
    Q(
      "graph_bfs_frontier",
      // Multi-source BFS, 3 rounds: frontier expansion is join(edges) +
      // min-groupBy — same shape as label propagation but with a distance
      // lattice. Sources: node % 17 = 0 (deterministic seed set). Output
      // is the reached set with exact hop distances — BIGINT end to end.
      (s, dir) => {
        val e = edgesSym(s, dir)
        var frontier = degrees(s, dir)
          .filter(col("node") % 17 === 0)
          .select(col("node"), lit(0L).as("dist"))
        for (_ <- 1 to 3) {
          frontier = frontier
            .unionByName(e
              .join(frontier.withColumnRenamed("node", "src"), "src")
              .select(col("dst").as("node"), (col("dist") + 1).as("dist")))
            .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        }
        frontier.orderBy(col("node"))
      },
      Some(s"""$baseSql,
              |f0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM deg WHERE node % 17 = 0),
              |f1 AS (SELECT node, min(dist) AS dist FROM (
              |  SELECT node, dist FROM f0 UNION ALL
              |  SELECT e.dst AS node, f0.dist + 1 AS dist FROM e JOIN f0 ON e.src = f0.node) u
              |  GROUP BY node),
              |f2 AS (SELECT node, min(dist) AS dist FROM (
              |  SELECT node, dist FROM f1 UNION ALL
              |  SELECT e.dst AS node, f1.dist + 1 AS dist FROM e JOIN f1 ON e.src = f1.node) u
              |  GROUP BY node),
              |f3 AS (SELECT node, min(dist) AS dist FROM (
              |  SELECT node, dist FROM f2 UNION ALL
              |  SELECT e.dst AS node, f2.dist + 1 AS dist FROM e JOIN f2 ON e.src = f2.node) u
              |  GROUP BY node)
              |SELECT node, dist FROM f3 ORDER BY node""".stripMargin)
    ),
    Q(
      "graph_triangle_count",
      // Per-node triangle counts by oriented wedge closure: enumerate
      // wedges from the oriented (src < dst) list and close them with a
      // third oriented edge — each triangle found exactly once, then
      // credited to its three corners. On the top-k graph wedge fanout is
      // ≤ C(6,2) per node; at scale the orientation would be by (degree,
      // id) to pin fanout to the LOW-degree endpoint, same join shape.
      (s, dir) => {
        val e12 = edges12(s, dir)
        val tri = e12.as("a")
          .join(e12.as("b"),
            col("b.src") === col("a.src") && col("b.dst") > col("a.dst"))
          .join(e12.as("c"),
            col("c.src") === col("a.dst") && col("c.dst") === col("b.dst"))
          .select(col("a.src").as("x"), col("a.dst").as("y"), col("b.dst").as("z"))
        tri.select(col("x").as("node"))
          .unionByName(tri.select(col("y").as("node")))
          .unionByName(tri.select(col("z").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
          .orderBy(col("node"))
      },
      Some(s"""$baseSql,
              |tri AS (SELECT a.src AS x, a.dst AS y, b.dst AS z
              |        FROM e12 a
              |        JOIN e12 b ON b.src = a.src AND b.dst > a.dst
              |        JOIN e12 c ON c.src = a.dst AND c.dst = b.dst)
              |SELECT node, count(*) AS n_tri FROM (
              |  SELECT x AS node FROM tri UNION ALL
              |  SELECT y AS node FROM tri UNION ALL
              |  SELECT z AS node FROM tri) t
              |GROUP BY node ORDER BY node""".stripMargin)
    ),
    Q(
      "graph_clustering_coefficient",
      // Local clustering coefficient: how close each node's neighborhood
      // is to a clique — cc = 2·triangles / (deg·(deg−1)) — the
      // community-tightness score that separates hub-and-spoke suppliers
      // from cliquish co-supply pockets. Reuses the oriented wedge-closure
      // triangles and the symmetric degree table (both O(edges) on the
      // bounded-degree graph); the ratio is PURE BIGINT — numerator
      // pre-scaled by 1e6 then integer-divided, all terms positive so
      // Spark's `div` and DuckDB's `//` agree exactly. Nodes with no
      // triangle surface with cc 0 via the outer join (coalesce), nodes
      // with degree < 2 are excluded (cc undefined).
      (s, dir) => {
        val e12 = edges12(s, dir)
        val tri = e12.as("a")
          .join(e12.as("b"),
            col("b.src") === col("a.src") && col("b.dst") > col("a.dst"))
          .join(e12.as("c"),
            col("c.src") === col("a.dst") && col("c.dst") === col("b.dst"))
          .select(col("a.src").as("x"), col("a.dst").as("y"), col("b.dst").as("z"))
        val triPerNode = tri.select(col("x").as("node"))
          .unionByName(tri.select(col("y").as("node")))
          .unionByName(tri.select(col("z").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
        degrees(s, dir)
          .filter(col("degree") >= 2)
          .join(triPerNode, Seq("node"), "left")
          .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
          .select(col("node"), col("degree"), col("n_tri"),
            expr("(2 * n_tri * 1000000) div (degree * (degree - 1))").as("cc_e6"))
          .orderBy(col("node"))
      },
      Some(s"""$baseSql,
              |tri AS (SELECT a.src AS x, a.dst AS y, b.dst AS z
              |        FROM e12 a
              |        JOIN e12 b ON b.src = a.src AND b.dst > a.dst
              |        JOIN e12 c ON c.src = a.dst AND c.dst = b.dst),
              |tpn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
              |          SELECT x AS node FROM tri UNION ALL
              |          SELECT y AS node FROM tri UNION ALL
              |          SELECT z AS node FROM tri) t
              |        GROUP BY node)
              |SELECT deg.node, deg.degree,
              |       CAST(coalesce(tpn.n_tri, 0) AS BIGINT) AS n_tri,
              |       CAST((2 * coalesce(tpn.n_tri, 0) * 1000000)
              |            // (deg.degree * (deg.degree - 1)) AS BIGINT) AS cc_e6
              |FROM deg LEFT JOIN tpn ON deg.node = tpn.node
              |WHERE deg.degree >= 2
              |ORDER BY deg.node""".stripMargin)
    ),
    Q(
      "graph_k_core",
      // k-core decomposition (k = 3) by iterated peeling: each round
      // recomputes degrees over the surviving subgraph and drops nodes
      // below k. Four rounds suffice for a fixpoint on the bounded-degree
      // graph (GraphAnalyticsSpec asserts round 5 changes nothing); the
      // fixed round count keeps the plan finite and bit-identical to the
      // oracle's CTE chain. Each round is one join + one map-side-
      // combinable count on the O(k·n) edge list — the same message-
      // passing shuffle shape as PageRank, never O(n²). Output: the
      // 3-core members with their round-4 subgraph degrees.
      (s, dir) => {
        val e = edgesSym(s, dir)
        var alive = degrees(s, dir).select(col("node"))
        var d: DataFrame = null
        for (_ <- 1 to 4) {
          d = e
            .join(alive.withColumnRenamed("node", "src"), "src")
            .join(alive.withColumnRenamed("node", "dst"), "dst")
            .groupBy(col("src").as("node")).agg(count(lit(1)).as("dg"))
          alive = d.filter(col("dg") >= 3).select(col("node"))
        }
        d.filter(col("dg") >= 3)
          .select(col("node"), col("dg").as("core_degree"))
          .orderBy(col("node"))
      },
      Some(s"""$baseSql,
              |v0 AS (SELECT node FROM deg),
              |d1 AS (SELECT e.src AS node, count(*) AS dg FROM e
              |       JOIN v0 a ON e.src = a.node JOIN v0 b ON e.dst = b.node
              |       GROUP BY e.src),
              |v1 AS (SELECT node FROM d1 WHERE dg >= 3),
              |d2 AS (SELECT e.src AS node, count(*) AS dg FROM e
              |       JOIN v1 a ON e.src = a.node JOIN v1 b ON e.dst = b.node
              |       GROUP BY e.src),
              |v2 AS (SELECT node FROM d2 WHERE dg >= 3),
              |d3 AS (SELECT e.src AS node, count(*) AS dg FROM e
              |       JOIN v2 a ON e.src = a.node JOIN v2 b ON e.dst = b.node
              |       GROUP BY e.src),
              |v3 AS (SELECT node FROM d3 WHERE dg >= 3),
              |d4 AS (SELECT e.src AS node, count(*) AS dg FROM e
              |       JOIN v3 a ON e.src = a.node JOIN v3 b ON e.dst = b.node
              |       GROUP BY e.src)
              |SELECT node, dg AS core_degree FROM d4 WHERE dg >= 3
              |ORDER BY node""".stripMargin)
    ),
    Q(
      "graph_common_neighbors",
      // Link prediction by common-neighbor counting: candidate pairs are
      // the distance-2 wedges (u -v- w, u < w) that are NOT already edges;
      // score = common-neighbor count plus the r2-pinned Jaccard overlap
      // cn / (deg u + deg w − cn). On the top-k graph the wedge fanout per
      // node is ≤ C(6,2), so candidate generation is O(k²·n) — bounded at
      // any corpus size, never an all-pairs join; at 100 TB this is the
      // standard "people you may know" / cluster-merge-candidate shape.
      // One wedge self-join, one count, one anti-join against the edge
      // list, two broadcast-size degree joins.
      (s, dir) => {
        val e = edgesSym(s, dir)
        val e12 = edges12(s, dir)
        val deg = degrees(s, dir)
        val cand = e.as("a")
          .join(e.as("b"),
            col("a.dst") === col("b.src") && col("a.src") < col("b.dst"))
          .groupBy(col("a.src").as("u"), col("b.dst").as("w"))
          .agg(count(lit(1)).as("cn"))
          .filter(col("cn") >= 2)
        cand
          .join(e12, cand("u") === e12("src") && cand("w") === e12("dst"),
            "left_anti")
          .join(deg.select(col("node").as("u"), col("degree").as("du")), "u")
          .join(deg.select(col("node").as("w"), col("degree").as("dw")), "w")
          .select(col("u"), col("w"), col("cn"),
            util.r2(col("cn").cast("double") /
              (col("du") + col("dw") - col("cn")).cast("double")).as("jaccard"))
          .orderBy(col("u"), col("w"))
      },
      Some(s"""$baseSql,
              |cand AS (
              |  SELECT a.src AS u, b.dst AS w, count(*) AS cn
              |  FROM e a JOIN e b ON a.dst = b.src AND a.src < b.dst
              |  GROUP BY 1, 2 HAVING count(*) >= 2),
              |nonedge AS (
              |  SELECT c.u, c.w, c.cn FROM cand c
              |  LEFT JOIN e12 ON e12.src = c.u AND e12.dst = c.w
              |  WHERE e12.src IS NULL)
              |SELECT n.u, n.w, n.cn,
              |       ${util.r2sql("CAST(n.cn AS DOUBLE) / CAST(du.degree + dw.degree - n.cn AS DOUBLE)")} AS jaccard
              |FROM nonedge n
              |JOIN deg du ON n.u = du.node
              |JOIN deg dw ON n.w = dw.node
              |ORDER BY n.u, n.w""".stripMargin)
    ),
    Q(
      "graph_adamic_adar",
      // Adamic–Adar link prediction (round-12): the common-neighbor index
      // that DOWN-WEIGHTS promiscuous hubs — each shared neighbor v
      // contributes 1/ln(deg v), so two nodes tied together by a rare
      // specialist score higher than two tied by a hub everyone touches
      // (the refinement that beats raw counts and Jaccard on most link
      // tasks). Same bounded wedge generation as graph_common_neighbors;
      // the per-neighbor weight is floored to an e6 BIGINT BEFORE
      // summation (the eval_retrieval_metrics discipline), so the only
      // float op is one ln per wedge center and the aggregate is exact
      // integer — no float sum order anywhere. Wedge centers always have
      // degree ≥ 2, so ln is never zero. Scale: O(k²·n) candidates on the
      // top-k graph, one count+sum aggregate, one anti-join — never an
      // all-pairs product.
      (s, dir) => {
        val e = edgesSym(s, dir)
        val e12 = edges12(s, dir)
        val deg = degrees(s, dir)
        val wedges = e.as("a")
          .join(e.as("b"),
            col("a.dst") === col("b.src") && col("a.src") < col("b.dst"))
          .select(col("a.src").as("u"), col("a.dst").as("v"), col("b.dst").as("w"))
          .join(deg.select(col("node").as("v"), col("degree").as("dv")), "v")
          .withColumn("term_e6", expr(
            "CAST(floor(CAST(1000000 AS DOUBLE) / ln(CAST(dv AS DOUBLE)) + 0.5) AS BIGINT)"))
        val cand = wedges.groupBy(col("u"), col("w"))
          .agg(count(lit(1)).as("cn"), sum(col("term_e6")).as("aa_e6"))
          .filter(col("cn") >= 2)
        cand
          .join(e12, cand("u") === e12("src") && cand("w") === e12("dst"),
            "left_anti")
          .select(col("u"), col("w"), col("cn"), col("aa_e6"))
          .orderBy(col("u"), col("w"))
      },
      Some(s"""$baseSql,
              |wed AS (
              |  SELECT a.src AS u, a.dst AS v, b.dst AS w
              |  FROM e a JOIN e b ON a.dst = b.src AND a.src < b.dst),
              |wd AS (
              |  SELECT u, w,
              |         CAST(floor(CAST(1000000 AS DOUBLE) / ln(CAST(degree AS DOUBLE)) + 0.5) AS BIGINT) AS term_e6
              |  FROM wed JOIN deg ON v = node),
              |cand AS (
              |  SELECT u, w, CAST(count(*) AS BIGINT) AS cn,
              |         CAST(sum(term_e6) AS BIGINT) AS aa_e6
              |  FROM wd GROUP BY u, w HAVING count(*) >= 2)
              |SELECT c.u, c.w, c.cn, c.aa_e6 FROM cand c
              |LEFT JOIN e12 ON e12.src = c.u AND e12.dst = c.w
              |WHERE e12.src IS NULL
              |ORDER BY c.u, c.w""".stripMargin)
    ),
    Q(
      "graph_label_propagation",
      // Community detection by synchronous label propagation, 3 rounds:
      // every node starts as its own community (label = node id) and each
      // round adopts the most frequent label among its neighbors, ties
      // broken by smallest label — the deterministic LPA variant (plain
      // LPA's random tie-break cannot cross engines). Each round is one
      // join (edges → neighbor labels), one map-side-combinable count and
      // one per-node top-1 window — O(edges) shuffle per round on the
      // bounded-degree graph, the same message-passing budget as PageRank.
      // The fixed round count keeps the lineage finite; an open-ended
      // variant would localCheckpoint per round like the component closure.
      (s, dir) => lpaLabels(s, dir).orderBy(col("node")),
      Some(s"""$baseSql,
              |$lpaSql
              |SELECT node, lab FROM l3 ORDER BY node""".stripMargin)
    ),
    Q(
      "graph_conductance",
      // Community-quality census (round-10): conductance of every LPA
      // community — cut edge-endpoints over min(volume, total−volume),
      // the standard "is this community real or an artifact" number a
      // detection pipeline gates on before acting on communities. One
      // edge-labeling join over the bounded-degree graph + one aggregate;
      // arithmetic is BIGINT with an e6-pinned ratio. Oracle: the same
      // unrolled 3-round LPA chain extended by the edge-label census.
      (s, dir) => {
        // r17 (guide §2.4): lab is consumed THREE times (both el join legs
        // + the size census) — uncheckpointed, each consumer replayed the
        // full 3-round LPA chain (join + groupBy + window per round). One
        // lazy checkpoint runs LPA once. And m2 = |el| is just Σ vol over
        // the per-label groups, so the separate full second pass over el
        // (agg + broadcast cross join) collapses into an unpartitioned
        // window over the O(labels) community table.
        val lab = lpaLabels(s, dir).localCheckpoint(false)
        val el = edgesSym(s, dir)
          .join(lab.select(col("node").as("src"), col("lab").as("ls")), "src")
          .join(lab.select(col("node").as("dst"), col("lab").as("ld")), "dst")
        val comm = el.groupBy(col("ls").as("lab"))
          .agg(count(lit(1)).as("vol"),
            sum(when(col("ls") =!= col("ld"), 1L).otherwise(0L)).as("cut"))
        val sz = lab.groupBy(col("lab")).agg(count(lit(1)).as("size"))
        comm.join(sz, "lab")
          .withColumn("m2", sum(col("vol")).over(
            Window.partitionBy().rowsBetween(
              Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("cond_e6", expr(
            """CASE WHEN least(vol, m2 - vol) > 0
              |THEN (cut * 1000000) div least(vol, m2 - vol)
              |ELSE 0 END""".stripMargin))
          .select(col("lab"), col("size"), col("vol"), col("cut"),
            col("cond_e6"))
          .orderBy(col("lab"))
      },
      Some(s"""$baseSql,
              |$lpaSql,
              |el AS (
              |  SELECT a.lab AS ls, b.lab AS ld
              |  FROM e JOIN l3 a ON e.src = a.node
              |         JOIN l3 b ON e.dst = b.node),
              |tot AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM el),
              |comm AS (
              |  SELECT ls AS lab, CAST(count(*) AS BIGINT) AS vol,
              |         CAST(sum(CASE WHEN ls <> ld THEN 1 ELSE 0 END)
              |              AS BIGINT) AS cut
              |  FROM el GROUP BY ls),
              |sz AS (SELECT lab, CAST(count(*) AS BIGINT) AS size
              |       FROM l3 GROUP BY lab)
              |SELECT c.lab, sz.size, c.vol, c.cut,
              |       CASE WHEN least(c.vol, tot.m2 - c.vol) > 0
              |            THEN (c.cut * 1000000) // least(c.vol, tot.m2 - c.vol)
              |            ELSE 0 END AS cond_e6
              |FROM comm c JOIN sz ON sz.lab = c.lab, tot
              |ORDER BY c.lab""".stripMargin)
    ),
    Q(
      "graph_rich_club",
      // Rich-club coefficient (round-10): do the highest-degree nodes
      // form a densely knit core? φ(k) = 2·E_k / (n_k·(n_k−1)) over the
      // subgraph induced by nodes of degree ≥ k, swept across k — the
      // assortativity complement that localizes WHERE hub-hub mixing
      // happens. Degrees and induced-edge counts are two semi-join
      // passes over the bounded-degree edge list; φ is e6-pinned BIGINT.
      (s, dir) => {
        import s.implicits._
        val deg = degrees(s, dir)
        val e12 = edges12(s, dir)
        val ks = broadcast(Seq(2L, 3L, 4L, 5L).toDF("k"))
        val rich = deg.crossJoin(ks).filter(col("degree") >= col("k"))
          .select(col("k"), col("node"))
        val nrc = rich.groupBy(col("k")).agg(count(lit(1)).as("n_rc"))
        val erc = e12
          .join(rich.select(col("k"), col("node").as("src")), Seq("src"))
          .join(rich.select(col("k"), col("node").as("dst")), Seq("dst", "k"))
          .groupBy(col("k")).agg(count(lit(1)).as("e_rc"))
        nrc.join(erc, Seq("k"), "left")
          .withColumn("e_rc", coalesce(col("e_rc"), lit(0L)))
          .withColumn("phi_e6", expr(
            """CASE WHEN n_rc > 1
              |THEN (2000000 * e_rc) div (n_rc * (n_rc - 1))
              |ELSE CAST(0 AS BIGINT) END""".stripMargin))
          .orderBy(col("k"))
      },
      Some(s"""$baseSql,
              |ks AS (SELECT unnest([2, 3, 4, 5]) AS k),
              |rich AS (SELECT k, node FROM deg, ks WHERE degree >= k),
              |nrc AS (SELECT k, CAST(count(*) AS BIGINT) AS n_rc
              |        FROM rich GROUP BY k),
              |erc AS (
              |  SELECT r1.k, CAST(count(*) AS BIGINT) AS e_rc
              |  FROM e12 JOIN rich r1 ON r1.node = e12.src
              |           JOIN rich r2 ON r2.node = e12.dst AND r2.k = r1.k
              |  GROUP BY r1.k)
              |SELECT CAST(nrc.k AS BIGINT) AS k, nrc.n_rc,
              |       coalesce(erc.e_rc, 0) AS e_rc,
              |       CASE WHEN nrc.n_rc > 1
              |            THEN (2000000 * coalesce(erc.e_rc, 0))
              |                 // (nrc.n_rc * (nrc.n_rc - 1))
              |            ELSE CAST(0 AS BIGINT) END AS phi_e6
              |FROM nrc LEFT JOIN erc ON erc.k = nrc.k
              |ORDER BY k""".stripMargin)
    ),
    Q(
      "graph_degree_assortativity",
      // Degree assortativity (round-9): the Pearson correlation of
      // endpoint degrees over the directed edge list — do hubs link to
      // hubs (r>0, social-network shape) or to leaves (r<0,
      // infrastructure shape)? Six exact BIGINT sums over O(edges) rows
      // (degrees are bounded by the top-k sparsification, so products
      // can't overflow), then two sqrts and one division pinned to e6 —
      // the same discipline as ts_rolling_corr. One join lands degree on
      // each endpoint; shuffle volume O(edges) = O(6·nodes).
      (s, dir) => {
        val deg = degrees(s, dir)
        val e = edgesSym(s, dir)
        val withDeg = e
          .join(deg.select(col("node").as("src"), col("degree").as("dx")), "src")
          .join(deg.select(col("node").as("dst"), col("degree").as("dy")), "dst")
        withDeg.agg(
            expr("CAST(count(*) AS BIGINT)").as("m"),
            expr("CAST(sum(dx) AS BIGINT)").as("sx"),
            expr("CAST(sum(dy) AS BIGINT)").as("sy"),
            expr("CAST(sum(dx * dx) AS BIGINT)").as("sxx"),
            expr("CAST(sum(dy * dy) AS BIGINT)").as("syy"),
            expr("CAST(sum(dx * dy) AS BIGINT)").as("sxy"))
          .select(col("m"),
            expr("""CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
                    THEN CAST(floor(CAST(m * sxy - sx * sy AS DOUBLE)
                         / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                            * sqrt(CAST(m * syy - sy * sy AS DOUBLE)))
                         * 1000000 + 0.5) AS BIGINT)
                    ELSE NULL END""").as("assortativity_e6"))
      },
      Some(s"""$baseSql,
              |wd AS (
              |  SELECT e.src, e.dst, da.degree AS dx, db.degree AS dy
              |  FROM e JOIN deg da ON e.src = da.node
              |         JOIN deg db ON e.dst = db.node),
              |sums AS (
              |  SELECT CAST(count(*) AS BIGINT) AS m,
              |         CAST(sum(dx) AS BIGINT) AS sx,
              |         CAST(sum(dy) AS BIGINT) AS sy,
              |         CAST(sum(dx * dx) AS BIGINT) AS sxx,
              |         CAST(sum(dy * dy) AS BIGINT) AS syy,
              |         CAST(sum(dx * dy) AS BIGINT) AS sxy
              |  FROM wd)
              |SELECT m,
              |       CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
              |            THEN CAST(floor(CAST(m * sxy - sx * sy AS DOUBLE)
              |                 / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
              |                    * sqrt(CAST(m * syy - sy * sy AS DOUBLE)))
              |                 * 1000000 + 0.5) AS BIGINT)
              |            ELSE NULL END AS assortativity_e6
              |FROM sums""".stripMargin)
    ),
    Q(
      "graph_weighted_sssp",
      // Weighted single-source shortest path (round-9): Bellman-Ford over
      // the sparsified graph with BIGINT costs (cost = 10^6 div
      // co-occurrence count — frequent partners are cheap to traverse),
      // 4 relaxation rounds from the minimum node. Each round is the BFS
      // frontier shape with a cost lattice instead of a hop lattice:
      // union(current, edges⋈current + cost) → min-groupBy — shuffle
      // O(edges) per round, never O(paths). Pure integer arithmetic end
      // to end, so Spark's iterative plan and DuckDB's unrolled-CTE
      // replay agree bit-for-bit; unreached nodes simply don't appear.
      (s, dir) => {
        // weighted symmetric edges: each undirected pick weighs its
        // larger directed count, derived from the staged pick list
        val ew12 = directedTopk(s, dir)
          .groupBy(least(col("s"), col("d")).as("src"),
            greatest(col("s"), col("d")).as("dst"))
          .agg(max(col("cnt")).as("cnt"))
        val ew = ew12
          .select(col("src"), col("dst"), expr("1000000 div cnt").as("cost"))
          .unionByName(ew12.select(col("dst").as("src"), col("src").as("dst"),
            expr("1000000 div cnt").as("cost")))
        var dist = ew.agg(min(col("src")).as("node"))
          .withColumn("dist", lit(0L))
        for (_ <- 1 to 4) {
          dist = dist
            .unionByName(ew
              .join(dist.select(col("node").as("src"), col("dist").as("dsrc")),
                "src")
              .select(col("dst").as("node"), (col("dsrc") + col("cost")).as("dist")))
            .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        }
        dist.orderBy(col("node"))
      },
      Some(s"""$baseSql,
              |ew12 AS (SELECT least(s, d) AS src, greatest(s, d) AS dst,
              |                CAST(max(cnt) AS BIGINT) AS cnt
              |         FROM topk GROUP BY 1, 2),
              |ew AS (SELECT src, dst, CAST(1000000 // cnt AS BIGINT) AS cost FROM ew12
              |       UNION ALL
              |       SELECT dst, src, CAST(1000000 // cnt AS BIGINT) FROM ew12),
              |d0 AS (SELECT CAST(min(src) AS BIGINT) AS node,
              |              CAST(0 AS BIGINT) AS dist FROM ew),
              |d1 AS (SELECT node, min(dist) AS dist FROM (
              |  SELECT node, dist FROM d0 UNION ALL
              |  SELECT ew.dst, d0.dist + ew.cost FROM ew JOIN d0 ON ew.src = d0.node) u
              |  GROUP BY node),
              |d2 AS (SELECT node, min(dist) AS dist FROM (
              |  SELECT node, dist FROM d1 UNION ALL
              |  SELECT ew.dst, d1.dist + ew.cost FROM ew JOIN d1 ON ew.src = d1.node) u
              |  GROUP BY node),
              |d3 AS (SELECT node, min(dist) AS dist FROM (
              |  SELECT node, dist FROM d2 UNION ALL
              |  SELECT ew.dst, d2.dist + ew.cost FROM ew JOIN d2 ON ew.src = d2.node) u
              |  GROUP BY node),
              |d4 AS (SELECT node, min(dist) AS dist FROM (
              |  SELECT node, dist FROM d3 UNION ALL
              |  SELECT ew.dst, d3.dist + ew.cost FROM ew JOIN d3 ON ew.src = d3.node) u
              |  GROUP BY node)
              |SELECT node, dist FROM d4 ORDER BY node""".stripMargin)
    ),
    Q(
      "graph_scc_functional",
      // Strongly connected components by POINTER DOUBLING (round-10): the
      // missing classic after components/PageRank/BFS/k-core. On a
      // functional graph (out-degree 1 — the shape of "next page",
      // retry-chain and symlink graphs) SCCs are exactly the cycles; the
      // algorithm finds them in O(log n) rounds, each ONE keyed self-join:
      // state (u, jump=succ^(2^t)(u), mn=min of the first 2^t orbit
      // nodes) squares per round — (jump, mn) ← (jump∘jump,
      // min(mn, mn∘jump)). After 2^k ≥ n steps every jump target sits ON
      // its cycle, the cycle SET is exactly the image of the jump map
      // (succ^m is a bijection on each cycle), and a cycle node's mn is
      // its cycle's minimum (its orbit IS the cycle) — the canonical SCC
      // representative. Off-cycle nodes are singleton SCCs (no path
      // back into a tail). The successor is derived from customer keys
      // with ANALYTICALLY KNOWN structure (blocks of 5 form 5-cycles on
      // the first half; the second half tails into them), so the oracle
      // is the closed-form census the generic algorithm must reproduce.
      // Scale: log2(n) rounds × O(n) shuffle each — 100 TB of nodes is
      // ~47 rounds of equi-joins on bounded rows; lineage truncated per
      // round (lazy localCheckpoint, the [[Graph]] pattern).
      (s, dir) => {
        val n = Tables(s, dir, "customer").count()
        val p = (n / 10L) * 5L
        val nodes = Tables(s, dir, "customer").select(col("c_custkey").as("u"))
        val succ = when(col("u") < p,
            (col("u") - (col("u") % 5)) + ((col("u") % 5) + 1) % 5)
          .otherwise(col("u") % p)
        var st = nodes.select(col("u"), succ.as("jump"), col("u").as("mn"))
          .localCheckpoint(true)
        val rounds = (64 - java.lang.Long.numberOfLeadingZeros(
          math.max(1L, n - 1))).toInt // ceil(log2 n): 2^rounds >= n
        // r17 (guide §3.1, VERDICT r16 next-round #8): a checkpointed RDD
        // (`Scan ExistingRDD`) carries no stats, so every doubling round
        // planned as SortMergeJoin — AQE rescued it to BHJ at runtime but
        // only AFTER both sides' shuffle writes. The state size is KNOWN
        // here (n rows × 3 longs); when it provably fits a broadcast
        // (≤ 64 MB at ~64 B/row — far under the 8 GB relation cap), hint
        // the build side so the BHJ is planned statically and the per-
        // round exchanges disappear outright. At 100 TB node counts the
        // condition is false and the shuffled join returns — the choice
        // derives from data size, never the core count.
        val bcastState = n * 64L < (64L << 20)
        for (r <- 0 until rounds) {
          val j = st.select(col("u").as("ju"), col("jump").as("jj"),
            col("mn").as("jmn"))
          st = st.join(if (bcastState) broadcast(j) else j,
              col("jump") === col("ju"))
            .select(col("u"), col("jj").as("jump"),
              least(col("mn"), col("jmn")).as("mn"))
          // checkpoint every SECOND doubling round (and the last): st
          // feeds two subtrees per round, so unchecked lineage doubles —
          // two rounds per barrier trades 4 tiny subtree replays for
          // half the per-round plan/stage fixed cost, which dominates
          // when the state is O(nodes) small relative to the barrier
          // overhead. Identical state either way; at a scale where a
          // round's join is expensive, drop the spacing back to 1.
          if (r % 2 == 1 || r == rounds - 1)
            st = st.localCheckpoint(false)
        }
        val cyc = st.select(col("jump").as("cu")).distinct()
        // census join under the same provably-small condition: cyc ≤ n
        // rows of one long — broadcast removes the SMJ's two exchanges
        st.join(if (bcastState) broadcast(cyc) else cyc,
            col("u") === col("cu"), "left")
          .select(col("u"),
            when(col("cu").isNotNull, col("mn")).otherwise(col("u")).as("rep"),
            col("cu").isNotNull.as("on_cycle"))
          .groupBy(col("rep"))
          .agg(count(lit(1)).as("scc_size"), max(col("on_cycle")).as("is_cycle"))
          .groupBy(col("scc_size"), col("is_cycle"))
          .agg(count(lit(1)).as("n_sccs"),
            min(col("rep")).as("min_rep"), max(col("rep")).as("max_rep"))
          .orderBy(col("scc_size"))
      },
      Some("""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
             |p AS (SELECT (n // 10) * 5 AS p, n FROM n)
             |SELECT CAST(5 AS BIGINT) AS scc_size, TRUE AS is_cycle,
             |       CAST(p // 5 AS BIGINT) AS n_sccs,
             |       CAST(0 AS BIGINT) AS min_rep, p - 5 AS max_rep FROM p
             |UNION ALL
             |SELECT CAST(1 AS BIGINT), FALSE, n - p, p, n - 1 FROM p
             |ORDER BY scc_size""".stripMargin)
    ),
    Q(
      "graph_random_walks",
      // Deterministic random walks (round-10): the node2vec/DeepWalk
      // sampling step that turns a graph into training sequences. One
      // 3-hop walk starts from EVERY node; at step t the next hop is the
      // idx-th neighbor (neighbors ranked by id) where idx is a pre-mod
      // multiplicative hash of (start, current, t) — deterministic, so
      // both engines replay the identical corpus, yet well-mixed across
      // nodes and steps. Scale: the adjacency carries idx + degree from
      // one window pass; each hop is ONE equi-join on the current node
      // with fanout ≤ top-k degree, filtered to the hashed index —
      // shuffle O(nodes) per hop, walks never materialize intermediate
      // neighbor lists. At 100 TB this is exactly how sequence corpora
      // for graph embeddings are generated (hash-seeded walks are also
      // reproducible across reruns — an audit requirement).
      (s, dir) => {
        val wAdj = Window.partitionBy(col("src")).orderBy(col("dst"))
        val adj = edgesSym(s, dir)
          .withColumn("idx", (row_number().over(wAdj) - 1).cast("long"))
          .withColumn("degree",
            count(lit(1)).over(Window.partitionBy(col("src"))))
        def hop(w: DataFrame, t: Int): DataFrame = {
          val picked = expr(
            s"""(((start * 31 + cur) % 1000003) * 2654435761
               |  % 1000000007 + $t * 97) % 1000000007 % degree"""
              .stripMargin)
          val keep = w.columns.filter(_ != "cur").map(col) :+
            col("dst").as(s"hop${t + 1}")
          w.join(adj, col("cur") === col("src"))
            .filter(col("idx") === picked)
            .select(keep: _*)
            .withColumn("cur", col(s"hop${t + 1}"))
        }
        val w0 = adj.select(col("src").as("start")).distinct()
          .withColumn("hop0", col("start")).withColumn("cur", col("start"))
        val w3 = hop(hop(hop(w0, 0), 1), 2)
        w3.select(col("start"), col("hop1"), col("hop2"), col("hop3"))
          .orderBy(col("start"))
      },
      Some(s"""$baseSql,
              |adj AS (
              |  SELECT src, dst,
              |         CAST(row_number() OVER (PARTITION BY src ORDER BY dst)
              |              - 1 AS BIGINT) AS idx,
              |         CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS degree
              |  FROM e),
              |w0 AS (SELECT DISTINCT src AS start FROM adj),
              |w1 AS (
              |  SELECT w0.start, a.dst AS hop1 FROM w0 JOIN adj a
              |    ON a.src = w0.start
              |   AND a.idx = (((w0.start * 31 + w0.start) % 1000003)
              |        * 2654435761 % 1000000007 + 0 * 97)
              |        % 1000000007 % a.degree),
              |w2 AS (
              |  SELECT w1.start, w1.hop1, a.dst AS hop2 FROM w1 JOIN adj a
              |    ON a.src = w1.hop1
              |   AND a.idx = (((w1.start * 31 + w1.hop1) % 1000003)
              |        * 2654435761 % 1000000007 + 1 * 97)
              |        % 1000000007 % a.degree),
              |w3 AS (
              |  SELECT w2.start, w2.hop1, w2.hop2, a.dst AS hop3 FROM w2 JOIN adj a
              |    ON a.src = w2.hop2
              |   AND a.idx = (((w2.start * 31 + w2.hop2) % 1000003)
              |        * 2654435761 % 1000000007 + 2 * 97)
              |        % 1000000007 % a.degree)
              |SELECT start, hop1, hop2, hop3 FROM w3 ORDER BY start""".stripMargin)
    ),
    Q(
      "graph_harmonic_centrality",
      // Bounded harmonic centrality (round-13): H(v) = Σ_u 1/d(v,u) over
      // the ≤3-hop neighborhood — the centrality that stays FINITE on
      // disconnected graphs (closeness blows up), which is why web/corpus
      // graph audits prefer it. Exact on the truncated horizon: the
      // h-bounded variant is a standard estimator in its own right (the
      // tail beyond hop 3 is uniformly bounded), NOT a sample — so the
      // oracle replays it bit-for-bit. Determinism: distances are exact
      // BIGINT hop counts and the harmonic sum stays integral by scoring
      // 6/d ∈ {6,3,2} (lcm trick — no float division anywhere). Scale: on
      // the bounded-degree sparsified graph (top-3 partners per node) the
      // h-hop neighborhood is ≤ deg^h rows per node, so the two
      // self-joins grow LINEARLY in nodes, never O(n²); each expansion is
      // an equi-join on the frontier column + min-groupBy — the same
      // message-passing shuffle shape as PageRank.
      (s, dir) => {
        val e = edgesSym(s, dir)
        val p1 = e.select(col("src"), col("dst"), lit(1L).as("d"))
        val p2 = e.as("a").join(e.as("b"), col("a.dst") === col("b.src"))
          .filter(col("a.src") =!= col("b.dst"))
          .select(col("a.src").as("src"), col("b.dst").as("dst"),
            lit(2L).as("d"))
        val p3 = e.as("a").join(e.as("b"), col("a.dst") === col("b.src"))
          .join(e.as("c"), col("b.dst") === col("c.src"))
          .filter(col("a.src") =!= col("c.dst"))
          .select(col("a.src").as("src"), col("c.dst").as("dst"),
            lit(3L).as("d"))
        p1.unionByName(p2).unionByName(p3)
          .groupBy(col("src"), col("dst")).agg(min(col("d")).as("d"))
          .groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("n_reached"),
            sum(expr("6 div d")).as("harmonic_x6"))
          .orderBy(col("node"))
      },
      Some(s"""$baseSql,
              |p1 AS (SELECT src, dst, 1 AS d FROM e),
              |p2 AS (
              |  SELECT a.src, b.dst, 2 AS d
              |  FROM e a JOIN e b ON a.dst = b.src
              |  WHERE a.src <> b.dst),
              |p3 AS (
              |  SELECT a.src, c.dst, 3 AS d
              |  FROM e a JOIN e b ON a.dst = b.src
              |           JOIN e c ON b.dst = c.src
              |  WHERE a.src <> c.dst),
              |dmin AS (
              |  SELECT src, dst, min(d) AS d
              |  FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
              |        UNION ALL SELECT * FROM p3) u
              |  GROUP BY src, dst)
              |SELECT src AS node, CAST(count(*) AS BIGINT) AS n_reached,
              |       CAST(sum(6 // d) AS BIGINT) AS harmonic_x6
              |FROM dmin GROUP BY src ORDER BY node""".stripMargin)
    ),
    Q(
      "graph_betweenness_seeds",
      // Seed-sampled betweenness centrality, 3-hop-bounded Brandes
      // (round-13): WHO brokers the shortest paths — the centrality that
      // finds bridges/bottlenecks where degree and PageRank find hubs.
      // Exact betweenness is O(V·E) (all-sources Brandes); the standard
      // scale estimator runs Brandes from a SEED SAMPLE (here the
      // deterministic node %17 set, the BFS row's seeds) on a bounded
      // horizon, summing each seed's dependency δ. Both Brandes phases
      // are pure message passing: the forward sweep is 3 rounds of
      // (frontier ⋈ edges → sum σ over predecessors, anti-join vs
      // reached) — shortest-path COUNTS σ stay exact BIGINT — and the
      // backward sweep accumulates δ level-by-level in e6 FIXED POINT
      // with INTEGER division (δv += σv·(1e6+δw) div σw), so no float
      // enters either engine and the hash gate pins every path count
      // and every accumulated dependency. Per round: one keyed shuffle
      // on the frontier — the PageRank shape; candidate volume is capped
      // by the sparsifier's bounded degree, never O(n²).
      (s, dir) => {
        val e = edgesSym(s, dir)
        val l0 = degrees(s, dir).filter(col("node") % 17 === 0)
          .select(col("node").as("seed"), col("node"), lit(1L).as("sigma"))
        def expand(prev: DataFrame, known: DataFrame): DataFrame =
          e.join(prev.select(col("seed"), col("node").as("src"),
              col("sigma")), "src")
            .groupBy(col("seed"), col("dst").as("node"))
            .agg(sum(col("sigma")).as("sigma"))
            .join(known, Seq("seed", "node"), "left_anti")
        val k0 = l0.select(col("seed"), col("node"))
        val l1 = expand(l0, k0)
        val k1 = k0.unionByName(l1.select(col("seed"), col("node")))
        val l2 = expand(l1, k1)
        val k2 = k1.unionByName(l2.select(col("seed"), col("node")))
        val l3 = expand(l2, k2)
        // backward sweep, δ3 = 0
        val l3d = l3.withColumn("delta", lit(0L))
        def deltas(lv: DataFrame, lwd: DataFrame): DataFrame = {
          val c = e.as("e")
            .join(lv.select(col("seed"), col("node").as("src"),
              col("sigma").as("sv")).as("v"), "src")
            .join(lwd.select(col("seed").as("ws"), col("node").as("wdst"),
              col("sigma").as("sw"), col("delta").as("dw")).as("w"),
              col("e.dst") === col("wdst") && col("seed") === col("ws"))
            .groupBy(col("seed"), col("src").as("node"))
            .agg(sum(expr("sv * (1000000 + dw) div sw")).as("delta"))
          lv.join(c, Seq("seed", "node"), "left")
            .select(col("seed"), col("node"), col("sigma"),
              coalesce(col("delta"), lit(0L)).as("delta"))
        }
        val l2d = deltas(l2, l3d)
        val l1d = deltas(l1, l2d)
        l1d.select(col("seed"), col("node"), col("delta"))
          .unionByName(l2d.select(col("seed"), col("node"), col("delta")))
          .groupBy(col("node"))
          .agg(count(lit(1)).as("n_seed_visits"),
            sum(col("delta")).as("betweenness_e6"))
          .orderBy(col("node"))
      },
      Some(s"""$baseSql,
              |l0 AS (SELECT node AS seed, node, CAST(1 AS BIGINT) AS sigma
              |       FROM deg WHERE node % 17 = 0),
              |c1 AS (SELECT l0.seed, e.dst AS node, CAST(sum(l0.sigma) AS BIGINT) AS sigma
              |       FROM e JOIN l0 ON e.src = l0.node GROUP BY 1, 2),
              |l1 AS (SELECT c1.* FROM c1 LEFT JOIN l0 k
              |       ON c1.seed = k.seed AND c1.node = k.node WHERE k.node IS NULL),
              |c2 AS (SELECT l1.seed, e.dst AS node, CAST(sum(l1.sigma) AS BIGINT) AS sigma
              |       FROM e JOIN l1 ON e.src = l1.node GROUP BY 1, 2),
              |k1 AS (SELECT seed, node FROM l0 UNION ALL SELECT seed, node FROM l1),
              |l2 AS (SELECT c2.* FROM c2 LEFT JOIN k1 k
              |       ON c2.seed = k.seed AND c2.node = k.node WHERE k.node IS NULL),
              |c3 AS (SELECT l2.seed, e.dst AS node, CAST(sum(l2.sigma) AS BIGINT) AS sigma
              |       FROM e JOIN l2 ON e.src = l2.node GROUP BY 1, 2),
              |k2 AS (SELECT seed, node FROM k1 UNION ALL SELECT seed, node FROM l2),
              |l3 AS (SELECT c3.* FROM c3 LEFT JOIN k2 k
              |       ON c3.seed = k.seed AND c3.node = k.node WHERE k.node IS NULL),
              |d2c AS (
              |  SELECT v.seed, v.node, CAST(sum(v.sigma * (1000000 + 0) // w.sigma) AS BIGINT) AS delta
              |  FROM e JOIN l2 v ON e.src = v.node
              |         JOIN l3 w ON e.dst = w.node AND w.seed = v.seed
              |  GROUP BY v.seed, v.node),
              |l2d AS (SELECT l2.seed, l2.node, l2.sigma, coalesce(d2c.delta, 0) AS delta
              |        FROM l2 LEFT JOIN d2c ON l2.seed = d2c.seed AND l2.node = d2c.node),
              |d1c AS (
              |  SELECT v.seed, v.node, CAST(sum(v.sigma * (1000000 + w.delta) // w.sigma) AS BIGINT) AS delta
              |  FROM e JOIN l1 v ON e.src = v.node
              |         JOIN l2d w ON e.dst = w.node AND w.seed = v.seed
              |  GROUP BY v.seed, v.node),
              |l1d AS (SELECT l1.seed, l1.node, l1.sigma, coalesce(d1c.delta, 0) AS delta
              |        FROM l1 LEFT JOIN d1c ON l1.seed = d1c.seed AND l1.node = d1c.node)
              |SELECT node, CAST(count(*) AS BIGINT) AS n_seed_visits,
              |       CAST(sum(delta) AS BIGINT) AS betweenness_e6
              |FROM (SELECT seed, node, delta FROM l1d
              |      UNION ALL SELECT seed, node, delta FROM l2d) u
              |GROUP BY node ORDER BY node""".stripMargin)
    ),
    Q(
      "graph_eigenvector_power",
      // Eigenvector centrality by power iteration (round-13): influence
      // that weighs WHO your neighbors are, not just how many — PageRank
      // without teleport or degree normalization, the variant where a
      // node connected to hubs outranks one connected to leaves of equal
      // degree. Four synchronous x ← A·x rounds in pure BIGINT (start
      // 10⁶ per node), EACH followed by an integer re-normalization
      // `score DIV greatest(max DIV 10⁶, 1)` that pins the per-node
      // score back into [0, ~2·10⁶) — ADVICE r13: the pre-normalization
      // sum is bounded by max_in_degree · 2·10⁶ per round (a hub's
      // in-degree can reach n — the symmetrized top-3 pick bounds only
      // OUT-degree), so without the per-round pin growth is maxdeg⁴·10⁶
      // and a hub-heavy graph silently wraps in Spark while DuckDB's
      // HUGEINT promotion errors. With the pin, overflow needs
      // n > 4.6·10¹² nodes. The per-round divide-by-shifted-max form
      // never multiplies before dividing; the FINAL projection re-pins
      // the max at exactly 10⁶ with score·10⁶ DIV max, safe because
      // pinned scores are ≤ ~2·10⁶ regardless of graph shape.
      // Bit-for-bit identical in both engines, no float summation order
      // anywhere. Scale: each round is one join+groupBy over the edge
      // list plus a broadcastable scalar max.
      (s, dir) => {
        val e = edgesSym(s, dir)
        var x = e.select(col("src").as("node")).distinct()
          .withColumn("score", lit(1000000L))
        for (_ <- 1 to 4) {
          // materialize each round once (r14 bench adjudication): the
          // per-round normalization reads the round's output TWICE (max,
          // then the divide) and chains into the next round — without a
          // checkpoint every one of those passes re-executes the whole
          // lineage from round 1, turning 4 rounds into O(R²) joins
          val raw = e.join(x, e("dst") === x("node"))
            .groupBy(col("src").as("n2"))
            .agg(sum(col("score")).as("raw"))
            .localCheckpoint(true)
          val d = raw.agg(greatest(expr("max(raw) DIV 1000000"), lit(1L))
            .as("d"))
          x = raw.crossJoin(broadcast(d))
            .select(col("n2").as("node"), expr("raw DIV d").as("score"))
        }
        val mx = x.agg(max(col("score")).as("mx"))
        x.crossJoin(broadcast(mx))
          .select(col("node"),
            expr("CAST(score * 1000000 DIV mx AS BIGINT)").as("eig_e6"))
          .orderBy(col("eig_e6").desc, col("node"))
      },
      Some(s"""$baseSql,
              |x0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS score FROM e),
              |r1 AS (SELECT e.src AS node, CAST(sum(x0.score) AS BIGINT) AS raw
              |       FROM e JOIN x0 ON e.dst = x0.node GROUP BY e.src),
              |d1 AS (SELECT greatest(max(raw) // 1000000, 1) AS d FROM r1),
              |x1 AS (SELECT node, raw // d AS score FROM r1 CROSS JOIN d1),
              |r2 AS (SELECT e.src AS node, CAST(sum(x1.score) AS BIGINT) AS raw
              |       FROM e JOIN x1 ON e.dst = x1.node GROUP BY e.src),
              |d2 AS (SELECT greatest(max(raw) // 1000000, 1) AS d FROM r2),
              |x2 AS (SELECT node, raw // d AS score FROM r2 CROSS JOIN d2),
              |r3 AS (SELECT e.src AS node, CAST(sum(x2.score) AS BIGINT) AS raw
              |       FROM e JOIN x2 ON e.dst = x2.node GROUP BY e.src),
              |d3 AS (SELECT greatest(max(raw) // 1000000, 1) AS d FROM r3),
              |x3 AS (SELECT node, raw // d AS score FROM r3 CROSS JOIN d3),
              |r4 AS (SELECT e.src AS node, CAST(sum(x3.score) AS BIGINT) AS raw
              |       FROM e JOIN x3 ON e.dst = x3.node GROUP BY e.src),
              |d4 AS (SELECT greatest(max(raw) // 1000000, 1) AS d FROM r4),
              |x4 AS (SELECT node, raw // d AS score FROM r4 CROSS JOIN d4),
              |mx AS (SELECT max(score) AS mx FROM x4)
              |SELECT node, CAST(score * 1000000 // mx AS BIGINT) AS eig_e6
              |FROM x4 CROSS JOIN mx
              |ORDER BY eig_e6 DESC, node""".stripMargin)
    ),
    Q(
      "graph_reciprocity",
      // Directed reciprocity + density (round-13): the top-k
      // sparsification is inherently DIRECTED before symmetrization —
      // "d is in s's top-3" does not imply the reverse — and the
      // fraction of mutual picks is the standard asymmetry diagnostic
      // (recommender/citation graphs live and die by it; a reciprocity
      // near 1 says the symmetrized graph faithfully represents the
      // picks, near 0 says symmetrization doubled the edge set). Counts
      // are exact; the two ratios divide once into e6 pins. Scale: the
      // mutual-edge check is a self-join on the bounded top-k list
      // (≤ 3 rows/node), the node count one distinct — all O(nodes).
      (s, dir) => {
        // the memoized checkpointed pick list: the O(lines²/order)
        // co-occurrence build is shared with the whole graph family and
        // both sides of the mutual self-join read the materialized frame
        val topk = directedTopk(s, dir)
        val mutual = topk.as("x")
          .join(topk.as("y"),
            col("x.s") === col("y.d") && col("x.d") === col("y.s"))
          .select(col("x.s"), col("x.d"))
        topk.agg(count(lit(1)).as("n_edges"),
            countDistinct(col("s")).as("n_nodes"))
          .crossJoin(broadcast(mutual.agg(count(lit(1)).as("n_mutual"))))
          .select(col("n_edges"), col("n_mutual"), col("n_nodes"),
            expr("CAST(floor(CAST(n_mutual AS DOUBLE) / n_edges * 1000000 + 0.5) AS BIGINT)")
              .as("reciprocity_e6"),
            expr("""CAST(floor(CAST(n_edges AS DOUBLE)
                   / (CAST(n_nodes AS DOUBLE) * (n_nodes - 1))
                   * 1000000 + 0.5) AS BIGINT)""").as("density_e6"))
      },
      Some(s"""$baseSql,
             |m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_mutual
             |  FROM topk x JOIN topk y ON x.s = y.d AND x.d = y.s),
             |f AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
             |         CAST(count(DISTINCT s) AS BIGINT) AS n_nodes
             |  FROM topk)
             |SELECT n_edges, n_mutual, n_nodes,
             |       CAST(floor(CAST(n_mutual AS DOUBLE) / n_edges * 1000000 + 0.5) AS BIGINT) AS reciprocity_e6,
             |       CAST(floor(CAST(n_edges AS DOUBLE) / (CAST(n_nodes AS DOUBLE) * (n_nodes - 1))
             |            * 1000000 + 0.5) AS BIGINT) AS density_e6
             |FROM f CROSS JOIN m""".stripMargin)
    ),
    Q(
      "graph_attribute_mixing",
      // Categorical (nation) assortativity (round-13): does the co-supply
      // graph mix across nations or cluster within them —
      // graph_degree_assortativity answers the structural version, this
      // the ATTRIBUTE version (homophily), the diagnostic that tells a
      // partitioner whether cutting by the attribute would cut few edges.
      // Newman's r = (Σe_ii − Σa_i²)/(1 − Σa_i²) over the symmetric edge
      // set, assembled from exact endpoint/edge counts with e6 pins; the
      // nation map is a broadcast dimension join.
      // Scale: two broadcast joins on the bounded-degree edge list + an
      // O(nations) fold — the mixing matrix never materializes beyond
      // its diagonal and marginals.
      (s, dir) => {
        val nat = Tables(s, dir, "supplier")
          .select(col("s_suppkey").as("node"), col("s_nationkey").as("nat"))
        val e = edgesSym(s, dir)
          .join(broadcast(nat).withColumnRenamed("node", "src")
            .withColumnRenamed("nat", "nsrc"), "src")
          .join(broadcast(nat).withColumnRenamed("node", "dst")
            .withColumnRenamed("nat", "ndst"), "dst")
        val m = e.agg(count(lit(1)).as("m2"),
          sum(when(col("nsrc") === col("ndst"), 1L).otherwise(0L)).as("same"))
        val marg = e.groupBy(col("nsrc"))
          .agg(count(lit(1)).as("deg"))
          .crossJoin(broadcast(m))
          .agg(max(col("m2")).as("m2"), max(col("same")).as("same"),
            sum(col("deg").cast("double") * col("deg") /
              (col("m2").cast("double") * col("m2"))).as("a2"))
        marg.select(col("m2").as("n_directed_edges"), col("same").as("n_same_nation"),
          expr("CAST(floor(CAST(same AS DOUBLE) / m2 * 1000000 + 0.5) AS BIGINT)")
            .as("homophily_e6"),
          expr("""CAST(floor((CAST(same AS DOUBLE) / m2 - a2) / (1.0 - a2)
                 * 1000000 + 0.5) AS BIGINT)""").as("assortativity_e6"))
      },
      Some(s"""$baseSql,
              |nat AS (SELECT s_suppkey AS node, s_nationkey AS nat FROM supplier),
              |en AS (
              |  SELECT a.nat AS nsrc, b.nat AS ndst
              |  FROM e JOIN nat a ON e.src = a.node JOIN nat b ON e.dst = b.node),
              |m AS (
              |  SELECT CAST(count(*) AS BIGINT) AS m2,
              |         CAST(sum(CASE WHEN nsrc = ndst THEN 1 ELSE 0 END) AS BIGINT) AS same
              |  FROM en),
              |marg AS (
              |  SELECT max(m2) AS m2, max(same) AS same,
              |         sum(CAST(deg AS DOUBLE) * deg / (CAST(m2 AS DOUBLE) * m2)) AS a2
              |  FROM (SELECT nsrc, CAST(count(*) AS BIGINT) AS deg
              |        FROM en GROUP BY nsrc) d CROSS JOIN m)
              |SELECT m2 AS n_directed_edges, same AS n_same_nation,
              |       CAST(floor(CAST(same AS DOUBLE) / m2 * 1000000 + 0.5) AS BIGINT) AS homophily_e6,
              |       CAST(floor((CAST(same AS DOUBLE) / m2 - a2) / (1.0 - a2)
              |            * 1000000 + 0.5) AS BIGINT) AS assortativity_e6
              |FROM marg""".stripMargin)
    ),
    Q(
      "graph_bipartite_projection",
      // Bipartite projection (round-14): the supplier–part two-mode
      // graph collapsed onto parts — pairs of parts co-supplied by the
      // same supplier, weighted by how many suppliers share them (the
      // co-purchase/co-citation construction behind recommender and
      // substitute-detection graphs). Projection of a raw bipartite
      // explodes quadratically in the densest mode, so each supplier's
      // part list is TOP-K SPARSIFIED first (top 10 by shipped
      // quantity, deterministic (qty desc, part) tiebreak — the exact
      // pattern graph_topk_similarity pins for the co-occurrence
      // build): pair work is C(10,2) per supplier, never C(catalog, 2).
      // Scale: one map-side (supp, part) rollup, one bounded window,
      // one self-join on the supplier key whose fan-out is ≤ 45 rows
      // per supplier; the pair rollup is map-side combinable.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql("""WITH ps AS (
          |  SELECT l_suppkey AS sk, l_partkey AS pk,
          |         CAST(sum(l_quantity) AS BIGINT) AS q
          |  FROM lineitem GROUP BY 1, 2),
          |topk AS (
          |  SELECT sk, pk FROM (
          |    SELECT sk, pk,
          |           row_number() OVER (PARTITION BY sk ORDER BY q DESC, pk) AS rn
          |    FROM ps)
          |  WHERE rn <= 10),
          |pairs AS (
          |  SELECT a.pk AS part_a, b.pk AS part_b
          |  FROM topk a JOIN topk b ON a.sk = b.sk AND a.pk < b.pk)
          |SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_common_suppliers
          |FROM pairs GROUP BY part_a, part_b
          |ORDER BY n_common_suppliers DESC, part_a, part_b
          |LIMIT 20""".stripMargin)
      },
      Some("""WITH ps AS (
             |  SELECT l_suppkey AS sk, l_partkey AS pk,
             |         CAST(sum(l_quantity) AS BIGINT) AS q
             |  FROM lineitem GROUP BY 1, 2),
             |topk AS (
             |  SELECT sk, pk FROM (
             |    SELECT sk, pk,
             |           row_number() OVER (PARTITION BY sk ORDER BY q DESC, pk) AS rn
             |    FROM ps)
             |  WHERE rn <= 10),
             |pairs AS (
             |  SELECT a.pk AS part_a, b.pk AS part_b
             |  FROM topk a JOIN topk b ON a.sk = b.sk AND a.pk < b.pk)
             |SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_common_suppliers
             |FROM pairs GROUP BY part_a, part_b
             |ORDER BY n_common_suppliers DESC, part_a, part_b
             |LIMIT 20""".stripMargin)
    ),
    Q(
      "graph_katz_index",
      // Truncated Katz link-prediction index (round-14): score every
      // NON-adjacent 2-hop candidate pair by β·A + β²·A² + β³·A³ with
      // β = 0.1 — the walk-counting similarity that generalizes
      // common-neighbors (A² alone, graph_common_neighbors) by also
      // crediting longer connections. Walk counts are exact integers
      // over the bounded-degree sparsified adjacency (A² via one edge
      // self-join, A³ as A·A² — O(n·d³) rows total), Horner-scaled to
      // the e6 pin: candidates are non-adjacent so the β·A term is 0
      // and score_e6 = 10⁴·A² + 10³·A³ exactly. Output: top 20 predicted
      // links, (score desc, pair) deterministic.
      // Scale: every join runs on the d ≤ 6-per-direction adjacency;
      // candidates are grouped map-side; no all-pairs stage exists.
      (s, dir) => {
        // serve off the per-session memoized symmetric adjacency instead
        // of replaying the full co-occurrence build (lineitem self-join +
        // window top-k) inside this query's own plan — the same
        // build-once/serve-many discipline the sim tier stages (guide
        // §2.4: remove shuffles outright; measured 4.3 s of exec was the
        // edge rebuild, not the Katz walk). The temp view is the staged
        // frame; CTE `e` keeps the walk SQL byte-identical to the oracle.
        edgesSym(s, dir).createOrReplaceTempView("graft_graph_e")
        // the sql() call below resolves the view into its OWN analyzed
        // plan eagerly, so the view can be dropped right after this
        // expression builds — no session-global catalog state leaks past
        // the query fn (ADVICE r16)
        try s.sql(s"""WITH e AS (SELECT src, dst FROM graft_graph_e),
          |a2 AS (
          |  SELECT x.src AS u, y.dst AS v, CAST(count(*) AS BIGINT) AS p2
          |  FROM e x JOIN e y ON x.dst = y.src
          |  WHERE x.src <> y.dst
          |  GROUP BY x.src, y.dst),
          |a3 AS (
          |  SELECT x.src AS u, t.v, CAST(sum(t.p2) AS BIGINT) AS p3
          |  FROM e x JOIN a2 t ON x.dst = t.u
          |  WHERE x.src <> t.v
          |  GROUP BY x.src, t.v),
          |cand AS (
          |  SELECT a2.u, a2.v, a2.p2, coalesce(a3.p3, CAST(0 AS BIGINT)) AS p3
          |  FROM a2 LEFT JOIN a3 ON a2.u = a3.u AND a2.v = a3.v
          |  WHERE a2.u < a2.v
          |    AND NOT EXISTS (SELECT 1 FROM e WHERE e.src = a2.u AND e.dst = a2.v))
          |SELECT u AS node_a, v AS node_b, p2 AS paths2, p3 AS paths3,
          |       p2 * 10000 + p3 * 1000 AS katz_e6
          |FROM cand
          |ORDER BY katz_e6 DESC, node_a, node_b
          |LIMIT 20""".stripMargin)
        finally s.catalog.dropTempView("graft_graph_e")
      },
      Some(s"""$baseSql,
              |a2 AS (
              |  SELECT x.src AS u, y.dst AS v, CAST(count(*) AS BIGINT) AS p2
              |  FROM e x JOIN e y ON x.dst = y.src
              |  WHERE x.src <> y.dst
              |  GROUP BY x.src, y.dst),
              |a3 AS (
              |  SELECT x.src AS u, t.v, CAST(sum(t.p2) AS BIGINT) AS p3
              |  FROM e x JOIN a2 t ON x.dst = t.u
              |  WHERE x.src <> t.v
              |  GROUP BY x.src, t.v),
              |cand AS (
              |  SELECT a2.u, a2.v, a2.p2, coalesce(a3.p3, CAST(0 AS BIGINT)) AS p3
              |  FROM a2 LEFT JOIN a3 ON a2.u = a3.u AND a2.v = a3.v
              |  WHERE a2.u < a2.v
              |    AND NOT EXISTS (SELECT 1 FROM e WHERE e.src = a2.u AND e.dst = a2.v))
              |SELECT u AS node_a, v AS node_b, p2 AS paths2, p3 AS paths3,
              |       p2 * 10000 + p3 * 1000 AS katz_e6
              |FROM cand
              |ORDER BY katz_e6 DESC, node_a, node_b
              |LIMIT 20""".stripMargin)
    )
  )
}
