package graft.ops

import graft.{Q, Staged, Tables}
import graft.GraftSession.withWidth
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.13 graph tier: connected components over a near-duplicate candidate
  * graph — the step that turns pairwise dedup candidates into dedup GROUPS
  * (keep one doc per component). This is the standard web-scale dedup
  * closer (MinHash/SimHash emit pairs; components decide keepers).
  *
  * Algorithm: iterative min-label propagation with pointer jumping —
  * each round every node takes the min label over itself and its
  * neighbors (one join + partial-agg groupBy), then labels compress one
  * hop (`comp ← comp(comp)`, a second self-join), giving O(log diameter)
  * rounds instead of O(diameter). All data stays distributed; the driver
  * only reads a single convergence scalar per round (labels decrease
  * monotonically, so an unchanged sum IS the fixpoint). Each round is
  * localCheckpoint'ed to truncate lineage — without it the plan doubles
  * per iteration and the job dies on planning time long before data size
  * matters.
  */
object Graph {

  /** Min-label-propagation connected components.
    * `edges` must be symmetric (both directions present); isolated nodes
    * keep their own id as component.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 50): DataFrame = {
    // self-loops fold the "min with own label" step into the neighbor-min
    // aggregate — one join+groupBy per round instead of join+groupBy+join
    val e = edges
      .unionByName(nodes.select(col("doc_id").as("src"), col("doc_id").as("dst")))
      .localCheckpoint(true) // computed once, reused every round
    var labels = nodes.select(col("doc_id"), col("doc_id").as("comp"))
      .localCheckpoint(true)
    // Every round runs ~5 exchanges over O(nodes + edges) two-long rows,
    // so each partition beyond the state volume is a near-empty task per
    // exchange per round. The loop's width follows the measured state
    // (~32 B/row) through the session's one width rule
    // (GraftSession.width), never the core count. Both inputs are eager
    // checkpoints, so the two counts are block-metadata jobs, and the conf
    // is restored before the (checkpointed) result is returned.
    val sess = nodes.sparkSession
    val nNodes = labels.count()
    val stateBytes = (nNodes + e.count()) * 32L
    // Checkpointed RDDs carry no stats, so without a hint the per-round
    // joins plan as SortMergeJoin, 2 exchanges each. The label table's
    // size is known (nNodes × 2 longs): when it fits a broadcast, both
    // per-round joins are hinted, so each round is one groupBy exchange
    // plus broadcast builds from materialized checkpoint blocks (the
    // step1 subtree under both sides of the pointer-jump join shares one
    // exchange via ReuseExchange). Past the bound the shuffled joins
    // return; the choice reads the size, never the core count.
    val bcastLabels = nNodes * 32L < (64L << 20)
    withWidth(sess, stateBytes) {
      var prevSum: java.math.BigDecimal = null
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        val lbl = labels.select(col("doc_id").as("dst"), col("comp").as("nbr"))
        val step1 = e
          .join(if (bcastLabels) broadcast(lbl) else lbl, "dst")
          .groupBy(col("src").as("doc_id"))
          .agg(min(col("nbr")).as("comp"))
        // pointer jump: comp ← comp(comp) — halves label-chain length.
        // LAZY localCheckpoint: the convergence count below is the
        // materializing action — one job per round instead of two with an
        // eager checkpoint, while still truncating lineage (a persist()-only
        // chain keeps the logical plan, which doubles per round and OOMs the
        // planner; superseded checkpoint blocks are reclaimed by the
        // ContextCleaner).
        val jump = step1.select(col("doc_id").as("c2"), col("comp").as("cc"))
        val step2 = step1
          .join(if (bcastLabels) broadcast(jump) else jump,
            col("comp") === col("c2"), "left")
          .select(col("doc_id"), coalesce(col("cc"), col("comp")).as("comp"))
          .localCheckpoint(false)
        // fixpoint check: labels only ever DECREASE, so an unchanged label
        // sum is exactly the fixpoint (no join against the previous round
        // needed). The sum runs in DECIMAL(38,0) — exact, and immune to the
        // ANSI BIGINT-overflow a 100 TB id space could hit — and an empty
        // node set sums to NULL, which reads as converged instead of the
        // NPE `.getLong` produced. One driver-side scalar per round.
        val s = step2.agg(sum(col("comp").cast("decimal(38,0)"))).head
          .getAs[java.math.BigDecimal](0)
        converged = s == null || s == prevSum
        prevSum = s
        labels = step2
        iter += 1
      }
      // materialize the final lazy checkpoint INSIDE the scoped width, so
      // no caller action replays a loop subtree at the restored session
      // width
      labels.count()
      labels
    }
  }

  /** Near-dup candidate components over `documents`, staged per session:
    * the labeled frame is shared by `dedup_connected_components` and
    * `dedup_cluster_representative` (identical candidate graph), so the
    * iterative propagation runs once per session, not once per query. The
    * cached frame is an eager localCheckpoint — materialized blocks, no
    * lineage back to the loop.
    *
    * Candidate edges: same source, |n_chars| within 1 — a deterministic,
    * SQL-expressible stand-in for LSH candidate pairs that produces real
    * multi-hop chains (n_chars 100–101–102 links transitively). The
    * |Δ| ≤ 1 band join is rewritten as an equi-join by exploding each
    * probe row to its 3 neighbor values — at scale an equi-join shuffle
    * beats a range theta-join by orders of magnitude.
    */
  private def labeledComponents(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Staged(s, "graph.cc", dir) {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val probe = docs.select(col("source"),
        explode(array(col("n_chars") - 1, col("n_chars"), col("n_chars") + 1)).as("nc"),
        col("doc_id").as("src"))
      val build = docs.select(col("source"), col("n_chars").as("nc"),
        col("doc_id").as("dst"))
      val edges = probe.join(build, Seq("source", "nc"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
      connectedComponents(docs, edges).localCheckpoint(true)
    }

  val defs: Seq[Q] = Seq(
    Q(
      "dedup_connected_components",
      // min-label propagation + pointer jumping over near-dup candidate
      // edges, O(log diameter) rounds — pairwise candidates become dedup
      // groups; DuckDB recursive-CTE oracle replays the closure.
      (s, dir) => {
        labeledComponents(s, dir)
          .select(col("doc_id"), col("comp").as("component"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE edges AS (
             |  SELECT a.doc_id AS src, b.doc_id AS dst
             |  FROM documents a JOIN documents b
             |    ON a.source = b.source
             |   AND abs(a.n_chars - b.n_chars) <= 1
             |   AND a.doc_id <> b.doc_id),
             |reach(doc, r) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.doc)
             |SELECT doc AS doc_id, min(r) AS component
             |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "dedup_cluster_representative",
      // The dedup DECISION layer on top of connected components: each
      // near-dup cluster keeps exactly one canonical document (min doc_id —
      // which min-label propagation already made the component id), every
      // other member is marked for drop, and cluster_size supports
      // "suspiciously large cluster" audits. One extra window pass over
      // the labeled output; at 100 TB the keep-set join back to the corpus
      // is a broadcast of the (tiny) drop-list or a semi-join on doc_id.
      (s, dir) => {
        val w = Window.partitionBy(col("comp"))
        labeledComponents(s, dir)
          .withColumn("cluster_size", count(lit(1)).over(w))
          .select(col("doc_id"), col("comp").as("component"),
            col("cluster_size").cast("long").as("cluster_size"),
            (col("doc_id") === col("comp")).as("is_kept"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE edges AS (
             |  SELECT a.doc_id AS src, b.doc_id AS dst
             |  FROM documents a JOIN documents b
             |    ON a.source = b.source
             |   AND abs(a.n_chars - b.n_chars) <= 1
             |   AND a.doc_id <> b.doc_id),
             |reach(doc, r) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.doc),
             |labeled AS (
             |  SELECT doc AS doc_id, min(r) AS component
             |  FROM reach GROUP BY doc)
             |SELECT doc_id, component,
             |       CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size,
             |       (doc_id = component) AS is_kept
             |FROM labeled ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "dedup_cluster_sizes",
      // Cluster-size histogram (round-9): the corpus-health summary every
      // dedup run reports — how many singletons, pairs, big clusters, and
      // how many documents each bucket holds (a sudden mass in large
      // clusters means boilerplate or a crawler loop). Two O(clusters)
      // aggregates over the memoized component labels; the expensive
      // propagation ran once per session (shared with the two rows above).
      (s, dir) => {
        labeledComponents(s, dir)
          .groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
          .groupBy(col("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"),
            (count(lit(1)) * col("cluster_size")).as("n_docs"))
          .orderBy(col("cluster_size"))
      },
      Some("""WITH RECURSIVE edges AS (
             |  SELECT a.doc_id AS src, b.doc_id AS dst
             |  FROM documents a JOIN documents b
             |    ON a.source = b.source
             |   AND abs(a.n_chars - b.n_chars) <= 1
             |   AND a.doc_id <> b.doc_id),
             |reach(doc, r) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.doc),
             |labeled AS (
             |  SELECT doc AS doc_id, min(r) AS component
             |  FROM reach GROUP BY doc),
             |clusters AS (
             |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
             |  FROM labeled GROUP BY component)
             |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
             |       CAST(count(*) * cluster_size AS BIGINT) AS n_docs
             |FROM clusters GROUP BY cluster_size ORDER BY cluster_size""".stripMargin)
    )
  )
}
