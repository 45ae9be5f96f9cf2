package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.13 geospatial tier (round-9): grid-bucketed spatial joins — the
  * blocking pattern that makes "find nearby points" tractable at 100 TB.
  * A naive nearest-neighbor query is an O(n²) cross join; the production
  * shape snaps every point to a coarse grid cell, explodes each probe
  * point into its 3×3 cell neighborhood, equi-joins on the cell id, and
  * only then evaluates the exact haversine distance — shuffle volume
  * O(9·n·density), never O(n²). The same cell id doubles as the layout
  * key for locality-preserving storage (the geo analogue of
  * `sink_zorder_layout`).
  *
  * Coordinates: the fixture ships no lat/lon, so customer coordinates are
  * DERIVED deterministically from the key in integer centi-degrees via a
  * TWO-round mod-prime multiplicative scramble — one multiplier alone
  * puts sequential keys on a rank-1 lattice whose minimum distance
  * exceeds a grid cell (zero adjacent pairs, measured); chaining through
  * a second prime modulus breaks the lattice and yields a clumpy,
  * realistic point set. Both engines compute the identical derivation,
  * so the oracle stays a two-executor comparison.
  *
  * Determinism: cell arithmetic and the top-k tiebreak are pure BIGINT;
  * the haversine itself is evaluated with IDENTICAL formula text in both
  * engines and pinned to whole meters before any ordering, so no float
  * summation-order hazard exists anywhere.
  *
  * Scale caveats (documented, not load-bearing on the fixture): cells are
  * 5°×5° and the neighborhood does not wrap the antimeridian; production
  * would take `(cell_lon + 360) % 360` and wrap the ±1 offsets mod 360.
  */
object Geo {

  /** Shared derivation + grid SQL prefix (identical text both engines):
    * centi-degree coordinates from the customer key, 5-degree grid cell (coarse enough that the fixture point set produces multi-point cells and non-empty neighbor rings at every scale factor).
    */
  private def ptsSqlCell(cellC: Int): String =
    s"""WITH pts AS (
      |  SELECT c_custkey AS id,
      |         CAST((((((c_custkey % 1000003) * 2654435761) % 1000003) * 48271) % 12000) - 6000 AS BIGINT) AS lat_c,
      |         CAST((((((c_custkey % 1000033) * 1099511628211) % 1000033) * 69621) % 36000) - 18000 AS BIGINT) AS lon_c
      |  FROM customer),
      |cells AS (
      |  SELECT id, lat_c, lon_c,
      |         CAST(floor(CAST(lat_c AS DOUBLE) / $cellC) AS BIGINT) AS cla,
      |         CAST(floor(CAST(lon_c AS DOUBLE) / $cellC) AS BIGINT) AS clo
      |  FROM pts)""".stripMargin

  private val ptsSql = ptsSqlCell(500)

  /** PARAMETERIZED DBSCAN core census (round-14, verdict #5): the same
    * core-point count as `geo_dbscan_core`, with eps and the grid cell
    * as parameters. The ring radii derive from both: ±ceil(epsLat/c)
    * lat cells and ±ceil(2·epsLat/c) lon cells (Δλ for eps at the
    * fixture's worst band, cos 60° = ½; the full generalization is
    * ±ceil(epsLat/(c·cos φ))). Two production knobs fall out:
    *  - CELL retuning (same eps, smaller cells) trims the boundary
    *    waste factor but CANNOT change the candidate asymptotics — the
    *    ring must still cover eps, so candidates ≈ n · (eps-disk area ·
    *    density) whatever the cell size. Measured: ×10 density went
    *    4.1× → 3.1× from cell retuning alone.
    *  - EPS retuning (the k-distance-plot rule every DBSCAN deployment
    *    applies as density grows: eps' = eps/√K keeps the expected
    *    neighbor count — the (eps, minPts) density level-set — fixed)
    *    restores LINEAR scaling: per-point candidates stay O(1), so
    *    ×K density costs ×K work (SCALE.md records both measurements).
    *    Census output is grid-invariant for any cell at fixed eps
    *    (Round14Spec pins registry == cell 450 == cell 158).
    */
  private[graft] def dbscanCoreParam(s: org.apache.spark.sql.SparkSession,
      dir: String, epsM: Long, cellC: Int): org.apache.spark.sql.DataFrame = {
    graft.Catalog.registerAll(s, dir)
    val epsLatC = epsM / 1111.9 // eps in centidegrees of latitude
    val latR = math.ceil(epsLatC / cellC).toInt
    val lonR = math.ceil(2.0 * epsLatC / cellC).toInt
    s.sql(ptsSqlCell(cellC) + s"""
      |, latoffs AS (SELECT CAST(id AS BIGINT) AS o FROM range(${-latR}, ${latR + 1})),
      |lonoffs AS (SELECT CAST(id AS BIGINT) AS o FROM range(${-lonR}, ${lonR + 1})),
      |probes AS (
      |  SELECT id AS qid, lat_c AS qla, lon_c AS qlo,
      |         cla + ola.o AS jla, clo + olo.o AS jlo
      |  FROM cells CROSS JOIN latoffs ola CROSS JOIN lonoffs olo),
      |neigh AS (
      |  SELECT qid, CAST(count(*) AS BIGINT) AS nn
      |  FROM probes p JOIN cells b ON p.jla = b.cla AND p.jlo = b.clo
      |  WHERE p.qid <> b.id
      |    AND ${hav("p.qla", "p.qlo", "b.lat_c", "b.lon_c")} <= $epsM
      |  GROUP BY qid),
      |cls AS (
      |  SELECT c.id, coalesce(n.nn, CAST(0 AS BIGINT)) AS nn
      |  FROM cells c LEFT JOIN neigh n ON c.id = n.qid)
      |SELECT nn >= 3 AS is_core,
      |       CAST(count(*) AS BIGINT) AS n_points,
      |       CAST(sum(nn) AS BIGINT) AS sum_neighbors,
      |       CAST(sum(nn) * 100 AS BIGINT) / count(*) AS avg_neighbors_e2
      |FROM cls GROUP BY nn >= 3 ORDER BY is_core""".stripMargin)
  }

  /** Haversine (meters, floored to BIGINT) between centi-degree pairs —
    * one formula string substituted into BOTH engines' SQL.
    */
  private def hav(la1: String, lo1: String, la2: String, lo2: String): String =
    s"""CAST(floor(12742000 * asin(sqrt(
       |  pow(sin(radians((CAST($la2 AS DOUBLE) - CAST($la1 AS DOUBLE)) / 100) / 2), 2)
       |  + cos(radians(CAST($la1 AS DOUBLE) / 100))
       |    * cos(radians(CAST($la2 AS DOUBLE) / 100))
       |    * pow(sin(radians((CAST($lo2 AS DOUBLE) - CAST($lo1 AS DOUBLE)) / 100) / 2), 2)
       |)) + 0.5) AS BIGINT)""".stripMargin

  val defs: Seq[Q] = Seq(
    Q(
      "geo_grid_knn_join",
      // Grid-blocked k-nearest-neighbor self-join: per probe point, the 3
      // nearest other points within its 3×3 five-degree neighborhood
      // (≈ ≤780 km) by exact haversine. The probe side fans out 9× (two
      // explode'd offset arrays), the build side stays unexpanded, and
      // the pair set is bounded by cell occupancy — the spatial-join
      // shape that survives 100 TB. Top-k per probe is one window pass
      // with a (meters, id) total-order tiebreak.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        val cells = s.sql(ptsSql + " SELECT * FROM cells")
        val probe = cells
          .withColumn("dla", explode(array(lit(-1L), lit(0L), lit(1L))))
          .withColumn("dlo", explode(array(lit(-1L), lit(0L), lit(1L))))
          .select(col("id").as("id_a"), col("lat_c").as("la_a"),
            col("lon_c").as("lo_a"),
            (col("cla") + col("dla")).as("jla"),
            (col("clo") + col("dlo")).as("jlo"))
        val build = cells.select(col("id").as("id_b"),
          col("lat_c").as("la_b"), col("lon_c").as("lo_b"),
          col("cla").as("jla"), col("clo").as("jlo"))
        probe.join(build, Seq("jla", "jlo"))
          .filter(col("id_a") =!= col("id_b"))
          .withColumn("dist_m", expr(hav("la_a", "lo_a", "la_b", "lo_b")))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("id_a"))
              .orderBy(col("dist_m"), col("id_b"))))
          .filter(col("rn") <= 3)
          .select(col("id_a"), col("rn").cast("long").as("rn"),
            col("id_b"), col("dist_m"))
          .orderBy(col("id_a"), col("rn"))
      },
      Some(s"""$ptsSql,
              |offsets AS (SELECT CAST(-1 AS BIGINT) AS o UNION ALL SELECT 0 UNION ALL SELECT 1),
              |probe AS (
              |  SELECT id AS id_a, lat_c AS la_a, lon_c AS lo_a,
              |         cla + ola.o AS jla, clo + olo.o AS jlo
              |  FROM cells CROSS JOIN offsets ola CROSS JOIN offsets olo),
              |pairs AS (
              |  SELECT p.id_a, p.la_a, p.lo_a, b.id AS id_b, b.lat_c AS la_b,
              |         b.lon_c AS lo_b
              |  FROM probe p JOIN cells b ON p.jla = b.cla AND p.jlo = b.clo
              |  WHERE p.id_a <> b.id),
              |scored AS (
              |  SELECT id_a, id_b,
              |         ${hav("la_a", "lo_a", "la_b", "lo_b")} AS dist_m
              |  FROM pairs),
              |ranked AS (
              |  SELECT id_a, id_b, dist_m,
              |         CAST(row_number() OVER (PARTITION BY id_a
              |              ORDER BY dist_m, id_b) AS BIGINT) AS rn
              |  FROM scored)
              |SELECT id_a, rn, id_b, dist_m FROM ranked WHERE rn <= 3
              |ORDER BY id_a, rn""".stripMargin)
    ),
    Q(
      "geo_cell_density",
      // Cell-occupancy census over the same grid: points per occupied
      // cell plus the density histogram OLAP layer (how many cells hold
      // 1, 2, 3… points). This is both the hotspot census (where do
      // customers cluster) and the skew diagnostic for the KNN join
      // above — a cell with 10⁶ points is exactly the key you'd salt.
      // Two map-side-combined aggregates; output O(distinct densities).
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(ptsSql + """
          |, occ AS (SELECT cla, clo, CAST(count(*) AS BIGINT) AS n_pts
          |          FROM cells GROUP BY cla, clo)
          |SELECT n_pts, CAST(count(*) AS BIGINT) AS n_cells
          |FROM occ GROUP BY n_pts ORDER BY n_pts""".stripMargin)
      },
      Some(ptsSql + """
        |, occ AS (SELECT cla, clo, CAST(count(*) AS BIGINT) AS n_pts
        |          FROM cells GROUP BY cla, clo)
        |SELECT n_pts, CAST(count(*) AS BIGINT) AS n_cells
        |FROM occ GROUP BY n_pts ORDER BY n_pts""".stripMargin)
    ),
    Q(
      "geo_point_in_polygon",
      // Point-in-polygon containment (round-10): ray casting against a
      // fixed 5-vertex polygon — per point, count edges a horizontal ray
      // crosses; odd = inside. The polygon is a VALUES-inlined edge table
      // (5 rows → LocalRelation broadcast), so the "join" is a map-side
      // nested loop over 5 edges per point: O(points·edges) work, zero
      // shuffle before the per-cell rollup. Vertices sit on half-centi-
      // degree offsets so no fixture point ever lies on an edge, and the
      // crossing test is ONE formula text evaluated by both engines with
      // all operands pre-cast to DOUBLE (SQL decimal literals would
      // otherwise make Spark do decimal arithmetic where DuckDB does
      // float). Output: per lat-band inside/total census.
      // Scale: the polygon side is constant-size; production polygon SETS
      // block by bounding-box grid cell first (the geo_grid_knn_join
      // pattern) so each point still tests O(local edges), never the
      // whole polygon table.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(ptsSql + pipSql)
      },
      Some(ptsSql + pipSql)
    ),
    Q(
      "geo_dbscan_core",
      // Grid-blocked DBSCAN core-point census (round-13): the density-
      // clustering primitive — a point is CORE when ≥ 3 other points sit
      // within eps = 500 km — computed with the grid-cell equi-join of
      // geo_grid_knn_join (never all-pairs). The ring is LATITUDE-AWARE
      // (ADVICE r13): a 5° lon cell is 556·cos(lat) km of ground, so
      // above ~26° latitude a ≤500 km neighbor can sit TWO lon-cells
      // away; probes in those bands fan to a 3×5 ring (lon offsets ±2 —
      // sufficient through the fixture's ±60° span, where Δλ for 500 km
      // tops out at 9.0° < 2 cells), equatorial bands keep the cheap
      // 3×3. Latitude never needs more than ±1 cell (500 km ≈ 4.5° of
      // lat < one 5° cell). Output is the core/non-core
      // census plus the mean neighbor count in e2 — the (eps, minPts)
      // tuning readout a clustering run inspects before committing to a
      // label propagation over core-core edges (dedup_connected_
      // components supplies that next step).
      // Scale: shuffle O(9..15·n·density) on cell ids; haversine
      // evaluated only inside cells; the census folds map-side to 2
      // rows. Beyond ±63.3° (where cos(lat) < 500/556/2) the reach
      // formula generalizes to ±ceil(500/(556·cos)) cells; the fixture
      // never exceeds ±60°, and production polar data would switch to
      // a cap cell at |lat| ≥ 85° (the standard S2-style escape).
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(ptsSql + dbscanSql)
      },
      Some(ptsSql + dbscanSql)
    ),
    Q(
      "geo_bbox_cover_join",
      // Polygon-set containment via BBOX CELL COVER (round-14, verdict
      // "missing #5"): the two-stage spatial join production polygon
      // layers run — rasterize each polygon's bounding box onto the
      // same 5° grid the point set is bucketed by (two exploded index
      // ranges per polygon — O(polygon area), zero data touched),
      // equi-join points by cell to get CANDIDATES, then exact
      // ray-cast refine only on candidates. Compared to
      // geo_point_in_polygon (every point × every edge), this is the
      // shape that survives a 100 TB point layer: the cover join prunes
      // the planet down to the polygons' bboxes BEFORE any edge math,
      // and the output pins the pruning ratio (cand_share_e6) so the
      // plan's benefit is measured, not asserted. Two polygons: the
      // original 5-gon and a disjoint rectangle — per-polygon census.
      // Scale: cover is O(Σ polygon bbox cells) broadcastable; the
      // candidate join shuffles points once on the cell id; the refine
      // is O(candidates · edges-of-own-polygon).
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(ptsSql + coverSql(duck = false))
      },
      Some(ptsSql + coverSql(duck = true))
    ),
    Q(
      "geo_polygon_cell_join",
      // POLYGON cell-cover join (r14 verdict #7 — bbox-cover
      // generalized): rasterize the polygon ITSELF, not just its bbox —
      // a bbox cell stays in the cover only if its center ray-casts
      // inside the polygon (interior cell) or some polygon edge's
      // bounding box overlaps the cell rect (boundary cell, a
      // conservative O(edges·cells) metadata test). Candidates equi-join
      // points by cell on the TIGHTENED cover; the exact residual
      // ray-cast refine then decides containment, so the answer is
      // IDENTICAL to geo_bbox_cover_join's (Round15Spec pins n_inside
      // equality and candidate-count ≤) while the pentagon's dead bbox
      // corners never shuffle a point. The output pins both covers'
      // cell counts and the candidate share, so the tightening is
      // measured, not asserted. Scale: cover construction stays
      // O(Σ bbox cells · edges) driver-free metadata; the candidate
      // shuffle shrinks by the cover ratio — on real polygon layers
      // (coastlines, parcels) that's the difference between shuffling a
      // continent's bbox and its actual landmass.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(ptsSql + polygonCellSql(duck = false))
      },
      Some(ptsSql + polygonCellSql(duck = true))
    ),
    Q(
      "geo_polygon_polygon_join",
      // Polygon × polygon intersection join (r14 "What's missing #4",
      // second half): two polygon SETS joined by shared bbox-cover
      // cells — candidate pairs are (pid, qid) sharing ≥1 grid cell —
      // then the exact pair test only on candidates: proper
      // edge-pair crossing (orientation-sign test, exact in double at
      // these integer-scaled half-offset coordinates) OR vertex
      // containment either way (ray cast), which together decide
      // polygon overlap for simple polygons. Set B stages a triangle
      // punched into the pentagon, a rectangle half-overlapping polygon
      // 2, a square strictly INSIDE the pentagon (zero edge crossings —
      // the containment branch must catch it), and a far disjoint
      // square that shares no cover cell and must never reach the
      // refine. Scale: each polygon's cover is O(bbox cells) metadata;
      // the cell equi-join prunes the |A|·|B| pair space to co-located
      // pairs BEFORE any O(edges_A·edges_B) math — the spatial-join
      // shape a parcels×zones workload runs at planet scale.
      (s, dir) => {
        graft.Catalog.registerAll(s, dir)
        s.sql(polyPairSql(duck = false))
      },
      Some(polyPairSql(duck = true))
    ))

  /** Shared SQL for [[geo_polygon_polygon_join]] — self-contained (does
    * not need the point-table prefix): set A = the standard two test
    * polygons, set B = four staged probes; bbox covers on the 500-unit
    * grid; candidate pairs by shared cell; exact refine = proper edge
    * crossings + mutual vertex containment.
    */
  private def polyPairSql(duck: Boolean): String =
    s"""WITH $polyEdgesSql,
      |bedges AS (
      |  SELECT qid, CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
      |         CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
      |  FROM (VALUES
      |    (10, -4000.25,  -500.25,  1000.25,  3000.25),
      |    (10,  1000.25,  3000.25, -1500.25, -3500.25),
      |    (10, -1500.25, -3500.25, -4000.25,  -500.25),
      |    (11, 15000.25, -2000.25, 20000.25, -2000.25),
      |    (11, 20000.25, -2000.25, 20000.25,   500.25),
      |    (11, 20000.25,   500.25, 15000.25,   500.25),
      |    (11, 15000.25,   500.25, 15000.25, -2000.25),
      |    (12,  1000.25, -1000.25,  3000.25, -1000.25),
      |    (12,  3000.25, -1000.25,  3000.25,  1000.25),
      |    (12,  3000.25,  1000.25,  1000.25,  1000.25),
      |    (12,  1000.25,  1000.25,  1000.25, -1000.25),
      |    (13, 30000.25, 30000.25, 32000.25, 30000.25),
      |    (13, 32000.25, 30000.25, 32000.25, 32000.25),
      |    (13, 32000.25, 32000.25, 30000.25, 32000.25),
      |    (13, 30000.25, 32000.25, 30000.25, 30000.25))
      |  AS v(qid, x1, y1, x2, y2)),
      |bbbox AS (
      |  SELECT qid,
      |         CAST(floor(least(min(x1), min(x2)) / 500) AS BIGINT) AS cx0,
      |         CAST(floor(greatest(max(x1), max(x2)) / 500) AS BIGINT) AS cx1,
      |         CAST(floor(least(min(y1), min(y2)) / 500) AS BIGINT) AS cy0,
      |         CAST(floor(greatest(max(y1), max(y2)) / 500) AS BIGINT) AS cy1
      |  FROM bedges GROUP BY qid),
      |${bboxExplodeCte(duck, "acover")},
      |${bboxExplodeCte(duck, "bcover", "bbbox", "qid")},
      |cand AS (
      |  SELECT DISTINCT a.pid, b.qid
      |  FROM acover a JOIN bcover b ON a.cla = b.cla AND a.clo = b.clo),
      |xings AS (
      |  SELECT c.pid, c.qid, CAST(count(*) AS BIGINT) AS n_edge_crossings
      |  FROM cand c
      |  JOIN edges ea ON ea.pid = c.pid
      |  JOIN bedges eb ON eb.qid = c.qid
      |  WHERE ((ea.x2 - ea.x1) * (eb.y1 - ea.y1) - (ea.y2 - ea.y1) * (eb.x1 - ea.x1))
      |      * ((ea.x2 - ea.x1) * (eb.y2 - ea.y1) - (ea.y2 - ea.y1) * (eb.x2 - ea.x1)) < 0
      |    AND ((eb.x2 - eb.x1) * (ea.y1 - eb.y1) - (eb.y2 - eb.y1) * (ea.x1 - eb.x1))
      |      * ((eb.x2 - eb.x1) * (ea.y2 - eb.y1) - (eb.y2 - eb.y1) * (ea.x2 - eb.x1)) < 0
      |  GROUP BY c.pid, c.qid),
      |bverts AS (SELECT qid, x1 AS vx, y1 AS vy FROM bedges),
      |averts AS (SELECT pid, x1 AS vx, y1 AS vy FROM edges),
      |b_in_a AS (
      |  SELECT t.pid, t.qid, CAST(count(*) AS BIGINT) AS n_b_vertices_inside
      |  FROM (
      |    SELECT c.pid, c.qid, v.vx, v.vy,
      |           sum(CASE WHEN (e.y1 > v.vy) <> (e.y2 > v.vy)
      |                     AND v.vx < (e.x2 - e.x1) * (v.vy - e.y1)
      |                               / (e.y2 - e.y1) + e.x1
      |                    THEN 1 ELSE 0 END) AS crossings
      |    FROM cand c JOIN bverts v ON v.qid = c.qid
      |    JOIN edges e ON e.pid = c.pid
      |    GROUP BY c.pid, c.qid, v.vx, v.vy) t
      |  WHERE crossings % 2 = 1 GROUP BY t.pid, t.qid),
      |a_in_b AS (
      |  SELECT t.pid, t.qid, CAST(count(*) AS BIGINT) AS n_a_vertices_inside
      |  FROM (
      |    SELECT c.pid, c.qid, v.vx, v.vy,
      |           sum(CASE WHEN (e.y1 > v.vy) <> (e.y2 > v.vy)
      |                     AND v.vx < (e.x2 - e.x1) * (v.vy - e.y1)
      |                               / (e.y2 - e.y1) + e.x1
      |                    THEN 1 ELSE 0 END) AS crossings
      |    FROM cand c JOIN averts v ON v.pid = c.pid
      |    JOIN bedges e ON e.qid = c.qid
      |    GROUP BY c.pid, c.qid, v.vx, v.vy) t
      |  WHERE crossings % 2 = 1 GROUP BY t.pid, t.qid)
      |SELECT CAST(c.pid AS BIGINT) AS pid, CAST(c.qid AS BIGINT) AS qid,
      |       CAST(coalesce(x.n_edge_crossings, 0) AS BIGINT) AS n_edge_crossings,
      |       CAST(coalesce(bi.n_b_vertices_inside, 0) AS BIGINT) AS n_b_vertices_inside,
      |       CAST(coalesce(ai.n_a_vertices_inside, 0) AS BIGINT) AS n_a_vertices_inside,
      |       (coalesce(x.n_edge_crossings, 0) > 0
      |        OR coalesce(bi.n_b_vertices_inside, 0) > 0
      |        OR coalesce(ai.n_a_vertices_inside, 0) > 0) AS intersects
      |FROM cand c
      |LEFT JOIN xings x ON x.pid = c.pid AND x.qid = c.qid
      |LEFT JOIN b_in_a bi ON bi.pid = c.pid AND bi.qid = c.qid
      |LEFT JOIN a_in_b ai ON ai.pid = c.pid AND ai.qid = c.qid
      |ORDER BY pid, qid""".stripMargin

  /** The two-polygon edge VALUES relation + per-pid bbox CTEs shared by
    * [[geo_bbox_cover_join]] and [[geo_polygon_cell_join]] (no leading
    * comma).
    */
  private lazy val polyEdgesSql: String =
    """edges AS (
      |  SELECT pid, CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
      |         CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
      |  FROM (VALUES
      |    (1, -9000.5, -3000.5, -2000.5,  5500.5),
      |    (1, -2000.5,  5500.5,  6000.5,  4000.5),
      |    (1,  6000.5,  4000.5,  9000.5, -2500.5),
      |    (1,  9000.5, -2500.5,     0.5, -5500.5),
      |    (1,     0.5, -5500.5, -9000.5, -3000.5),
      |    (2, 10000.5, -5500.5, 17000.5, -5500.5),
      |    (2, 17000.5, -5500.5, 17000.5,  1500.5),
      |    (2, 17000.5,  1500.5, 10000.5,  1500.5),
      |    (2, 10000.5,  1500.5, 10000.5, -5500.5))
      |  AS v(pid, x1, y1, x2, y2)),
      |bbox AS (
      |  SELECT pid,
      |         CAST(floor(least(min(x1), min(x2)) / 500) AS BIGINT) AS cx0,
      |         CAST(floor(greatest(max(x1), max(x2)) / 500) AS BIGINT) AS cx1,
      |         CAST(floor(least(min(y1), min(y2)) / 500) AS BIGINT) AS cy0,
      |         CAST(floor(greatest(max(y1), max(y2)) / 500) AS BIGINT) AS cy1
      |  FROM edges GROUP BY pid)""".stripMargin

  /** The bbox→cell explode CTE named `name` over bbox table `src` whose
    * id column is `idCol` (engine-specific lateral syntax), no trailing
    * comma.
    */
  private def bboxExplodeCte(duck: Boolean, name: String,
      src: String = "bbox", idCol: String = "pid"): String =
    if (duck)
      s"""$name AS (
         |  SELECT $idCol, yy.cla, xx.clo
         |  FROM $src
         |  CROSS JOIN LATERAL (SELECT unnest(range(cy0, cy1 + 1)) AS cla) yy
         |  CROSS JOIN LATERAL (SELECT unnest(range(cx0, cx1 + 1)) AS clo) xx)""".stripMargin
    else
      s"""$name AS (
         |  SELECT $idCol, cla, clo
         |  FROM $src
         |  LATERAL VIEW explode(sequence(cy0, cy1)) yy AS cla
         |  LATERAL VIEW explode(sequence(cx0, cx1)) xx AS clo)""".stripMargin

  /** The exact ray-cast refine + census over a candidate cover CTE named
    * `cover`, shared tail of both polygon-join rows. `extraCols` appends
    * cover-size diagnostics to the output row.
    */
  private def coverRefineSql(div: String, extraCols: String): String =
    s"""cand AS (
      |  SELECT c.pid, p.id, p.lat_c, p.lon_c
      |  FROM cover c JOIN cells p ON p.cla = c.cla AND p.clo = c.clo),
      |hits AS (
      |  SELECT c.pid, c.id,
      |         sum(CASE WHEN (e.y1 > CAST(c.lat_c AS DOUBLE))
      |                       <> (e.y2 > CAST(c.lat_c AS DOUBLE))
      |                   AND CAST(c.lon_c AS DOUBLE) <
      |                       (e.x2 - e.x1)
      |                       * (CAST(c.lat_c AS DOUBLE) - e.y1)
      |                       / (e.y2 - e.y1) + e.x1
      |              THEN 1 ELSE 0 END) AS crossings
      |  FROM cand c JOIN edges e ON e.pid = c.pid
      |  GROUP BY c.pid, c.id),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM cells)
      |SELECT CAST(hits.pid AS BIGINT) AS pid,
      |       CAST(count(*) AS BIGINT) AS n_candidates,
      |       CAST(sum(CASE WHEN crossings % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_inside,
      |       CAST(count(*) AS BIGINT) * 1000000 $div n_all AS cand_share_e6$extraCols
      |FROM hits CROSS JOIN tot
      |GROUP BY hits.pid, n_all ORDER BY pid""".stripMargin

  /** Shared polygon table + bbox-cover SQL for [[geo_bbox_cover_join]]:
    * two polygons as an edge VALUES relation (pid keyed), their bounding
    * boxes from vertex extremes, the 5°-cell cover of each bbox via two
    * exploded index ranges, and the exact ray-cast refine per candidate.
    */
  private def coverSql(duck: Boolean): String = {
    val div = if (duck) "//" else "DIV"
    s"""
      |, $polyEdgesSql,
      |${bboxExplodeCte(duck, "cover")},
      |${coverRefineSql(div, "")}""".stripMargin
  }

  /** Shared SQL for [[geo_polygon_cell_join]]: the bbox cover tightened
    * to cells whose CENTER is inside the polygon (interior) or that some
    * edge's bounding box overlaps (boundary), then the same refine.
    */
  private def polygonCellSql(duck: Boolean): String = {
    val div = if (duck) "//" else "DIV"
    s"""
      |, $polyEdgesSql,
      |${bboxExplodeCte(duck, "rawc")},
      |interior AS (
      |  SELECT pid, cla, clo FROM (
      |    SELECT r.pid, r.cla, r.clo,
      |           sum(CASE WHEN (e.y1 > r.cla * 500 + 250.0)
      |                         <> (e.y2 > r.cla * 500 + 250.0)
      |                     AND r.clo * 500 + 250.0 <
      |                         (e.x2 - e.x1)
      |                         * (r.cla * 500 + 250.0 - e.y1)
      |                         / (e.y2 - e.y1) + e.x1
      |                THEN 1 ELSE 0 END) AS crossings
      |    FROM rawc r JOIN edges e ON e.pid = r.pid
      |    GROUP BY r.pid, r.cla, r.clo) t
      |  WHERE crossings % 2 = 1),
      |boundary AS (
      |  SELECT DISTINCT r.pid, r.cla, r.clo
      |  FROM rawc r JOIN edges e ON e.pid = r.pid
      |  WHERE least(e.x1, e.x2) < (r.clo + 1) * 500
      |    AND greatest(e.x1, e.x2) >= r.clo * 500
      |    AND least(e.y1, e.y2) < (r.cla + 1) * 500
      |    AND greatest(e.y1, e.y2) >= r.cla * 500),
      |cover AS (
      |  SELECT pid, cla, clo FROM interior
      |  UNION
      |  SELECT pid, cla, clo FROM boundary),
      |csz AS (
      |  SELECT c.pid, CAST(count(*) AS BIGINT) AS n_cover_cells,
      |         CAST(max(b.n_bbox) AS BIGINT) AS n_bbox_cells
      |  FROM cover c JOIN (SELECT pid, CAST(count(*) AS BIGINT) AS n_bbox
      |                     FROM rawc GROUP BY pid) b ON b.pid = c.pid
      |  GROUP BY c.pid),
      |${coverRefineSql(div,
         ",\n      |       max(csz.n_cover_cells) AS n_cover_cells," +
         "\n      |       max(csz.n_bbox_cells) AS n_bbox_cells")
        .replace("FROM hits CROSS JOIN tot",
          "FROM hits CROSS JOIN tot JOIN csz ON csz.pid = hits.pid")}""".stripMargin
  }

  /** Shared DBSCAN-core SQL suffix for [[geo_dbscan_core]]. The lon ring
    * widens to ±2 cells only for probe cells whose latitude band (its own
    * extremes plus one 5° neighbor band = the partner's reach) can exceed
    * 25.9° — the threshold where sqrt(cos·cos)·sin(2.5°) drops below
    * sin(500 km / R_earth) and a >5° Δλ pair can still be ≤ eps; ±2
    * suffices through ±60° (max Δλ for 500 km there is 9.0° < 10°).
    */
  private lazy val dbscanSql: String =
    s"""
       |, offsets AS (SELECT CAST(-1 AS BIGINT) AS o UNION ALL SELECT 0 UNION ALL SELECT 1),
       |lonoffs AS (SELECT CAST(-2 AS BIGINT) AS o UNION ALL SELECT -1 UNION ALL SELECT 0
       |            UNION ALL SELECT 1 UNION ALL SELECT 2),
       |probes AS (
       |  SELECT id AS qid, lat_c AS qla, lon_c AS qlo,
       |         cla + ola.o AS jla, clo + olo.o AS jlo
       |  FROM cells CROSS JOIN offsets ola CROSS JOIN lonoffs olo
       |  WHERE abs(olo.o) <= 1
       |     OR greatest(abs(cla * 500), abs(cla * 500 + 500)) + 500 > 2590),
       |neigh AS (
       |  SELECT qid, CAST(count(*) AS BIGINT) AS nn
       |  FROM probes p JOIN cells b ON p.jla = b.cla AND p.jlo = b.clo
       |  WHERE p.qid <> b.id
       |    AND ${hav("p.qla", "p.qlo", "b.lat_c", "b.lon_c")} <= 500000
       |  GROUP BY qid),
       |cls AS (
       |  SELECT c.id, coalesce(n.nn, CAST(0 AS BIGINT)) AS nn
       |  FROM cells c LEFT JOIN neigh n ON c.id = n.qid)
       |SELECT nn >= 3 AS is_core,
       |       CAST(count(*) AS BIGINT) AS n_points,
       |       CAST(sum(nn) AS BIGINT) AS sum_neighbors,
       |       CAST(sum(nn) * 100 AS BIGINT) / count(*) AS avg_neighbors_e2
       |FROM cls GROUP BY nn >= 3 ORDER BY is_core""".stripMargin

  /** Shared ray-casting SQL suffix for [[geo_point_in_polygon]]. */
  private lazy val pipSql: String =
    """
      |, edges AS (
      |  SELECT CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
      |         CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
      |  FROM (VALUES (-9000.5, -3000.5, -2000.5,  5500.5),
      |               (-2000.5,  5500.5,  6000.5,  4000.5),
      |               ( 6000.5,  4000.5,  9000.5, -2500.5),
      |               ( 9000.5, -2500.5,     0.5, -5500.5),
      |               (    0.5, -5500.5, -9000.5, -3000.5))
      |       AS v(x1, y1, x2, y2)),
      |hits AS (
      |  SELECT c.id, c.cla,
      |         sum(CASE WHEN (e.y1 > CAST(c.lat_c AS DOUBLE))
      |                       <> (e.y2 > CAST(c.lat_c AS DOUBLE))
      |                   AND CAST(c.lon_c AS DOUBLE) <
      |                       (e.x2 - e.x1)
      |                       * (CAST(c.lat_c AS DOUBLE) - e.y1)
      |                       / (e.y2 - e.y1) + e.x1
      |              THEN 1 ELSE 0 END) AS crossings
      |  FROM cells c CROSS JOIN edges e
      |  GROUP BY c.id, c.cla)
      |SELECT cla,
      |       CAST(sum(CASE WHEN crossings % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_inside,
      |       CAST(count(*) AS BIGINT) AS n_points
      |FROM hits GROUP BY cla ORDER BY cla""".stripMargin
}
