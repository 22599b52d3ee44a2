package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{QueryDef, Tables}

/** Spatial operators over a uniform grid — the 2-D generalization of the
  * 1-D binned range join (`plans.BinnedRangeJoin`): geospatial
  * point-in-box joins (geofencing, tile statistics, viewport queries)
  * are interval joins in TWO dimensions, so the same binning argument
  * applies per axis and their product indexes the plane.
  *
  * Reference scope: the reference has no spatial support at all — this
  * is extension-tier [X], the "composition of existing ops" preference
  * (SURVEY §4): cell assignment is a projection, box coverage is two
  * `sequence` explodes, and the join is a plain shuffled equi-join on
  * the cell key. No custom operator needed — which is the point.
  */
object SpatialOps {

  /** q224's grid geometry: a 1000×1000 integer plane in 50-unit cells
    * (box edges ≤ 50, so a box covers at most 2×2 = 4 cells). */
  val GridMax = 1000L
  val CellW = 50L

  /** The grid-join core, shared by q224 and the hot-cell skew spec so
    * the skew story is proven through the SAME code path the query
    * runs: points carrying (px, py) get their single cell, boxes
    * carrying (x0, y0, x1, y1) explode to the cells their rectangle
    * touches, and the shuffled equi-join on the cell pair keeps the
    * exact bounds as residual. Hot cells (urban cores) are ordinary
    * key skew on (cx, cy) — AQE's skew-join splits the oversized
    * partition at runtime with no code change here
    * (SpatialOpsSpec "hot cell" case plants a cell holding ~30% of
    * all points and asserts `skew=true` on the executed join). */
  def gridJoinPairs(pts: DataFrame, boxes: DataFrame): DataFrame = {
    val p = pts
      .withColumn("cx", expr(s"px DIV $CellW"))
      .withColumn("cy", expr(s"py DIV $CellW"))
    val cells = boxes
      .withColumn("cx", explode(expr(s"sequence(x0 DIV $CellW, x1 DIV $CellW)")))
      .withColumn("cy", explode(expr(s"sequence(y0 DIV $CellW, y1 DIV $CellW)")))
    p.join(cells, Seq("cx", "cy"))
      .filter(col("px").between(col("x0"), col("x1")) &&
        col("py").between(col("y0"), col("y1")))
  }

  /** q224: point-in-box spatial grid join — points (from events) land
    * in exactly ONE cell (`(x div C, y div C)`); boxes (from orders)
    * explode to every cell their rectangle touches (`sequence` per
    * axis); the join is a SHUFFLED EQUI-JOIN on the cell pair with the
    * exact bounds as residual. Each qualifying (point, box) pair meets
    * in exactly one cell — the point's — so no dedup; cost is
    * O(|P| + |B|·cells/box + matches) where the naive 2-D theta join
    * (which DuckDB runs as the oracle) is O(|P|·|B|). Per-box hit
    * counts + bounding stats out.
    *
    * Scale: the cell key distributes the plane across the cluster;
    * hot cells (urban cores) are ordinary key skew — AQE skew-join or
    * q84's salting applies unchanged, and this is proven LIVE, not
    * asserted: SpatialOpsSpec's "hot cell" case drives a fixture with
    * one cell holding ~30% of all points through [[gridJoinPairs]]
    * (this query's exact code path) and asserts the executed join ran
    * with `skew=true` — AQE split the oversized partition — while
    * still equalling the brute-force answer. Cell width is the q222
    * knob: ~one box edge, so boxes explode to ≲4 cells. */
  val q224GridJoin = QueryDef(
    "q224_grid_join",
    (s, d) => {
      def md5i(c: Column): Column =
        conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)
      // spread (r13): the per-point md5 coordinate derivation ran as ONE
      // task on the single-row-group events scan; the cell join's
      // exchange exists either way, so the round-robin of the bare
      // event_id column only buys the hash parallelism (guide §8)
      val pts = Tables.spread(Tables.events(s, d).select(col("event_id")))
        .select(col("event_id"), md5i(concat(lit("gp#"), col("event_id").cast("string"))).as("h"))
        .select(col("event_id"),
          pmod(col("h"), lit(GridMax)).as("px"),
          pmod(expr("h DIV 1000"), lit(GridMax)).as("py"))
      val boxes = Tables.orders(s, d)
        .filter(col("o_orderkey") % 20 === 0)
        .select(col("o_orderkey").cast(LongType).as("bid"),
          md5i(concat(lit("gb#"), col("o_orderkey").cast("string"))).as("h"))
        .select(col("bid"),
          pmod(col("h"), lit(GridMax)).as("x0"),
          pmod(expr("h DIV 1000"), lit(GridMax)).as("y0"),
          expr("1L + (h DIV 1000000) % 50").as("w"),
          expr("1L + (h DIV 100000000) % 50").as("hh"))
        .select(col("bid"), col("x0"), col("y0"),
          least(col("x0") + col("w"), lit(GridMax - 1)).as("x1"),
          least(col("y0") + col("hh"), lit(GridMax - 1)).as("y1"))
      gridJoinPairs(pts, boxes)
        .groupBy("bid")
        .agg(count(lit(1)).as("n_pts"), min("px").as("min_px"),
          max("py").as("max_py"))
        .orderBy("bid")
    },
    Some(s"""WITH pts AS (
           |  SELECT event_id,
           |    CAST(('0x' || substr(md5('gp#' || event_id), 1, 15)) AS BIGINT) AS h
           |  FROM events),
           |p AS (SELECT event_id, h % $GridMax AS px, (h // 1000) % $GridMax AS py
           |      FROM pts),
           |bx AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS bid,
           |    CAST(('0x' || substr(md5('gb#' || o_orderkey), 1, 15)) AS BIGINT) AS h
           |  FROM orders WHERE o_orderkey % 20 = 0),
           |b AS (
           |  SELECT bid, h % $GridMax AS x0, (h // 1000) % $GridMax AS y0,
           |    LEAST(h % $GridMax + 1 + (h // 1000000) % 50, ${GridMax - 1}) AS x1,
           |    LEAST((h // 1000) % $GridMax + 1 + (h // 100000000) % 50, ${GridMax - 1}) AS y1
           |  FROM bx)
           |SELECT bid, CAST(COUNT(*) AS BIGINT) AS n_pts,
           |  CAST(MIN(px) AS BIGINT) AS min_px, CAST(MAX(py) AS BIGINT) AS max_py
           |FROM p JOIN b
           |  ON px BETWEEN x0 AND x1 AND py BETWEEN y0 AND y1
           |GROUP BY bid ORDER BY bid""".stripMargin)
  )

  /** q231: nearest-facility assignment — every point assigned to its
    * closest facility (squared-L2, fid tie-break), reported per
    * facility: the allocation step of facility location / fleet
    * dispatch / cell-tower attribution. EXACT at scale via the
    * two-pass grid idiom: pass 1 probes the point's own cell plus its
    * 8 neighbors (facilities replicated to the 3×3 neighborhood — one
    * explode), which resolves every point whose true nearest facility
    * lies within one cell ring; pass 2 brute-forces ONLY the points
    * with an empty ring (anti-join → broadcast over all facilities).
    * A ring hit is provably the true argmin: any facility outside the
    * 3×3 ring is > [[CellW]] away in some axis, while the ring
    * candidate found is ≤ √2·[[CellW]]... which does NOT bound it —
    * so pass 1 keeps a candidate only when its distance is ≤ [[CellW]]²
    * (such a facility beats everything outside the ring, whose
    * distance exceeds CellW); farther ring-hits fall through to the
    * exact pass with the empty-ring points. Exactness is therefore
    * structural, not probabilistic — and the fallback fraction is the
    * measured scale knob (facility density vs cell width).
    *
    * Scale: pass 1 is a cell-keyed equi-join (points never replicate —
    * facilities do, ×9, and |F| ≪ |P|); pass 2 touches only the
    * fallback slice with a broadcast of the (metadata-sized) facility
    * table. Per-facility report is one hash agg. */
  /** The q231 two-pass assignment core: points (event_id, px, py) ×
    * facilities (fid, fx, fy) → (event_id, fid, d2) with fid the TRUE
    * squared-L2 argmin (fid tie-break). Pass 1 probes the 3×3 cell
    * ring and keeps a winner only when provably global (d² ≤ CellW²);
    * pass 2 brute-forces the rest against the broadcast facility table. */
  private def nearestFacilityAssign(pts: DataFrame, fac0: DataFrame): DataFrame = {
    val fac = fac0.localCheckpoint()
    val d2 = (ax: Column, ay: Column, bx: Column, by: Column) =>
      (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
    // facilities replicated to their 3×3 cell neighborhood
    val facCells = fac
      .withColumn("dxy", explode(expr(
        "transform(sequence(0, 8), i -> struct(i DIV 3 - 1 AS dx, i % 3 - 1 AS dy))")))
      .select(col("fid"), col("fx"), col("fy"),
        (expr(s"fx DIV $CellW") + col("dxy.dx")).as("cx"),
        (expr(s"fy DIV $CellW") + col("dxy.dy")).as("cy"))
    val probed = pts
      .withColumn("cx", expr(s"px DIV $CellW"))
      .withColumn("cy", expr(s"py DIV $CellW"))
      .join(facCells, Seq("cx", "cy"))
      .select(col("event_id"), col("px"), col("py"),
        struct(d2(col("px"), col("py"), col("fx"), col("fy")).as("d2"),
          col("fid")).as("cand"))
      .groupBy("event_id", "px", "py").agg(min("cand").as("best"))
      // only a ring-winner CLOSER than one cell width is provably global
      .filter(col("best.d2") <= lit(CellW * CellW))
      .select(col("event_id"), col("best.fid").as("fid"), col("best.d2").as("d2"))
    val fallback = pts
      .join(probed.select("event_id"), Seq("event_id"), "left_anti")
      .crossJoin(broadcast(fac))
      .select(col("event_id"),
        struct(d2(col("px"), col("py"), col("fx"), col("fy")).as("d2"),
          col("fid")).as("cand"))
      .groupBy("event_id").agg(min("cand").as("best"))
      .select(col("event_id"), col("best.fid").as("fid"), col("best.d2").as("d2"))
    probed.unionByName(fallback)
  }

  val q231NearestFacility = QueryDef(
    "q231_nearest_facility",
    (s, d) => {
      def md5i(c: Column): Column =
        conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)
      // (r13: a spread of the md5 derivation was tried and REVERTED —
      // measured 1.73 -> 2.20 s; the extra exchange shifted the ring
      // join's planning without buying back the hash cost here)
      val pts = Tables.events(s, d)
        .select(col("event_id"), md5i(concat(lit("gp#"), col("event_id").cast("string"))).as("h"))
        .select(col("event_id"),
          pmod(col("h"), lit(GridMax)).as("px"),
          pmod(expr("h DIV 1000"), lit(GridMax)).as("py"))
      val fac = Tables.orders(s, d)
        .filter(col("o_orderkey") % 200 === 0)
        .select(col("o_orderkey").cast(LongType).as("fid"),
          md5i(concat(lit("fc#"), col("o_orderkey").cast("string"))).as("h"))
        .select(col("fid"),
          pmod(col("h"), lit(GridMax)).as("fx"),
          pmod(expr("h DIV 1000"), lit(GridMax)).as("fy"))
      nearestFacilityAssign(pts, fac)
        .groupBy("fid")
        .agg(count(lit(1)).as("n_assigned"), sum("d2").as("sum_d2"),
          max("d2").as("max_d2"))
        .orderBy("fid")
    },
    Some(s"""WITH pts AS (
           |  SELECT event_id,
           |    CAST(('0x' || substr(md5('gp#' || event_id), 1, 15)) AS BIGINT) AS h
           |  FROM events),
           |p AS (SELECT event_id, h % $GridMax AS px, (h // 1000) % $GridMax AS py
           |      FROM pts),
           |fc AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS fid,
           |    CAST(('0x' || substr(md5('fc#' || o_orderkey), 1, 15)) AS BIGINT) AS h
           |  FROM orders WHERE o_orderkey % 200 = 0),
           |f AS (SELECT fid, h % $GridMax AS fx, (h // 1000) % $GridMax AS fy FROM fc),
           |best AS (
           |  SELECT event_id, fid,
           |    (px - fx) * (px - fx) + (py - fy) * (py - fy) AS d2
           |  FROM p CROSS JOIN f
           |  QUALIFY row_number() OVER (PARTITION BY event_id
           |    ORDER BY (px - fx) * (px - fx) + (py - fy) * (py - fy) ASC, fid ASC) = 1)
           |SELECT fid, CAST(COUNT(*) AS BIGINT) AS n_assigned,
           |  CAST(SUM(d2) AS BIGINT) AS sum_d2, CAST(MAX(d2) AS BIGINT) AS max_d2
           |FROM best GROUP BY fid ORDER BY fid""".stripMargin)
  )

  /** q240: tile-pyramid rollup — point densities aggregated at every
    * zoom level at once (z3 = 125-unit tiles … z0 = 1000-unit world),
    * the precompute behind every slippy-map heat layer and the spatial
    * twin of q14's rollup: coarse tiles are exact SUMS of their four
    * children, so one pass + an explode over zoom levels replaces four
    * scans. Reported: per zoom, tile count, max-tile density and the
    * top tile (the hotspot at each resolution, ties to the smallest
    * tile id).
    *
    * Exactness: tile ids are pure integer floor divisions of the q224
    * grid coordinates; the per-zoom argmax is a struct-max.
    *
    * Scale: ONE corpus scan exploded ×4 zooms into a (zoom, tile)
    * hash agg — at web scale the explode factor is the zoom count, and
    * the alternative (aggregate finest, then 3 parent re-aggs) is the
    * documented shuffle-chain when zoom counts grow. */
  val q240TilePyramid = QueryDef(
    "q240_tile_pyramid",
    (s, d) => {
      def md5i(c: Column): Column =
        conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)
      val pts = Tables.events(s, d)
        .select(md5i(concat(lit("gp#"), col("event_id").cast("string"))).as("h"))
        .select(pmod(col("h"), lit(GridMax)).as("px"),
          pmod(expr("h DIV 1000"), lit(GridMax)).as("py"))
      val tiles = pts
        .select(col("px"), col("py"), explode(sequence(lit(0), lit(3))).as("z"))
        // zoom z splits the world into 2^z × 2^z tiles (tile edge 1000/2^z)
        .select(col("z"),
          expr("px * shiftleft(1, z) DIV 1000").as("tx"),
          expr("py * shiftleft(1, z) DIV 1000").as("ty"))
        .groupBy("z", "tx", "ty").agg(count(lit(1)).as("n"))
      tiles.groupBy("z")
        .agg(count(lit(1)).as("n_tiles"), sum("n").as("n_points"),
          max(struct(col("n"), (-col("tx")).as("ntx"), (-col("ty")).as("nty")))
            .as("top"))
        .select(col("z"), col("n_tiles"), col("n_points"),
          col("top.n").as("top_density"),
          (-col("top.ntx")).as("top_tx"), (-col("top.nty")).as("top_ty"))
        .orderBy("z")
    },
    Some(s"""WITH pts AS (
           |  SELECT CAST(('0x' || substr(md5('gp#' || event_id), 1, 15)) AS BIGINT) AS h
           |  FROM events),
           |p AS (SELECT h % $GridMax AS px, (h // 1000) % $GridMax AS py FROM pts),
           |t AS (
           |  SELECT z, px * (1 << CAST(z AS INTEGER)) // 1000 AS tx,
           |    py * (1 << CAST(z AS INTEGER)) // 1000 AS ty,
           |    CAST(COUNT(*) AS BIGINT) AS n
           |  FROM p, range(0, 4) zz(z) GROUP BY 1, 2, 3),
           |r AS (
           |  SELECT z, tx, ty, n, row_number() OVER (PARTITION BY z
           |    ORDER BY n DESC, tx ASC, ty ASC) AS rk
           |  FROM t)
           |SELECT CAST(t.z AS BIGINT) AS z, CAST(COUNT(*) AS BIGINT) AS n_tiles,
           |  CAST(SUM(t.n) AS BIGINT) AS n_points,
           |  CAST(MAX(CASE WHEN r.rk = 1 THEN r.n END) AS BIGINT) AS top_density,
           |  CAST(MAX(CASE WHEN r.rk = 1 THEN r.tx END) AS BIGINT) AS top_tx,
           |  CAST(MAX(CASE WHEN r.rk = 1 THEN r.ty END) AS BIGINT) AS top_ty
           |FROM t JOIN r ON r.z = t.z AND r.tx = t.tx AND r.ty = t.ty
           |GROUP BY t.z ORDER BY z""".stripMargin)
  )

  val all: Seq[QueryDef] = Seq(q224GridJoin, q231NearestFacility, q240TilePyramid)
}
