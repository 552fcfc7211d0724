package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{CacheRegistry, QuerySpec}
import graft.functions.Wkb
import graft.sources.Tables

/** Spatial join — the scale-shaped counterpart of the scalar predicates in
  * [[graft.functions.Wkb]] (SURVEY.md §2 A11 extension; the reference's
  * PostGIS habitat implies point-in-polygon joins [UPSTREAM-UNVERIFIED —
  * empty checkout, SURVEY.md §0]).
  *
  * Shape: PBSM-style uniform grid blocking. Each polygon is replicated to
  * the grid cells its bbox covers (one WKB decode per polygon, map-side);
  * each point hashes to exactly one cell; candidates meet in a shuffled
  * equi-join on the cell key and are refined with the exact even-odd ray
  * cast. Per-cell fan-out is bounded by local geometry density — NEVER
  * |points| × |polygons| — and both shuffles partition on the same key.
  * Cell-size choice trades replication (big cells → fewer copies, fatter
  * buckets) against fan-out; a production caller tunes it to median
  * polygon extent. A giant polygon spanning many cells replicates its WKB
  * per cell — the standard PBSM cost, mitigated upstream by tiling such
  * outliers before the join.
  */
object Spatial {

  private val bboxUdf: UserDefinedFunction = udf { (wkb: Array[Byte]) => Wkb.bbox(wkb) }

  /** Covering cell ids (cx, cy) of a bbox at the given cell size. */
  private val cellsUdf: UserDefinedFunction =
    udf { (xmin: Double, ymin: Double, xmax: Double, ymax: Double, cell: Double) =>
      val cx0 = math.floor(xmin / cell).toLong
      val cx1 = math.floor(xmax / cell).toLong
      val cy0 = math.floor(ymin / cell).toLong
      val cy1 = math.floor(ymax / cell).toLong
      (for { cx <- cx0 to cx1; cy <- cy0 to cy1 } yield (cx, cy)).toArray
    }

  /** Per-task decoded-ring memo for probe UDFs whose geometry column
    * repeats a SMALL set of WKBs across millions of candidate rows — the
    * grid joins replicate each polygon to every covering cell, so the
    * refine UDF used to re-parse the same few byte arrays once per
    * candidate pair (guide §1.2 step 2, per-task work). The memo is a
    * `@transient lazy` field, so the closure serializes empty and every
    * task deserializes its own map (no sharing, no locking); it clears at
    * 4096 entries so a high-cardinality geometry column degrades to the
    * per-row decode instead of leaking. Probe results are bit-identical:
    * the ring forms carry the streaming walks' exact IEEE chains (Wkb).
    */
  private final class RingMemo extends Serializable {
    @transient private lazy val memo =
      new java.util.HashMap[java.nio.ByteBuffer, Seq[Array[(Double, Double)]]]()
    def apply(wkb: Array[Byte]): Seq[Array[(Double, Double)]] = {
      val k = java.nio.ByteBuffer.wrap(wkb)
      var r = memo.get(k)
      if (r == null) {
        if (memo.size >= 4096) memo.clear()
        r = Wkb.decodeAreaRings(wkb)
        memo.put(k, r)
      }
      r
    }
  }

  private val containsUdf: UserDefinedFunction = {
    val rings = new RingMemo
    udf { (wkb: Array[Byte], px: Double, py: Double) =>
      Wkb.containsPointRings(rings(wkb), px, py) }
  }

  private val sridUdf: UserDefinedFunction = udf { (wkb: Array[Byte]) => Wkb.srid(wkb) }

  private val geodesicUdf: UserDefinedFunction =
    udf { (a: Array[Byte], b: Array[Byte]) => Wkb.geodesicDistance(a, b) }

  /** Mixed-SRID guard for the grid joins: geometries in different CRSs
    * share no coordinate plane, so joining them cell-wise is silently
    * meaningless. The guard fails LOUDLY instead — lazily, in-plan, and
    * WITHOUT touching the join itself: each guarded side contributes a
    * keyless one-row SRID aggregate (distinct count + min); the sides'
    * aggregates union together, re-aggregate to (max per-side distinct,
    * distinct CRS count across sides), filter to VIOLATIONS ONLY, and the
    * surviving row — shaped to the result schema — is unioned onto the
    * result, where an `assert_true` detonates at execution. Uniform
    * inputs make the branch empty, so the union contributes nothing.
    *
    * Cost at 100 TB: one map-side-combined pass over the WKB column per
    * side — noise next to the explode+shuffle the join does. Crucially
    * the guard adds NO join: broadcasting the one-row stats onto every
    * data row (the previous shape) plans as a keyless
    * BroadcastNestedLoopJoin, which is exactly what the PlanAuditSpec /
    * ScaleSpec no-BNLJ gates exist to forbid — the audited data path must
    * keep its single cell equi-join. No reprojection math is attempted
    * (honest scope: EWKB SRIDs surface via [[Wkb.srid]]; callers
    * reproject upstream) — the contract is only "never silently wrong".
    */
  private def withSridGuard(result: DataFrame, sides: Seq[(DataFrame, String)],
      what: String): DataFrame = {
    val stats = sides.map { case (df, wkbCol) =>
      df.agg(countDistinct(sridUdf(col(wkbCol))).as("n"),
        min(sridUdf(col(wkbCol))).as("m"))
    }.reduce(_ union _)
    val bad = stats
      .agg(max(col("n")).as("maxn"), countDistinct(col("m")).as("ncrs"))
      .filter(col("maxn") > 1 || col("ncrs") > 1)
      .filter(isnull(assert_true(lit(false),
        when(col("maxn") > 1,
          concat(lit(s"$what mixes SRIDs ("), col("maxn"),
            lit(" distinct in one geometry column) — reproject to one CRS upstream")))
          .otherwise(concat(lit(s"$what joins across CRSs ("), col("ncrs"),
            lit(" distinct single-SRID sides) — reproject one side upstream"))))))
    val shaped = bad.select(result.schema.fields.toSeq.map(f =>
      lit(null).cast(f.dataType).as(f.name)): _*)
    // Guard arm FIRST: short-circuiting consumers (limit/take/isEmpty)
    // drain union children in order, so the assert evaluates before any
    // data row can be returned — partial consumption can't skip the guard.
    shaped.unionByName(result)
  }

  /** Grid-blocked point-in-polygon join.
    *
    * @param points (point_id: any, px: double, py: double)
    * @param polys  (poly_id: any, wkb: binary) — POLYGON / MULTIPOLYGON
    * @param cell   grid cell size in coordinate units
    * @return (point_id, poly_id) for every polygon strictly containing the
    *         point (even-odd boundary rule, see [[Wkb.containsPoint]]);
    *         each surviving pair is emitted exactly once because a point
    *         lives in exactly one cell
    */
  def pointInPolygonJoin(points: DataFrame, polys: DataFrame, cell: Double): DataFrame = {
    val s = points.sparkSession
    import s.implicits._
    // points are bare coords — their CRS is the caller's contract; the WKB
    // side is guarded against silently mixing planes
    val gridded = polys
      .withColumn("bb", bboxUdf($"wkb"))
      .select($"poly_id", $"wkb",
        explode(cellsUdf($"bb.xmin", $"bb.ymin", $"bb.xmax", $"bb.ymax", lit(cell))).as("c"))
      .select($"poly_id", $"wkb", $"c._1".as("cell_x"), $"c._2".as("cell_y"))
    val joined = points
      .withColumn("p_cell_x", floor($"px" / cell).cast(LongType))
      .withColumn("p_cell_y", floor($"py" / cell).cast(LongType))
      .join(gridded, $"p_cell_x" === $"cell_x" && $"p_cell_y" === $"cell_y")
      .filter(containsUdf($"wkb", $"px", $"py"))
      .select($"point_id", $"poly_id")
    withSridGuard(joined, Seq((polys, "wkb")), "the polygon side of a point-in-polygon join")
  }

  /** Grid-blocked polygon-polygon intersects join.
    *
    * Same PBSM blocking as [[pointInPolygonJoin]], but both sides
    * replicate to covering cells, so one geometry pair can collide in
    * many cells. The classic duplicate-avoidance rule makes emission
    * exactly-once WITHOUT a distinct pass: a pair is reported only by the
    * canonical cell containing the min corner of the two bboxes'
    * intersection — cheap column arithmetic on the bbox values each side
    * already carries, applied before the expensive exact refine.
    *
    * @param polysA (a_id, a_wkb)  @param polysB (b_id, b_wkb)
    * @return (a_id, b_id) for every intersecting pair, exactly once
    */
  def polygonJoin(polysA: DataFrame, polysB: DataFrame, cell: Double): DataFrame = {
    val s = polysA.sparkSession
    import s.implicits._
    def gridded(df: DataFrame, id: String, wkb: String, p: String): DataFrame =
      df
        .withColumn("bb", bboxUdf(col(wkb)))
        .select(col(id), col(wkb),
          $"bb.xmin".as(s"${p}xmin"), $"bb.ymin".as(s"${p}ymin"),
          $"bb.xmax".as(s"${p}xmax"), $"bb.ymax".as(s"${p}ymax"),
          explode(cellsUdf($"bb.xmin", $"bb.ymin", $"bb.xmax", $"bb.ymax", lit(cell))).as("c"))
        .select(col(id), col(wkb),
          col(s"${p}xmin"), col(s"${p}ymin"), col(s"${p}xmax"), col(s"${p}ymax"),
          $"c._1".as(s"${p}cell_x"), $"c._2".as(s"${p}cell_y"))
    val isectUdf = udf { (a: Array[Byte], b: Array[Byte]) => Wkb.intersects(a, b) }
    val joined = gridded(polysA, "a_id", "a_wkb", "a_")
      .join(gridded(polysB, "b_id", "b_wkb", "b_"),
        $"a_cell_x" === $"b_cell_x" && $"a_cell_y" === $"b_cell_y")
      // bbox overlap reject (free: the bbox columns are already here)
      .filter($"a_xmin" <= $"b_xmax" && $"a_xmax" >= $"b_xmin" &&
        $"a_ymin" <= $"b_ymax" && $"a_ymax" >= $"b_ymin")
      // canonical-cell rule: only the cell holding the bbox-intersection
      // min corner reports the pair
      .filter(floor(greatest($"a_xmin", $"b_xmin") / cell).cast(LongType) === $"a_cell_x" &&
        floor(greatest($"a_ymin", $"b_ymin") / cell).cast(LongType) === $"a_cell_y")
      .filter(isectUdf($"a_wkb", $"b_wkb"))
      .select($"a_id", $"b_id")
    withSridGuard(joined, Seq((polysA, "a_wkb"), (polysB, "b_wkb")),
      "a polygon-polygon intersects join")
  }

  /** Grid-blocked "nearest polygon within r" join.
    *
    * Each point expands to the cells covered by its r-ball bbox (so any
    * polygon whose distance could be ≤ r shares a cell); polygons
    * replicate to their bbox cells exactly as in [[pointInPolygonJoin]].
    * Pairs meet in the shuffled cell equi-join, the canonical-cell rule
    * (min corner of ball-bbox ∩ poly-bbox) keeps each pair single-copy
    * without a distinct pass, the exact refine computes distance
    * (0 when contained, else min edge distance — [[Wkb.boundaryDistance]])
    * and filters ≤ r, and a per-point window keeps the minimum
    * (ties to the lowest poly_id, so the result is deterministic).
    *
    * Scale: per-cell fan-out bounded by local density; the r-ball
    * replication factor is (r/cell + 1)² per point — callers size `cell`
    * near `r` so it stays ~4.
    *
    * @param points (point_id, px, py)  @param polys (poly_id, wkb)
    * @return (point_id, poly_id, dist) — one row per point with any
    *         polygon within r
    */
  def nearestPolygonWithinR(points: DataFrame, polys: DataFrame,
      r: Double, cell: Double): DataFrame = {
    val s = points.sparkSession
    import s.implicits._
    knnPolygonsWithinR(points, polys, r, cell, k = 1)
      .select($"point_id", $"poly_id", $"dist")
  }

  /** k-nearest-polygons-within-r join — the general form of
    * [[nearestPolygonWithinR]] (k = 1): per point, the k closest polygons
    * within radius r with their distances and ranks. The same
    * grid-blocked shape (r-ball cell expansion on the point side,
    * canonical-cell dedup on the polygon side, exact refine only on
    * cell-collided candidates); the per-point top-k is a point-keyed
    * row_number with the adjacent `rn <= k` filter, so Spark's
    * WindowGroupLimit prunes to k per point below the sort — at 100 TB
    * the window never sees more than each point's cell-local candidates.
    */
  def knnPolygonsWithinR(points: DataFrame, polys: DataFrame,
      r: Double, cell: Double, k: Int): DataFrame = {
    val s = points.sparkSession
    import s.implicits._
    // RingMemo: the poly side is a handful of WKBs replicated to millions
    // of candidate rows — decode once per (task, polygon), probe with the
    // identical IEEE chains (measured a11aq 1.9 s -> ~1.2 s)
    val distUdf = {
      val rings = new RingMemo
      udf { (wkb: Array[Byte], px: Double, py: Double) =>
        val r = rings(wkb)
        if (Wkb.containsPointRings(r, px, py)) 0.0
        else Wkb.boundaryDistanceRings(r, px, py)
      }
    }
    val gridded = polys
      .withColumn("bb", bboxUdf($"wkb"))
      .select($"poly_id", $"wkb", $"bb.xmin".as("g_xmin"), $"bb.ymin".as("g_ymin"),
        explode(cellsUdf($"bb.xmin", $"bb.ymin", $"bb.xmax", $"bb.ymax", lit(cell))).as("c"))
      .select($"poly_id", $"wkb", $"g_xmin", $"g_ymin",
        $"c._1".as("cell_x"), $"c._2".as("cell_y"))
    val balled = points
      .select($"point_id", $"px", $"py",
        explode(cellsUdf($"px" - r, $"py" - r, $"px" + r, $"py" + r, lit(cell))).as("c"))
      .select($"point_id", $"px", $"py",
        $"c._1".as("p_cell_x"), $"c._2".as("p_cell_y"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"point_id").orderBy($"dist", $"poly_id")
    val joined = balled
      .join(gridded, $"p_cell_x" === $"cell_x" && $"p_cell_y" === $"cell_y")
      // canonical-cell duplicate avoidance (the polygonJoin rule)
      .filter(floor(greatest($"px" - r, $"g_xmin") / cell).cast(LongType) === $"cell_x" &&
        floor(greatest($"py" - r, $"g_ymin") / cell).cast(LongType) === $"cell_y")
      .withColumn("dist", distUdf($"wkb", $"px", $"py"))
      .filter($"dist" <= r)
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter($"rn" <= k)
      .select($"point_id", $"poly_id", $"dist", $"rn")
    withSridGuard(joined, Seq((polys, "wkb")),
      "the polygon side of a nearest-polygon join")
  }

  // --------------------------------------------------------------- A11ag
  /** Nearest-neighbor distance census — the point-pattern statistic
    * (the Clark–Evans numerator) behind "is this layer clustered or
    * dispersed": each point's distance to its nearest OTHER point within
    * radius w, rolled up per event type as n_points / n_with_nn /
    * quantized NN-distance sum and mean. Radius-bounded semantics by
    * design (the a11j contract): a point with no neighbor within w
    * contributes to n_points only — at 100 TB an unbounded NN needs
    * iterative cell-ring expansion, while the bounded form is one
    * adjacent-cell join.
    *
    * Scale shape: 1D grid blocking on floor(v/w) — the candidate side
    * replicates to its 3 covering probe cells (map-side ×3, never a
    * cross join), candidates meet in ONE equi-join on the cell key,
    * per-point argmin is a struct-ordered min INSIDE a partial-agged
    * hash agg (no window), the rollup partial-aggregates. Exactness:
    * |va−vb| is one IEEE subtract per pair; per-point minima quantize
    * floor(d·1e6) and the mean ships as exact (sum, n, sum div n).
    */
  private val NnRadius = 1.0
  private val a11ag = QuerySpec(
    "a11ag_nn_dist",
    s"Nearest-neighbor distance census (Clark-Evans numerator), radius-bounded at $NnRadius: 1D grid blocking (candidates replicated to 3 probe cells, one equi-join), per-point argmin via struct-ordered min inside a partial-agged hash agg, per-type n/with-nn/e6 sum/e6 mean.",
    Some(s"""WITH p AS (SELECT event_id, event_type, value AS v FROM events),
            |nn AS (SELECT a.event_id, a.event_type,
            |         MIN(abs(a.v - b.v)) AS d
            |       FROM p a JOIN p b
            |         ON a.event_id <> b.event_id AND abs(a.v - b.v) <= $NnRadius
            |       GROUP BY a.event_id, a.event_type),
            |q AS (SELECT event_type, CAST(floor(d * 1000000.0) AS BIGINT) AS d6 FROM nn),
            |tot AS (SELECT event_type, COUNT(*) AS n_points FROM p GROUP BY event_type),
            |agg AS (SELECT event_type, COUNT(*) AS n_with_nn,
            |          CAST(SUM(d6) AS BIGINT) AS nn_sum_e6 FROM q GROUP BY event_type)
            |SELECT tot.event_type, tot.n_points,
            |  COALESCE(agg.n_with_nn, 0) AS n_with_nn,
            |  CAST(COALESCE(agg.nn_sum_e6, 0) AS BIGINT) AS nn_sum_e6,
            |  CAST(COALESCE(agg.nn_sum_e6 // agg.n_with_nn, 0) AS BIGINT) AS nn_mean_e6
            |FROM tot LEFT JOIN agg ON tot.event_type = agg.event_type
            |ORDER BY tot.event_type""".stripMargin),
    (s, d) => {
      import s.implicits._
      val p = CacheRegistry.persist(Tables.events(s, d)
        .select($"event_id", $"event_type", $"value".as("v"),
          floor($"value" / NnRadius).cast(LongType).as("cell")))
      // candidate side replicated to its 3 covering probe cells map-side
      val cand = p.select($"event_id".as("id_b"), $"v".as("vb"),
          explode(array($"cell" - 1, $"cell", $"cell" + 1)).as("probe"))
      val nn = p.join(cand, $"cell" === $"probe" && $"event_id" =!= $"id_b")
        .withColumn("dist", abs($"v" - $"vb"))
        .filter($"dist" <= NnRadius)
        .groupBy($"event_id", $"event_type")
        .agg(min($"dist").as("d"))
        .select($"event_type", floor($"d" * 1000000.0).cast(LongType).as("d6"))
      val tot = p.groupBy($"event_type").agg(count(lit(1)).as("n_points"))
      val agg = nn.groupBy($"event_type".as("ety"))
        .agg(count(lit(1)).as("n_with_nn"), sum($"d6").cast(LongType).as("nn_sum_e6"))
      tot.join(agg, $"event_type" === $"ety", "left")
        .select($"event_type", $"n_points",
          coalesce($"n_with_nn", lit(0L)).as("n_with_nn"),
          coalesce($"nn_sum_e6", lit(0L)).cast(LongType).as("nn_sum_e6"),
          coalesce(expr("nn_sum_e6 div n_with_nn"), lit(0L)).cast(LongType).as("nn_mean_e6"))
        .orderBy($"event_type")
    }
  )

  // ---------------------------------------------------------------- A11d
  private val diamondUdf: UserDefinedFunction = udf { (c: Double, r: Double) =>
    Wkb.polygon(Seq(Seq((c + r, c), (c, c + r), (c - r, c), (c, c - r), (c + r, c))))
  }

  // Diamond radius 35.27 on 20-spaced centers: adjacent catchment windows
  // overlap, so some points legitimately land in two polygons (exercises
  // multi-match semantics). The odd-hundredth radius keeps the 0.02-grid
  // L1 distances off the exact boundary (same reasoning as a11c).
  private val a11d = QuerySpec(
    "a11d_spatial_join",
    "Grid-blocked point-in-polygon JOIN: events points vs 25 diamond polygons built from nation keys; PBSM cell equi-join + exact ray-cast refine; oracle replays the L1 containment arithmetic.",
    Some("""SELECT CAST(e.event_id AS VARCHAR) AS feature_id, n.n_nationkey AS poly_id
            FROM events e JOIN nation n
              ON 2*abs(e.value - 20*CAST(n.n_nationkey AS DOUBLE)) < 35.27
            ORDER BY feature_id, poly_id"""),
    (s, d) => {
      import s.implicits._
      // r18: broadcast the 25-diamond side + spread the event scan — the
      // a11aq rationale (refine at scan parallelism, no cell exchanges)
      val points = graft.Par.spread(Tables.events(s, d)
        .select($"event_id".cast(StringType).as("point_id"),
          $"value".as("px"), $"value".as("py")))
      val polys = broadcast(Tables.nation(s, d)
        .select($"n_nationkey".as("poly_id"),
          diamondUdf(lit(20.0) * $"n_nationkey".cast(DoubleType), lit(35.27)).as("wkb")))
      pointInPolygonJoin(points, polys, cell = 25.0)
        .select($"point_id".as("feature_id"), $"poly_id")
        .orderBy($"feature_id", $"poly_id")
    }
  )

  // ---------------------------------------------------------------- A11f
  // Open L1 balls intersect iff center L1 distance < radius sum (Minkowski):
  // 2|value - 20·nationkey| < 10.07 + 30.06 — the odd-hundredth sum keeps
  // the 0.02-grid distances off the exact touch case (as in a11c/a11e).
  private val a11f = QuerySpec(
    "a11f_polygon_join",
    "Grid-blocked polygon-polygon intersects JOIN with canonical-cell duplicate avoidance: 10k event diamonds vs 25 nation diamonds, exactly-once pair emission without a distinct pass; oracle replays the L1 Minkowski arithmetic.",
    Some("""SELECT CAST(e.event_id AS VARCHAR) AS a_id, n.n_nationkey AS b_id
            FROM events e JOIN nation n
              ON 2*abs(e.value - 20*CAST(n.n_nationkey AS DOUBLE)) < 40.13
            ORDER BY a_id, b_id"""),
    (s, d) => {
      import s.implicits._
      // r18: broadcast the 25-diamond side + spread the event scan — the
      // a11aq rationale (refine at scan parallelism, no cell exchanges)
      val a = graft.Par.spread(Tables.events(s, d)
        .select($"event_id".cast(StringType).as("a_id"),
          diamondUdf($"value", lit(10.07)).as("a_wkb")))
      val b = broadcast(Tables.nation(s, d)
        .select($"n_nationkey".as("b_id"),
          diamondUdf(lit(20.0) * $"n_nationkey".cast(DoubleType), lit(30.06)).as("b_wkb")))
      polygonJoin(a, b, cell = 25.0)
        .orderBy($"a_id", $"b_id")
    }
  )

  // ---------------------------------------------------------------- A11j
  /** Oracle (r10 — overturns the r9 "not replayable" call): the oracle
    * does NOT replay the grid machinery, only the exact semantics the
    * blocked algorithm computes — nearest diamond within r over a plain
    * cross join. The point-segment clamp chain ([[Wkb.boundaryDistance]]'s
    * `t = max(0, min(1, dot/len2))`, projected foot, sqrt) IS
    * SQL-replayable bit-for-bit when written expression-for-expression
    * (the same discipline that carried c4_winnow/c3_pq this round), so
    * the argmin over doubles can't flip rows: both engines order
    * IDENTICAL bits. Containment uses the a11c grid identity (2·|v−c|
    * on the even-hundredth grid vs odd-hundredth vertex radius — ray
    * cast ≡ strict L1, boundary unreachable). min over the 4 edges =
    * `least` (order-free, no NaN). SpatialSpec keeps planted
    * nearest/containment/radius + determinism pinned.
    */
  /** Parameterized diamond-kNN oracle builder (a11j k=1, a11aq k=3): the
    * SEMANTICS over a plain cross join — L1 containment + the exact
    * point-segment clamp chains, bit-identical doubles so the rank can't
    * flip.
    */
  private def knnDiamondOracle(vr: Double, r: Double, k: Int, emitRn: Boolean): String = {
    val verts = Seq((s"(g.c + $vr)", "g.c"), ("g.c", s"(g.c + $vr)"),
      (s"(g.c - $vr)", "g.c"), ("g.c", s"(g.c - $vr)"))
    def seg(i: Int): String = {
      val (x1, y1) = verts(i)
      val (x2, y2) = verts((i + 1) % 4)
      val dx = s"($x2 - $x1)"
      val dy = s"($y2 - $y1)"
      val len2 = s"($dx * $dx + $dy * $dy)"
      val t = s"greatest(0.0, least(1.0, ((p.px - $x1) * $dx + (p.py - $y1) * $dy) / $len2))"
      val cx = s"($x1 + $t * $dx)"
      val cy = s"($y1 + $t * $dy)"
      s"sqrt((p.px - $cx) * (p.px - $cx) + (p.py - $cy) * (p.py - $cy))"
    }
    val cols = if (emitRn) "point_id, poly_id, dist, CAST(rn AS BIGINT) AS rn" else "point_id, poly_id, dist"
    val order = if (emitRn) "point_id, rn" else "point_id"
    s"""WITH p AS (SELECT CAST(event_id AS VARCHAR) AS point_id, value AS px, value AS py FROM events),
       |g AS (SELECT n_nationkey AS poly_id, 20*CAST(n_nationkey AS DOUBLE) AS c FROM nation),
       |d AS (SELECT p.point_id, g.poly_id,
       |    CASE WHEN 2*abs(p.px - g.c) < $vr THEN 0.0
       |         ELSE least(${seg(0)}, ${seg(1)}, ${seg(2)}, ${seg(3)}) END AS dist
       |  FROM p CROSS JOIN g),
       |f AS (SELECT point_id, poly_id, dist,
       |    row_number() OVER (PARTITION BY point_id ORDER BY dist, poly_id) AS rn
       |  FROM d WHERE dist <= $r)
       |SELECT $cols FROM f WHERE rn <= $k ORDER BY $order""".stripMargin
  }
  private def a11jOracle: String = knnDiamondOracle(vr = 15.11, r = 12.5, k = 1, emitRn = false)
  private val a11j = QuerySpec(
    "a11j_nearest_poly",
    "Grid-blocked nearest-polygon-within-r JOIN: events points vs 25 nation diamonds, r-ball cell expansion + canonical-cell dedup + exact distance refine (0 when contained), per-point argmin with id tie-break. Oracle replays the SEMANTICS over a plain cross join — L1 containment + the exact point-segment clamp chains, bit-identical doubles so the argmin can't flip.",
    Some(a11jOracle),
    (s, d) => {
      import s.implicits._
      // r18: broadcast the 25-diamond poly side + spread the point scan —
      // same rationale as a11aq (the k=3 sibling); see the note there.
      val points = graft.Par.spread(Tables.events(s, d)
        .select($"event_id".cast(StringType).as("point_id"),
          $"value".as("px"), $"value".as("py")))
      val polys = broadcast(Tables.nation(s, d)
        .select($"n_nationkey".as("poly_id"),
          diamondUdf(lit(20.0) * $"n_nationkey".cast(DoubleType), lit(15.11)).as("wkb")))
      nearestPolygonWithinR(points, polys, r = 12.5, cell = 25.0)
        .orderBy($"point_id")
    }
  )

  // ---------------------------------------------------------------- A11m
  /** 32-bit Morton (Z-order) key from two 16-bit grid coordinates, as pure
    * Column integer arithmetic (stays inside whole-stage codegen — no UDF).
    *
    * Scale role: THE layout key for 100 TB of features. Range-partitioning
    * and sorting the store by `morton` makes spatially close features land
    * in the same parquet files, so a bbox query becomes min/max file-skip
    * pruning instead of a full scan; an aligned 2^k×2^k tile is one
    * contiguous morton range (prefix property, pinned by SpatialSpec).
    * Also the drop-in replacement for the PBSM grid hash when the join key
    * should *sort* spatially, not just hash.
    */
  def mortonCol(qx: Column, qy: Column): Column = {
    // magic-number bit spreading: 16 bits -> even bit positions of 32
    def spread16(v0: Column): Column = {
      val m1 = v0.bitwiseOR(shiftleft(v0, 8)).bitwiseAND(lit(0x00FF00FFL))
      val m2 = m1.bitwiseOR(shiftleft(m1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val m3 = m2.bitwiseOR(shiftleft(m2, 2)).bitwiseAND(lit(0x33333333L))
      m3.bitwiseOR(shiftleft(m3, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread16(qx).bitwiseOR(shiftleft(spread16(qy), 1))
  }

  /** Inverse of [[mortonCol]] (driver-side): extracts (qx, qy) from a key —
    * what a bbox-query planner uses to turn tile prefixes back into grid
    * ranges when building file-skip predicates.
    */
  def mortonDecode(key: Long): (Long, Long) = {
    def compact(v0: Long): Long = {
      var v = v0 & 0x5555555555555555L
      v = (v | (v >> 1)) & 0x3333333333333333L
      v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v >> 4)) & 0x00FF00FF00FF00FFL
      v = (v | (v >> 8)) & 0x0000FFFF0000FFFFL
      v
    }
    (compact(key), compact(key >> 1))
  }

  private val a11m = QuerySpec(
    "a11m_morton",
    "Z-order (Morton) spatial layout key: 16-bit quantized event coordinates bit-interleaved to a 32-bit sortable key plus its level-8 tile prefix — the range-partitioning key that turns bbox queries into parquet min/max file skips; oracle replays the identical integer bit-spreading chain.",
    Some("""WITH q AS (SELECT event_id,
              CAST(floor(value) AS BIGINT) % 65536 AS qx,
              user_id % 65536 AS qy
              FROM events),
            s1 AS (SELECT event_id, qx, qy,
              ((qx | (qx << 8)) & 16711935) AS sx,
              ((qy | (qy << 8)) & 16711935) AS sy FROM q),
            s2 AS (SELECT event_id, qx, qy,
              ((sx | (sx << 4)) & 252645135) AS sx,
              ((sy | (sy << 4)) & 252645135) AS sy FROM s1),
            s3 AS (SELECT event_id, qx, qy,
              ((sx | (sx << 2)) & 858993459) AS sx,
              ((sy | (sy << 2)) & 858993459) AS sy FROM s2),
            s4 AS (SELECT event_id, qx, qy,
              ((sx | (sx << 1)) & 1431655765) AS sx,
              ((sy | (sy << 1)) & 1431655765) AS sy FROM s3)
            SELECT event_id, qx, qy,
              (sx | (sy << 1)) AS morton,
              ((sx | (sy << 1)) >> 16) AS tile
            FROM s4 ORDER BY event_id"""),
    (s, d) => {
      import s.implicits._
      val qx = (floor($"value").cast(LongType) % 65536L).as("qx")
      val qy = ($"user_id" % 65536L).as("qy")
      Tables.events(s, d)
        .select($"event_id", qx, qy)
        .withColumn("morton", mortonCol($"qx", $"qy"))
        .withColumn("tile", shiftright($"morton", 16))
        .orderBy($"event_id")
    }
  )

  // --------------------------------------------------------------- A11af
  /** Geohash cell id — the third member of the spatial-layout-key family
    * (Morton sorts, Hilbert preserves locality, geohash SHARES: it's the
    * interoperable string key Elasticsearch/Redis/Postgres users exchange,
    * and its prefix property makes "same cell at precision p" a substring
    * test). Mathematically a Morton code in disguise: quantize lon to 20
    * bisection bits and lat to 20, interleave lon-first to a 40-bit key,
    * emit 8 base32 chars (5 bits each, alphabet drops a/i/l/o). Everything
    * is pure Column integer/IEEE arithmetic inside whole-stage codegen —
    * the quantization is one add/div/mul/floor chain per axis (exact same
    * IEEE ops on both engines), the interleave reuses [[mortonCol]]'s
    * magic-number spreading widened to 64-bit, and the char lookup is
    * eight element_at's on a 32-entry array literal.
    */
  private val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  def geohashCol(lon: Column, lat: Column): Column = {
    // 20 bisection bits per axis == floor of the scaled unit position;
    // out-of-range input clamps into the first/last cell (lon=180 edge
    // included) so the key is total — negative bits would corrupt the
    // interleave
    val qlon = greatest(
      least(floor((lon + 180.0) / 360.0 * 1048576.0).cast(LongType), lit(1048575L)), lit(0L))
    val qlat = greatest(
      least(floor((lat + 90.0) / 180.0 * 1048576.0).cast(LongType), lit(1048575L)), lit(0L))
    geohashFromKey(geohashKeyCol(qlon, qlat))
  }

  /** 40-bit interleaved key (lon bits at odd positions from bit 39 down —
    * geohash emits the lon bit FIRST). Exposed separately so the key can
    * serve as a numeric sort/range-partition column while the string form
    * serves interop.
    */
  def geohashKeyCol(qlon: Column, qlat: Column): Column = {
    def spread(v0: Column): Column = {
      val m1 = v0.bitwiseOR(shiftleft(v0, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      val m2 = m1.bitwiseOR(shiftleft(m1, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      val m3 = m2.bitwiseOR(shiftleft(m2, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      val m4 = m3.bitwiseOR(shiftleft(m3, 2)).bitwiseAND(lit(0x3333333333333333L))
      m4.bitwiseOR(shiftleft(m4, 1)).bitwiseAND(lit(0x5555555555555555L))
    }
    spread(qlat).bitwiseOR(shiftleft(spread(qlon), 1))
  }

  private def geohashFromKey(key: Column): Column = {
    val alpha = array(GeohashAlphabet.map(c => lit(c.toString)): _*)
    concat((0 until 8).map { k =>
      element_at(alpha,
        (shiftright(key, 35 - 5 * k).bitwiseAND(lit(31L)) + 1L).cast(IntegerType))
    }: _*)
  }

  /** Driver-side inverse (geohash string → cell bbox) — the bbox-planner
    * piece, symmetric to [[mortonDecode]]/[[hilbertDecode]]. Accepts any
    * prefix length ≤ 12.
    */
  def geohashDecode(gh: String): (Double, Double, Double, Double) = {
    var lonMin = -180.0; var lonMax = 180.0
    var latMin = -90.0; var latMax = 90.0
    var lonTurn = true
    gh.foreach { c =>
      val v = GeohashAlphabet.indexOf(c)
      require(v >= 0, s"not a geohash char: $c")
      (4 to 0 by -1).foreach { b =>
        val bit = (v >> b) & 1
        if (lonTurn) {
          val mid = (lonMin + lonMax) / 2
          if (bit == 1) lonMin = mid else lonMax = mid
        } else {
          val mid = (latMin + latMax) / 2
          if (bit == 1) latMin = mid else latMax = mid
        }
        lonTurn = !lonTurn
      }
    }
    (lonMin, latMin, lonMax, latMax)
  }

  /** The spreading chain as SQL CTEs over 64-bit BIGINTs — the a11m
    * discipline widened: identical masks, identical shifts, so the oracle
    * replays the key bit for bit; the base32 chars are eight substr's on
    * the alphabet literal.
    */
  private def geohashOracle: String = {
    val chars = (0 until 8).map { k =>
      s"substr('$GeohashAlphabet', CAST(((key >> ${35 - 5 * k}) & 31) AS INTEGER) + 1, 1)"
    }.mkString(" || ")
    s"""WITH pt AS (SELECT event_id,
              CAST(user_id % 360 AS DOUBLE) - 180.0 + 0.5 AS lon,
              CAST(CAST(floor(value) AS BIGINT) % 180 AS DOUBLE) - 90.0 + 0.25 AS lat
              FROM events),
            q AS (SELECT event_id, lon, lat,
              GREATEST(LEAST(CAST(floor(((lon + 180.0) / 360.0) * 1048576.0) AS BIGINT), 1048575), 0) AS qlon,
              GREATEST(LEAST(CAST(floor(((lat + 90.0) / 180.0) * 1048576.0) AS BIGINT), 1048575), 0) AS qlat
              FROM pt),
            sx1 AS (SELECT event_id, lon, lat, qlat,
              ((qlon | (qlon << 16)) & 281470681808895) AS m FROM q),
            sx2 AS (SELECT event_id, lon, lat, qlat,
              ((m | (m << 8)) & 71777214294589695) AS m FROM sx1),
            sx3 AS (SELECT event_id, lon, lat, qlat,
              ((m | (m << 4)) & 1085102592571150095) AS m FROM sx2),
            sx4 AS (SELECT event_id, lon, lat, qlat,
              ((m | (m << 2)) & 3689348814741910323) AS m FROM sx3),
            sx5 AS (SELECT event_id, lon, lat, qlat,
              ((m | (m << 1)) & 6148914691236517205) AS sx FROM sx4),
            sy1 AS (SELECT event_id, lon, lat, sx,
              ((qlat | (qlat << 16)) & 281470681808895) AS m FROM sx5),
            sy2 AS (SELECT event_id, lon, lat, sx,
              ((m | (m << 8)) & 71777214294589695) AS m FROM sy1),
            sy3 AS (SELECT event_id, lon, lat, sx,
              ((m | (m << 4)) & 1085102592571150095) AS m FROM sy2),
            sy4 AS (SELECT event_id, lon, lat, sx,
              ((m | (m << 2)) & 3689348814741910323) AS m FROM sy3),
            sy5 AS (SELECT event_id, lon, lat, sx,
              ((m | (m << 1)) & 6148914691236517205) AS sy FROM sy4),
            keyed AS (SELECT event_id, lon, lat, (sy | (sx << 1)) AS key FROM sy5)
            SELECT event_id, lon, lat, key AS gh_key, $chars AS geohash
            FROM keyed ORDER BY event_id"""
  }

  private val a11af = QuerySpec(
    "a11af_geohash",
    "Geohash-8 cell id (the interop member of the layout-key family next to a11m Morton / a11ab Hilbert): 20 bisection bits per axis from one exact IEEE chain, 64-bit magic-number interleave lon-first, eight base32 chars; oracle replays the identical mask/shift chain and substr alphabet lookups.",
    Some(geohashOracle),
    (s, d) => {
      import s.implicits._
      val lon = ($"user_id" % 360L).cast(DoubleType) - 180.0 + 0.5
      val lat = (floor($"value").cast(LongType) % 180L).cast(DoubleType) - 90.0 + 0.25
      val qlon = greatest(
        least(floor((lon + 180.0) / 360.0 * 1048576.0).cast(LongType), lit(1048575L)), lit(0L))
      val qlat = greatest(
        least(floor((lat + 90.0) / 180.0 * 1048576.0).cast(LongType), lit(1048575L)), lit(0L))
      Tables.events(s, d)
        .select($"event_id", lon.as("lon"), lat.as("lat"),
          geohashKeyCol(qlon, qlat).as("gh_key"))
        .withColumn("geohash", geohashFromKey($"gh_key"))
        .orderBy($"event_id")
    }
  )

  // --------------------------------------------------------------- A11ab
  /** Order-16 Hilbert curve key over the same quantized grid as
    * [[mortonCol]] — one codegen'd expression node
    * ([[org.apache.spark.sql.graftbridge.HilbertIndex]]; the stateful
    * 16-level rotation walk would multiply into a ~4¹⁶-node Column tree
    * unrolled). Consecutive keys are always 4-adjacent cells, so a bbox
    * decomposes into fewer, longer key ranges than Morton → fewer
    * row-group seeks when the table is range-partitioned by the key.
    */
  def hilbertCol(qx: Column, qy: Column): Column =
    org.apache.spark.sql.graftbridge.HilbertIndex.hilbertF(qx, qy)

  /** Driver-side inverse (curve position → grid cell), the bbox-planner
    * piece — symmetric to [[mortonDecode]].
    */
  def hilbertDecode(d: Long): (Long, Long) =
    org.apache.spark.sql.graftbridge.HilbertIndex.d2xy(d)

  /** The xy2d walk as 16 chained integer CTEs (h1..h16), one per level
    * s = 2¹⁵…1: d += s²·((3·rx) xor ry), then the conditional lower-quadrant
    * rotation — every step is exact BIGINT arithmetic, so the oracle
    * replays the expression bit for bit.
    */
  private def hilbertCtes: String =
    (0 until 16).map { i =>
      val s = 32768L >> i
      s"""h${i + 1} AS (SELECT event_id, qx, qy,
         |              d + CAST(${s * s} AS BIGINT) *
         |                xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
         |                    (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)) AS d,
         |              CASE WHEN (y & $s) = 0
         |                   THEN (CASE WHEN (x & $s) > 0 THEN ${s - 1} - y ELSE y END)
         |                   ELSE x END AS x,
         |              CASE WHEN (y & $s) = 0
         |                   THEN (CASE WHEN (x & $s) > 0 THEN ${s - 1} - x ELSE x END)
         |                   ELSE y END AS y
         |            FROM h$i)""".stripMargin
    }.mkString(",\n            ")

  private val a11ab = QuerySpec(
    "a11ab_hilbert",
    "Hilbert-curve spatial layout key on the 16-bit quantized event grid (order-16 xy2d, native codegen expression) plus its 65536-cell curve-segment prefix; locality-preserving alternative to a11m_morton — consecutive keys are always 4-adjacent cells, so bboxes decompose into fewer key ranges at 100 TB.",
    Some(s"""WITH q AS (SELECT event_id,
              CAST(floor(value) AS BIGINT) % 65536 AS qx,
              user_id % 65536 AS qy
              FROM events),
            h0 AS (SELECT event_id, qx, qy, qx AS x, qy AS y,
                     CAST(0 AS BIGINT) AS d FROM q),
            $hilbertCtes
            SELECT event_id, qx, qy, d AS hilbert, (d >> 16) AS hseg
            FROM h16 ORDER BY event_id"""),
    (s, d) => {
      import s.implicits._
      val qx = (floor($"value").cast(LongType) % 65536L).as("qx")
      val qy = ($"user_id" % 65536L).as("qy")
      Tables.events(s, d)
        .select($"event_id", qx, qy)
        .withColumn("hilbert", hilbertCol($"qx", $"qy"))
        .withColumn("hseg", shiftright($"hilbert", 16))
        .orderBy($"event_id")
    }
  )

  // ---------------------------------------------------------------- A11n
  /** No oracle by design: the hull vertex chain is not SQL-replayable
    * (monotone-chain stack discipline); HullSpec pins planted shapes,
    * degenerate cases, and partition invariance; the driver's rows-only
    * check still pins cardinality. Coordinates are quantized to the 0.01
    * grid as exact integers, so every cross product and the doubled
    * shoelace area are exact Longs — bit-identical on any partitioning.
    */
  /** Oracle (r10): the output is two INTEGER invariants of the strict
    * convex hull (vertex count, exact doubled shoelace area), and the
    * strict hull vertex set is unique — so the oracle may use a
    * DIFFERENT algorithm than the engine's monotone chain. It walks a
    * Jarvis march (recursive CTE, one vectorized anti-join scan per hull
    * vertex — ~h iterations, not ~2m like a stack-machine replay of the
    * chain, which measured 130+ s in DuckDB): next vertex = the point
    * with every other point strictly left of cur→q, farthest-wins on
    * collinear so interior collinear points drop exactly like the
    * chain's `cross <= 0` pops. All comparisons are exact BIGINT cross
    * products on the same 0.01-grid integers the engine aggregates, so
    * algorithm choice cannot change a single bit of the outputs.
    */
  private def a11nOracle: String =
    """WITH RECURSIVE
      |raw AS (SELECT event_type AS grp,
      |    CAST(round(value * 100) AS BIGINT) AS x, user_id * 100 AS y
      |  FROM events),
      |np AS (SELECT grp, COUNT(*) AS n_points FROM raw GROUP BY grp),
      |dpts AS (SELECT DISTINCT grp, x, y FROM raw),
      |mm AS (SELECT grp, COUNT(*) AS m FROM dpts GROUP BY grp),
      |st0 AS (SELECT grp, min(struct_pack(a := x, b := y)) AS s FROM dpts GROUP BY grp),
      |start AS (SELECT grp, s.a AS sx, s.b AS sy FROM st0),
      |walk(grp, cx, cy, sx, sy, hull, done) AS (
      |  SELECT grp, sx, sy, sx, sy, [struct_pack(x := sx, y := sy)], FALSE FROM start
      |  UNION ALL
      |  SELECT w.grp, q.x, q.y, w.sx, w.sy,
      |    CASE WHEN q.x = w.sx AND q.y = w.sy THEN w.hull
      |         ELSE list_append(w.hull, struct_pack(x := q.x, y := q.y)) END,
      |    (q.x = w.sx AND q.y = w.sy)
      |  FROM walk w JOIN dpts q
      |    ON q.grp = w.grp AND (q.x <> w.cx OR q.y <> w.cy)
      |  WHERE NOT w.done AND NOT EXISTS (
      |    SELECT 1 FROM dpts r
      |    WHERE r.grp = w.grp AND (r.x <> w.cx OR r.y <> w.cy)
      |      AND (r.x <> q.x OR r.y <> q.y)
      |      AND ((q.x - w.cx) * (r.y - w.cy) - (q.y - w.cy) * (r.x - w.cx) < 0
      |        OR ((q.x - w.cx) * (r.y - w.cy) - (q.y - w.cy) * (r.x - w.cx) = 0
      |          AND (q.x - w.cx) * (r.x - w.cx) + (q.y - w.cy) * (r.y - w.cy)
      |              > (q.x - w.cx) * (q.x - w.cx) + (q.y - w.cy) * (q.y - w.cy))))),
      |hullf AS (SELECT grp, hull FROM walk WHERE done),
      |res AS (
      |  SELECT mm.grp,
      |    COALESCE(len(h.hull), 1) AS n_hull,
      |    CAST(CASE WHEN COALESCE(len(h.hull), 1) < 3 THEN 0 ELSE abs((
      |      SELECT SUM(h.hull[k].x * h.hull[(k % len(h.hull)) + 1].y
      |               - h.hull[(k % len(h.hull)) + 1].x * h.hull[k].y)
      |      FROM unnest(range(1, len(h.hull) + 1)) t(k))) END AS BIGINT) AS area2
      |  FROM mm LEFT JOIN hullf h ON h.grp = mm.grp)
      |SELECT np.grp AS event_type, np.n_points,
      |  CAST(r.n_hull AS INTEGER) AS n_hull, r.area2
      |FROM np JOIN res r ON r.grp = np.grp
      |ORDER BY event_type""".stripMargin
  private val a11n = QuerySpec(
    "a11n_hull",
    "Per-event-type convex hull (mergeable monotone-chain aggregate, state = hull not group): vertex count and exact integer doubled area over 0.01-grid quantized event coordinates. Oracle computes the SAME unique strict hull by Jarvis march (recursive CTE, integer cross products) — algorithm-independent integer invariants hash-match.",
    Some(a11nOracle),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_type",
          array(round($"value" * 100).cast(LongType),
            ($"user_id" * 100L).cast(LongType)).as("xy"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_points"), graft.functions.Hull.hullAgg($"xy").as("h"))
        .select($"event_type", $"n_points", $"h.n_hull".as("n_hull"),
          $"h.area2".as("area2"))
        .orderBy($"event_type")
    }
  )

  // ---------------------------------------------------------------- A11q
  /** EWKB SRID surface (previously consumed-and-discarded by the WKB
    * header parser): build per-row point EWKB carrying an SRID, read it
    * back with the [[Wkb.srid]]/[[Wkb.setSrid]] pair. The oracle replays
    * the srid arithmetic and the untouched x ordinate directly — it never
    * sees the bytes; the header write/parse roundtrip is the engine-side
    * subject under test (the a11h WKT-roundtrip pattern). Map-side only.
    */
  private val sridPointUdf: UserDefinedFunction =
    udf { (x: Double, y: Double, srid: Int) => Wkb.setSrid(Wkb.point(x, y), srid) }
  private val geomTypeUdf: UserDefinedFunction = udf { (b: Array[Byte]) => Wkb.geomType(b) }
  private val a11q = QuerySpec(
    "a11q_srid",
    "EWKB SRID roundtrip: point EWKB written with SRID 4326 + event_id % 3, then geom_srid / geom_type / bbox-x read back from the bytes; oracle replays the srid arithmetic and the pass-through ordinate.",
    Some("""SELECT event_id,
              CAST(4326 + event_id % 3 AS BIGINT) AS srid,
              'POINT' AS gtype, value AS px
            FROM events ORDER BY event_id"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id", $"value",
          // `%` (not pmod) — matches the oracle's DuckDB `%` (sign of
          // dividend) even if a future fixture adds negative ids
          (lit(4326) + ($"event_id" % 3)).cast(IntegerType).as("srid_in"))
        .withColumn("g", sridPointUdf($"value", $"value", $"srid_in"))
        .select($"event_id",
          sridUdf($"g").cast(LongType).as("srid"),
          geomTypeUdf($"g").as("gtype"),
          bboxUdf($"g").getField("xmin").as("px"))
        .orderBy($"event_id")
    }
  )

  // ---------------------------------------------------------------- A11r
  /** CRS reprojection (EPSG:4326 ↔ 3857, [[Wkb.reproject]]): the oracle
    * never sees the bytes — it replays the projection arithmetic on the
    * source lon/lat. The x chain (`lon * π/180 * R`) is pure IEEE
    * multiplication written in the same order both sides, so `x_mm`
    * compares at millimeter quantization bit-exactly; y goes through
    * ln/tan whose last ulp is libm-specific, so `y_km` quantizes to
    * kilometers (flip risk ~1e-12/row, see Wkb.lonLatToMercator note).
    * The inverse roundtrip is asserted ENGINE-side (<1e-9°) and the
    * oracle replays the constant. Map-side only — reprojection at 100 TB
    * is an embarrassingly parallel per-row rewrite.
    */
  private val reprojectUdf: UserDefinedFunction =
    udf { (b: Array[Byte], srid: Int) => Wkb.reproject(b, srid) }
  private val a11r = QuerySpec(
    "a11r_reproject",
    "Web-Mercator reprojection roundtrip: per-row 4326 point EWKB -> 3857 meters -> back; x at mm quantization (exact IEEE replay), y at km (libm-tolerant), inverse checked engine-side to 1e-9 degrees.",
    Some("""WITH c AS (SELECT event_id,
              (value % 300.0) - 150.0 AS lon,
              (value % 120.0) - 60.0 AS lat
            FROM events)
            SELECT event_id,
              CAST(3857 AS BIGINT) AS srid3857,
              CAST(floor(lon * pi() / 180.0 * 6378137.0 * 1000) AS BIGINT) AS x_mm,
              CAST(floor(ln(tan(pi() / 4 + lat * pi() / 360.0)) * 6378137.0 / 1000) AS BIGINT) AS y_km,
              TRUE AS roundtrip_ok
            FROM c ORDER BY event_id"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id",
          // `%` (not pmod) — same negative-value semantics as the
          // oracle's DuckDB `%` (fmod, sign of dividend), so the row
          // can't go red if a future fixture adds negative values
          (($"value" % 300.0) - 150.0).as("lon"),
          (($"value" % 120.0) - 60.0).as("lat"))
        .withColumn("g", reprojectUdf(sridPointUdf($"lon", $"lat", lit(4326)), lit(3857)))
        .withColumn("back", reprojectUdf($"g", lit(4326)))
        .select($"event_id",
          sridUdf($"g").cast(LongType).as("srid3857"),
          floor(bboxUdf($"g").getField("xmin") * 1000).cast(LongType).as("x_mm"),
          floor(bboxUdf($"g").getField("ymin") / 1000).cast(LongType).as("y_km"),
          (abs(bboxUdf($"back").getField("xmin") - $"lon") < 1e-9 &&
            abs(bboxUdf($"back").getField("ymin") - $"lat") < 1e-9).as("roundtrip_ok"))
        .orderBy($"event_id")
    }
  )

  // ---------------------------------------------------------------- A11s
  /** UTM reprojection (EPSG:4326 ↔ 32632, [[Wkb.lonLatToUtm]] Krüger
    * series): the oracle replays the FORWARD series arithmetic in SQL —
    * generated from the engine's own constants ([[Wkb.utmConstants]], the
    * dotChain pattern) with hyperbolics written as exp/ln so only
    * baseline DuckDB math functions are needed. The two libms disagree in
    * the last ulp (~1e-9 m at E≈5e5), so easting/northing quantize at
    * meter grain (floor flip risk ~1e-9/row); the inverse roundtrip is
    * asserted ENGINE-side (<1e-9°, the n⁴-series headroom) and the oracle
    * replays the constant. Map-side only — same 100 TB posture as a11r.
    */
  private val a11s: QuerySpec = {
    val (k0a, e2p, al) = graft.functions.Wkb.utmConstants
    val Seq(a1, a2, a3, a4) = al
    val sql =
      s"""WITH c AS (SELECT event_id,
              6.05 + (value % 5.9) AS lon,
              (value % 150.0) - 75.0 AS lat
            FROM events),
          p AS (SELECT event_id,
              lat * pi() / 180.0 AS phi,
              (lon - 9.0) * pi() / 180.0 AS lam
            FROM c),
          s1 AS (SELECT event_id, lam, sin(phi) AS sphi FROM p),
          s2 AS (SELECT event_id, lam,
              0.5*ln((1.0+sphi)/(1.0-sphi))
                - $e2p * 0.5*ln((1.0+$e2p*sphi)/(1.0-$e2p*sphi)) AS q
            FROM s1),
          s3 AS (SELECT event_id, lam, (exp(q)-exp(-q))/2.0 AS t FROM s2),
          s4 AS (SELECT event_id,
              atan2(t, cos(lam)) AS xip,
              ln(sin(lam)/sqrt(t*t+cos(lam)*cos(lam))
                 + sqrt(sin(lam)*sin(lam)/(t*t+cos(lam)*cos(lam)) + 1.0)) AS etap
            FROM s3),
          s5 AS (SELECT event_id,
              xip + $a1*sin(2.0*xip)*(exp(2.0*etap)+exp(-2.0*etap))/2.0
                  + $a2*sin(4.0*xip)*(exp(4.0*etap)+exp(-4.0*etap))/2.0
                  + $a3*sin(6.0*xip)*(exp(6.0*etap)+exp(-6.0*etap))/2.0
                  + $a4*sin(8.0*xip)*(exp(8.0*etap)+exp(-8.0*etap))/2.0 AS xi,
              etap + $a1*cos(2.0*xip)*(exp(2.0*etap)-exp(-2.0*etap))/2.0
                   + $a2*cos(4.0*xip)*(exp(4.0*etap)-exp(-4.0*etap))/2.0
                   + $a3*cos(6.0*xip)*(exp(6.0*etap)-exp(-6.0*etap))/2.0
                   + $a4*cos(8.0*xip)*(exp(8.0*etap)-exp(-8.0*etap))/2.0 AS eta
            FROM s4)
          SELECT event_id,
            CAST(32632 AS BIGINT) AS srid_utm,
            CAST(floor(500000.0 + $k0a * eta) AS BIGINT) AS e_m,
            CAST(floor($k0a * xi) AS BIGINT) AS n_m,
            TRUE AS roundtrip_ok
          FROM s5 ORDER BY event_id"""
    QuerySpec(
      "a11s_utm",
      "WGS84 UTM zone 32N reprojection roundtrip (Krüger n^4 series): per-row 4326 point EWKB -> 32632 easting/northing -> back; E/N at meter quantization against an oracle replaying the forward series (generated from the engine's constants, exp/ln hyperbolics); inverse checked engine-side to 1e-9 degrees.",
      Some(sql),
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_id",
            (lit(6.05) + ($"value" % 5.9)).as("lon"),
            (($"value" % 150.0) - 75.0).as("lat"))
          .withColumn("g", reprojectUdf(sridPointUdf($"lon", $"lat", lit(4326)), lit(32632)))
          .withColumn("back", reprojectUdf($"g", lit(4326)))
          .select($"event_id",
            sridUdf($"g").cast(LongType).as("srid_utm"),
            floor(bboxUdf($"g").getField("xmin")).cast(LongType).as("e_m"),
            floor(bboxUdf($"g").getField("ymin")).cast(LongType).as("n_m"),
            (abs(bboxUdf($"back").getField("xmin") - $"lon") < 1e-9 &&
              abs(bboxUdf($"back").getField("ymin") - $"lat") < 1e-9).as("roundtrip_ok"))
          .orderBy($"event_id")
      }
    )
  }

  // --------------------------------------------------------------- A11aj
  /** Lambert-conformal-conic reprojection (EPSG:4326 ↔ 2154 Lambert-93,
    * [[graft.functions.Crs.Lambert93]]) — the parameterized-CRS-registry
    * flagship (VERDICT r12 missing #3): a French national grid a real
    * geodata user hits right after UTM. The oracle replays the FORWARD
    * 2-SP chain op-for-op from the engine's own derived constants
    * ([[graft.functions.Crs.Lcc2Sp.replayConstants]], the a11s dotChain
    * pattern) with pow written as exp/ln so only baseline DuckDB math is
    * needed; E/N quantize at meter grain (libm last-ulp flip risk
    * ~1e-10/row, the a11s precedent) and the fixed-8-iteration inverse
    * roundtrip is asserted ENGINE-side to 1e-9°. Map-side only — same
    * 100 TB posture as a11r/a11s.
    */
  private val a11aj: QuerySpec = {
    val (ecc, cn, aF, rho0, lon0, fe, fn) =
      graft.functions.Crs.Lambert93.replayConstants
    val sql =
      s"""WITH c AS (SELECT event_id,
              -4.0 + (value % 11.5) AS lon,
              42.2 + (value % 8.6) AS lat
            FROM events),
          p AS (SELECT event_id,
              lat * pi() / 180.0 AS phi,
              $cn * ((lon - $lon0) * pi() / 180.0) AS th
            FROM c),
          s1 AS (SELECT event_id, th, sin(phi) AS sphi,
              tan(pi()/4.0 - phi/2.0) AS tb FROM p),
          s2 AS (SELECT event_id, th,
              tb * exp(-($ecc/2.0) * ln((1.0 - $ecc*sphi)/(1.0 + $ecc*sphi))) AS t
            FROM s1),
          s3 AS (SELECT event_id, th, $aF * exp($cn * ln(t)) AS rho FROM s2)
          SELECT event_id,
            CAST(2154 AS BIGINT) AS srid_lcc,
            CAST(floor($fe + rho * sin(th)) AS BIGINT) AS e_m,
            CAST(floor($fn + $rho0 - rho * cos(th)) AS BIGINT) AS n_m,
            TRUE AS roundtrip_ok
          FROM s3 ORDER BY event_id"""
    QuerySpec(
      "a11aj_lcc",
      "Lambert-93 (EPSG:2154) LCC reprojection roundtrip via the parameterized CRS registry: per-row 4326 point EWKB -> 2154 easting/northing -> back; E/N at meter quantization against an oracle replaying the 2-SP forward chain from the engine's derived constants; fixed-8-iteration inverse checked engine-side to 1e-9 degrees.",
      Some(sql),
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_id",
            (lit(-4.0) + ($"value" % 11.5)).as("lon"),
            (lit(42.2) + ($"value" % 8.6)).as("lat"))
          .withColumn("g", reprojectUdf(sridPointUdf($"lon", $"lat", lit(4326)), lit(2154)))
          .withColumn("back", reprojectUdf($"g", lit(4326)))
          .select($"event_id",
            sridUdf($"g").cast(LongType).as("srid_lcc"),
            floor(bboxUdf($"g").getField("xmin")).cast(LongType).as("e_m"),
            floor(bboxUdf($"g").getField("ymin")).cast(LongType).as("n_m"),
            (abs(bboxUdf($"back").getField("xmin") - $"lon") < 1e-9 &&
              abs(bboxUdf($"back").getField("ymin") - $"lat") < 1e-9).as("roundtrip_ok"))
          .orderBy($"event_id")
      }
    )
  }

  // --------------------------------------------------------------- A11au
  /** Albers equal-area conic reprojection (EPSG:4326 ↔ 5070 Conus
    * Albers, [[graft.functions.Crs.ConusAlbers]]) — the equal-area
    * sibling of [[a11aj]] (VERDICT r13 directive #4): same cone
    * machinery, but the radius chain runs through the authalic q(φ)
    * instead of the conformal t(φ), so the oracle's replay swaps the
    * exp/ln pow for a single sqrt. Constants come from the engine's own
    * derivation ([[graft.functions.Crs.AlbersEqArea.replayConstants]],
    * the a11s dotChain pattern); E/N quantize at meter grain and the
    * fixed-8-iteration authalic-latitude inverse (Snyder 3-16 Newton
    * steps) is asserted ENGINE-side to 1e-9°. Map-side only — same
    * 100 TB posture as a11r/a11s/a11aj.
    */
  private val a11au: QuerySpec = {
    val (ecc, cn, bigC, aAx, rho0, lon0, fe, fn) =
      graft.functions.Crs.ConusAlbers.replayConstants
    val e2 = ecc * ecc
    val sql =
      s"""WITH c AS (SELECT event_id,
              -120.0 + (value % 44.0) AS lon,
              25.3 + (value % 23.4) AS lat
            FROM events),
          p AS (SELECT event_id,
              lat * pi() / 180.0 AS phi,
              $cn * ((lon - $lon0) * pi() / 180.0) AS th
            FROM c),
          s1 AS (SELECT event_id, th, sin(phi) AS sphi FROM p),
          s2 AS (SELECT event_id, th,
              (1.0 - $e2) * (sphi / (1.0 - $e2 * sphi * sphi)
                - (1.0 / (2.0 * $ecc))
                  * ln((1.0 - $ecc * sphi) / (1.0 + $ecc * sphi))) AS q
            FROM s1),
          s3 AS (SELECT event_id, th,
              $aAx * sqrt($bigC - $cn * q) / $cn AS rho FROM s2)
          SELECT event_id,
            CAST(5070 AS BIGINT) AS srid_albers,
            CAST(floor($fe + rho * sin(th)) AS BIGINT) AS e_m,
            CAST(floor($fn + $rho0 - rho * cos(th)) AS BIGINT) AS n_m,
            TRUE AS roundtrip_ok
          FROM s3 ORDER BY event_id"""
    QuerySpec(
      "a11au_albers",
      "Conus Albers (EPSG:5070) equal-area reprojection roundtrip via the parameterized CRS registry: per-row 4326 point EWKB -> 5070 easting/northing -> back; E/N at meter quantization against an oracle replaying the authalic-q forward chain from the engine's derived constants; fixed-8-iteration Newton inverse checked engine-side to 1e-9 degrees.",
      Some(sql),
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_id",
            (lit(-120.0) + ($"value" % 44.0)).as("lon"),
            (lit(25.3) + ($"value" % 23.4)).as("lat"))
          .withColumn("g", reprojectUdf(sridPointUdf($"lon", $"lat", lit(4326)), lit(5070)))
          .withColumn("back", reprojectUdf($"g", lit(4326)))
          .select($"event_id",
            sridUdf($"g").cast(LongType).as("srid_albers"),
            floor(bboxUdf($"g").getField("xmin")).cast(LongType).as("e_m"),
            floor(bboxUdf($"g").getField("ymin")).cast(LongType).as("n_m"),
            (abs(bboxUdf($"back").getField("xmin") - $"lon") < 1e-9 &&
              abs(bboxUdf($"back").getField("ymin") - $"lat") < 1e-9).as("roundtrip_ok"))
          .orderBy($"event_id")
      }
    )
  }

  // ---------------------------------------------------------------- A11t
  /** Slippy-map tile aggregation at a fixed zoom — the vector-tile
    * pre-aggregation a geodata-serving pipeline runs before rendering:
    * tile_x = floor((lon+180)/360·2^z), tile_y from the Web-Mercator y
    * (ln(tan φ + sec φ) form), then per-tile count / first-id / exact
    * cents sum. tile_x is pure +,·,/ arithmetic (bit-identical across
    * engines); tile_y's ln/tan/sec chain differs in the last libm ulp, so
    * the floor's flip risk is ~1e-14/row (the a11r y_km precedent).
    * Scale: map-side tile key, ONE shuffle on (tx, ty), partial
    * aggregation; tile skew is controlled by the zoom choice.
    */
  private val TileZoomN = 64.0 // zoom 6 → 64×64 tiles
  private val a11t = QuerySpec(
    "a11t_tilestats",
    "Slippy-map tile aggregation (zoom 6): per-tile feature count, first event_id, exact integer cents sum; tile keys from the standard Web-Mercator tile formulas, one shuffle on the tile key.",
    Some("""WITH c AS (SELECT event_id, value,
              (value % 300.0) - 150.0 AS lon,
              (value % 160.0) - 80.0 AS lat
            FROM events),
          t AS (SELECT event_id, value,
              CAST(floor((lon + 180.0) / 360.0 * 64.0) AS BIGINT) AS tx,
              CAST(floor((1.0 - ln(tan(lat*pi()/180.0) + 1.0/cos(lat*pi()/180.0))/pi()) / 2.0 * 64.0) AS BIGINT) AS ty
            FROM c)
          SELECT tx, ty, COUNT(*) AS n, MIN(event_id) AS first_id,
            CAST(SUM(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
          FROM t GROUP BY tx, ty ORDER BY tx, ty"""),
    (s, d) => {
      import s.implicits._
      val lon = ($"value" % 300.0) - 150.0
      val lat = ($"value" % 160.0) - 80.0
      val phi = lat * math.Pi / 180.0
      Tables.events(s, d)
        .select($"event_id", $"value",
          floor((lon + 180.0) / 360.0 * TileZoomN).cast(LongType).as("tx"),
          floor((lit(1.0) - log(tan(phi) + lit(1.0) / cos(phi)) / math.Pi) / 2.0 * TileZoomN)
            .cast(LongType).as("ty"))
        .groupBy($"tx", $"ty")
        .agg(count(lit(1)).as("n"), min($"event_id").as("first_id"),
          sum(floor($"value" * 100.0).cast(LongType)).cast(LongType).as("cents"))
        .orderBy($"tx", $"ty")
    }
  )

  // ---------------------------------------------------------------- A11v
  /** Tile-pyramid rollup — the multi-zoom aggregation a map-serving
    * pipeline runs after [[a11t]]'s single-zoom pass: base zoom-6 tile
    * aggregates are rolled up to zooms 6..3 by INTEGER parent derivation
    * (`tx div 2^(6-z)` — a zoom-z tile's children are exactly the 2×2
    * block below it), so each coarser level sums its children's already-
    * exact integers. The fact table is scanned ONCE for the base level;
    * the pyramid is built from the base aggregate (|tiles| rows, not
    * |events|), which is why the explode-then-regroup costs O(levels ·
    * tiles), never O(levels · events). All-integer sums ⇒ rollup order
    * is immaterial and the oracle replays exact values.
    */
  private val a11v = QuerySpec(
    "a11v_tile_pyramid",
    "Tile-pyramid rollup: zoom-6 base tiles rolled up to zooms 6..3 via integer parent division; per (z, tx, ty) count + exact cents; one fact scan, pyramid built from the base aggregate.",
    Some("""WITH c AS (SELECT event_id, value,
              (value % 300.0) - 150.0 AS lon,
              (value % 160.0) - 80.0 AS lat
            FROM events),
          t AS (SELECT value,
              CAST(floor((lon + 180.0) / 360.0 * 64.0) AS BIGINT) AS tx,
              CAST(floor((1.0 - ln(tan(lat*pi()/180.0) + 1.0/cos(lat*pi()/180.0))/pi()) / 2.0 * 64.0) AS BIGINT) AS ty
            FROM c),
          base AS (SELECT tx, ty, COUNT(*) AS n,
              CAST(SUM(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
            FROM t GROUP BY tx, ty),
          z AS (SELECT CAST(z AS BIGINT) AS z FROM generate_series(3, 6) AS g(z)),
          p AS (SELECT z.z,
              base.tx // CAST(pow(2, 6 - z.z) AS BIGINT) AS px,
              base.ty // CAST(pow(2, 6 - z.z) AS BIGINT) AS py,
              base.n, base.cents
            FROM base CROSS JOIN z)
          SELECT z, px AS tx, py AS ty, CAST(SUM(n) AS BIGINT) AS n,
            CAST(SUM(cents) AS BIGINT) AS cents
          FROM p GROUP BY z, px, py ORDER BY z, tx, ty"""),
    (s, d) => {
      import s.implicits._
      val lon = ($"value" % 300.0) - 150.0
      val lat = ($"value" % 160.0) - 80.0
      val phi = lat * math.Pi / 180.0
      val base = Tables.events(s, d)
        .select($"value",
          floor((lon + 180.0) / 360.0 * TileZoomN).cast(LongType).as("tx"),
          floor((lit(1.0) - log(tan(phi) + lit(1.0) / cos(phi)) / math.Pi) / 2.0 * TileZoomN)
            .cast(LongType).as("ty"))
        .groupBy($"tx", $"ty")
        .agg(count(lit(1)).as("n"),
          sum(floor($"value" * 100.0).cast(LongType)).cast(LongType).as("cents"))
      base
        .withColumn("z", explode(array((3 to 6).map(i => lit(i.toLong)): _*)))
        .select($"z", expr("tx div cast(pow(2, 6 - z) as bigint)").as("px"),
          expr("ty div cast(pow(2, 6 - z) as bigint)").as("py"), $"n", $"cents")
        .groupBy($"z", $"px", $"py")
        .agg(sum($"n").as("n"), sum($"cents").as("cents"))
        .select($"z", $"px".as("tx"), $"py".as("ty"), $"n", $"cents")
        .orderBy($"z", $"tx", $"ty")
    }
  )

  // ---------------------------------------------------------------- A11u
  /** Geodesic (ellipsoidal) distance — [[Wkb.geodesicMeters]], Vincenty
    * inverse with a FIXED iteration count so the oracle can replay the
    * whole computation stage-for-stage: the generated SQL unrolls each
    * λ-round as a CTE chain mirroring the engine's arithmetic order,
    * with ellipsoid constants interpolated from the engine's own values
    * (the a11s discipline). Distances quantize at meter grain — the two
    * libms disagree in the last ulps of sin/cos/atan2, which after the
    * ~45-op chain is ~1e-9 m of divergence against a 1 m floor cell.
    * Map-side only: same 100 TB posture as a11r/a11s.
    */
  private val a11u: QuerySpec = {
    val (wa, wb, f, iters) = graft.functions.Wkb.geodConstants
    val aabb = wa * wa - wb * wb
    val bb2 = wb * wb
    // one λ-round: recompute intermediates from it(i-1).lam, update lam.
    // Stage names are per-iteration so `SELECT *` never collides.
    def round(i: Int): String =
      s"""w$i AS (SELECT event_id, bigl, su1, cu1, su2, cu2, lam,
            sqrt((cu2*sin(lam))*(cu2*sin(lam))
                 + (cu1*su2 - su1*cu2*cos(lam))*(cu1*su2 - su1*cu2*cos(lam))) AS sinsig,
            su1*su2 + cu1*cu2*cos(lam) AS cossig
          FROM it${i - 1}),
          x$i AS (SELECT *, atan2(sinsig, cossig) AS sigma,
            CASE WHEN sinsig = 0.0 THEN 0.0 ELSE cu1*cu2*sin(lam)/sinsig END AS sina
          FROM w$i),
          y$i AS (SELECT *, 1.0 - sina*sina AS cos2a FROM x$i),
          z$i AS (SELECT *,
            CASE WHEN cos2a = 0.0 THEN 0.0 ELSE cossig - 2.0*su1*su2/cos2a END AS cos2m,
            $f/16.0*cos2a*(4.0 + $f*(4.0 - 3.0*cos2a)) AS c
          FROM y$i),
          it$i AS (SELECT event_id, bigl, su1, cu1, su2, cu2,
            bigl + (1.0-c)*$f*sina*(sigma + c*sinsig*(cos2m + c*cossig*(-1.0 + 2.0*cos2m*cos2m))) AS lam
          FROM z$i)"""
    val sql =
      s"""WITH c0 AS (SELECT event_id,
              (value % 300.0) - 150.0 AS lon1,
              (value % 140.0) - 70.0 AS lat1
            FROM events),
          c1 AS (SELECT event_id, lon1, lat1,
              lon1 + 0.75 AS lon2, lat1 + 0.5 AS lat2 FROM c0),
          u AS (SELECT event_id,
              (lon2 - lon1) * (pi() / 180.0) AS bigl,
              atan((1.0 - $f) * tan(lat1 * (pi() / 180.0))) AS u1,
              atan((1.0 - $f) * tan(lat2 * (pi() / 180.0))) AS u2
            FROM c1),
          it0 AS (SELECT event_id, bigl,
              sin(u1) AS su1, cos(u1) AS cu1, sin(u2) AS su2, cos(u2) AS cu2,
              bigl AS lam
            FROM u),
          ${(1 to iters).map(round).mkString(",\n")},
          fw AS (SELECT event_id, su1, cu1, su2, cu2, lam,
              sqrt((cu2*sin(lam))*(cu2*sin(lam))
                   + (cu1*su2 - su1*cu2*cos(lam))*(cu1*su2 - su1*cu2*cos(lam))) AS sinsig,
              su1*su2 + cu1*cu2*cos(lam) AS cossig
            FROM it$iters),
          fx AS (SELECT *, atan2(sinsig, cossig) AS sigma,
              CASE WHEN sinsig = 0.0 THEN 0.0 ELSE cu1*cu2*sin(lam)/sinsig END AS sina
            FROM fw),
          fy AS (SELECT *, 1.0 - sina*sina AS cos2a FROM fx),
          fz AS (SELECT *,
              CASE WHEN cos2a = 0.0 THEN 0.0 ELSE cossig - 2.0*su1*su2/cos2a END AS cos2m,
              cos2a * $aabb / $bb2 AS u2sq
            FROM fy),
          fa AS (SELECT *,
              1.0 + u2sq/16384.0*(4096.0 + u2sq*(-768.0 + u2sq*(320.0 - 175.0*u2sq))) AS biga,
              u2sq/1024.0*(256.0 + u2sq*(-128.0 + u2sq*(74.0 - 47.0*u2sq))) AS bigb
            FROM fz),
          fd AS (SELECT event_id, sigma,
              bigb*sinsig*(cos2m + bigb/4.0*(cossig*(-1.0 + 2.0*cos2m*cos2m)
                - bigb/6.0*cos2m*(-3.0 + 4.0*sinsig*sinsig)*(-3.0 + 4.0*cos2m*cos2m))) AS dsig,
              biga
            FROM fa)
          SELECT event_id,
            CAST(floor($wb * biga * (sigma - dsig)) AS BIGINT) AS dist_m
          FROM fd ORDER BY event_id"""
    QuerySpec(
      "a11u_geodesic",
      "WGS84 geodesic distance (Vincenty inverse, fixed 6 iterations): per-row point pair ~100 km apart, ellipsoidal meters at floor quantization against an oracle replaying every lambda round stage-for-stage from the engine's own ellipsoid constants.",
      Some(sql),
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_id",
            (($"value" % 300.0) - 150.0).as("lon1"),
            (($"value" % 140.0) - 70.0).as("lat1"))
          .select($"event_id", $"lon1", $"lat1",
            ($"lon1" + 0.75).as("lon2"), ($"lat1" + 0.5).as("lat2"))
          .select($"event_id",
            floor(geodesicUdf(
              sridPointUdf($"lon1", $"lat1", lit(4326)),
              sridPointUdf($"lon2", $"lat2", lit(4326)))).cast(LongType).as("dist_m"))
          .orderBy($"event_id")
      }
    )
  }

  // ---------------------------------------------------------------- A11w
  /** Batch analog of the streaming geofence stage (VERDICT r9 #6): the
    * SAME `FeaturePipeline.geofenceAlerts` join — broadcast fence table,
    * bbox short-circuit, exact even-odd ray cast — driven by a batch
    * frame, so the stream-static operator gets DuckDB oracle exposure the
    * stream harness can't give it (StreamingSpec covers the streaming
    * trigger path; this pins the predicate itself hash-exact).
    *
    * Geometry discipline (the a11c grid trick): fences are L1-ball
    * diamonds centered on (50k, 50k) with odd-hundredth radius 55.13;
    * the test point (value, value) sits on the 0.01 grid, so the L1
    * distance 2·|value − 50k| lies on the EVEN-hundredth grid and an
    * exactly-on-boundary tie is unreachable. Radius > half the 50-unit
    * spacing ⇒ adjacent fences overlap and border points alert TWICE —
    * exercising the one-row-per-fence-hit semantics, not just membership.
    */
  private val a11w: QuerySpec = {
    val nFences = 10
    val spacing = 50.0
    val radius = 55.13
    QuerySpec(
      "a11w_geofence",
      "Batch geofence alerts via the streaming stage's own stream-static join (broadcast fences, bbox short-circuit + even-odd ray cast): one row per (point, fence) containment over overlapping L1-diamond fences; oracle replays the L1-ball arithmetic per fence.",
      Some(s"""SELECT CAST(e.event_id AS VARCHAR) AS event_id, f.fence_id
            FROM events e
            JOIN (SELECT k AS fence_id, $spacing*k AS cx
                  FROM range(0, $nFences) t(k)) f
              ON 2*abs(e.value - f.cx) < $radius
            ORDER BY event_id, fence_id"""),
      (s, d) => {
        import s.implicits._
        val fences = (0 until nFences).map { k =>
          val c = spacing * k
          val ring = Seq((c + radius, c), (c, c + radius),
            (c - radius, c), (c, c - radius), (c + radius, c))
          (k.toLong, Wkb.polygon(Seq(ring)))
        }.toDF("fence_id", "fence_wkb")
        val points = Tables.events(s, d)
          .select($"event_id".cast(StringType).as("event_id"),
            TierA.wkbPointUdf($"value", $"value").as("geom_wkb"))
        graft.streaming.FeaturePipeline.geofenceAlerts(points, fences)
          .select($"event_id", $"fence_id")
          .orderBy($"event_id", $"fence_id")
      }
    )
  }

  // ---------------------------------------------------------------- A11o
  /** Geodesic polygon AREA — the ellipsoid-aware sibling of the planar
    * shoelace (a11g), via the Chamberlain–Duquette spherical-excess
    * formula (the turf.js / PostGIS-geography default for lon/lat rings):
    *   area = |Σ_edges (λ₂ − λ₁)·(2 + sin φ₁ + sin φ₂)| · R²/2
    * on the IUGG mean sphere R = 6371008.8 m. Exact-replay discipline is
    * a11u's: `sin` is the only transcendental and both engines call the
    * same platform libm (proven bit-stable by the UTM/Vincenty oracles);
    * degrees→radians multiplies by the PRECOMPUTED double π/180 (no
    * builtin radians(), whose rounding path is engine-defined); the
    * four edge terms accumulate LEFT-ASSOCIATIVELY in ring order, written
    * with explicit parentheses in both chains; one floor at the declared
    * output. Scale: per-row map-side, no state.
    */
  private val GeoAreaR = 6371008.8
  private val DegRad = math.Pi / 180.0
  private val GeoDiamondR = 1.5
  private[operators] def geodesicDiamondArea(cx: Double, cy: Double): Long = {
    val ring = Array(
      (cx + GeoDiamondR, cy), (cx, cy + GeoDiamondR),
      (cx - GeoDiamondR, cy), (cx, cy - GeoDiamondR))
    var acc = 0.0
    var k = 0
    while (k < 4) {
      val (x1, y1) = ring(k)
      val (x2, y2) = ring((k + 1) % 4)
      acc += (x2 * DegRad - x1 * DegRad) *
        (2.0 + math.sin(y1 * DegRad) + math.sin(y2 * DegRad))
      k += 1
    }
    math.floor(math.abs(acc) * GeoAreaR * GeoAreaR / 2.0).toLong
  }
  private val geoAreaUdf: UserDefinedFunction =
    udf { (cx: Double, cy: Double) => geodesicDiamondArea(cx, cy) }
  private def a11oOracle: String = {
    // the four diamond vertices in ring order; term k spans vertex k → k+1
    val xs = Seq(s"(cx + $GeoDiamondR)", "(cx)", s"(cx - $GeoDiamondR)", "(cx)")
    val ys = Seq("(cy)", s"(cy + $GeoDiamondR)", "(cy)", s"(cy - $GeoDiamondR)")
    val terms = (0 until 4).map { k =>
      val (x1, y1) = (xs(k), ys(k))
      val (x2, y2) = (xs((k + 1) % 4), ys((k + 1) % 4))
      s"(($x2 * $DegRad - $x1 * $DegRad) * (2.0 + sin($y1 * $DegRad) + sin($y2 * $DegRad)))"
    }
    val acc = terms.reduceLeft((a, b) => s"($a + $b)")
    s"""WITH t AS (SELECT CAST(event_id AS VARCHAR) AS feature_id,
       |    2*CAST(user_id % 100 AS DOUBLE) AS cx, value % 60.0 AS cy FROM events)
       |SELECT feature_id,
       |  CAST(floor(abs($acc) * $GeoAreaR * $GeoAreaR / 2.0) AS BIGINT) AS area_m2
       |FROM t ORDER BY feature_id""".stripMargin
  }
  private val a11o = QuerySpec(
    "a11o_geodesic_area",
    s"Geodesic polygon area (Chamberlain-Duquette spherical excess, R = $GeoAreaR m) of a per-event $GeoDiamondR-degree lon/lat diamond — the geography-mode ST_Area; left-associated edge-term fold with precomputed pi/180, sin replayed via the shared libm (the a11u trig discipline), one floor at the output.",
    Some(a11oOracle),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id".cast(StringType).as("feature_id"),
          (lit(2.0) * ($"user_id" % 100).cast(DoubleType)).as("cx"),
          ($"value" % 60.0).as("cy"))
        .select($"feature_id", geoAreaUdf($"cx", $"cy").as("area_m2"))
        .orderBy($"feature_id")
    }
  )

  // --------------------------------------------------------------- A11yy
  /** Polygon dissolve / ST_Union-as-aggregation (VERDICT r11 #2) — the
    * cartography merge step: many polygons per group unioned into one
    * region, reported as grid-snapped EXACT area (distinct covered cells
    * × cell area) plus the cell-envelope. Exact union GEOMETRY is not
    * SQL-replayable (arbitrary boolean ops), but the grid-snapped union
    * MEASURE is: a cell center is in the union iff it is in ANY member,
    * and both engines evaluate the same per-cell membership chain — the
    * a11n_hull "algorithm-independent integer invariants" discipline.
    *
    * Spark-first shape — explode, don't fold: a mergeable Aggregator
    * holding each group's cell SET (the naive ST_Union accumulator)
    * carries state proportional to the union's AREA through every merge;
    * this plan instead explodes each polygon to its covered cells
    * (map-side `sequence`+`explode`, pure codegen, no UDF) and lets ONE
    * partial-agged distinct-count shuffle do the dedup — per-task state
    * is bounded by the hash-agg spill machinery, not by union size, and
    * hot groups parallelize across partial aggs instead of serializing
    * through an accumulator merge chain. That IS the mergeable-aggregate
    * pattern, expressed as data instead of state (the hull aggregate
    * covers the in-state variant where state = O(hull), not O(area)).
    * At 100 TB with finer grids the same plan holds: cells-per-polygon
    * is bbox-bounded, the shuffle key (gid, cell) is uniform, and a
    * two-level (coarse-cell pre-agg) refinement drops in declaratively.
    *
    * Membership chain: diamond member (center cx,cy radius [[DissolveR]])
    * via the L1-ball test |px−cx|+|py−cy| < R on cell centers
    * px=(i+0.5)·8 — every operand computed by the identical IEEE chain in
    * both engines (the a11c containsPoint oracle precedent); strict-<
    * ties exclude identically on both sides.
    */
  private val DissolveR = 60.17
  private val a11yy: QuerySpec = {
    val r = DissolveR
    QuerySpec(
      "a11yy_dissolve",
      s"Polygon dissolve (ST_Union by group) on an exact 8.0 grid: per-event diamonds (r=$r) explode to covered cells via the L1 membership chain, one partial-agged distinct-count shuffle per group — union cell count + cell envelope; oracle replays cell enumeration + membership closed-form.",
      Some(s"""WITH e AS (SELECT user_id % 25 AS gid,
             |    2*CAST(user_id % 100 AS DOUBLE) AS cx, value % 200.0 AS cy FROM events),
             |rng AS (SELECT gid, cx, cy,
             |    CAST(floor((cx - $r) / 8.0) AS BIGINT) AS i0,
             |    CAST(floor((cx + $r) / 8.0) AS BIGINT) AS i1,
             |    CAST(floor((cy - $r) / 8.0) AS BIGINT) AS j0,
             |    CAST(floor((cy + $r) / 8.0) AS BIGINT) AS j1 FROM e),
             |ci AS (SELECT gid, cx, cy, unnest(range(i0, i1 + 1)) AS i, j0, j1 FROM rng),
             |cj AS (SELECT gid, cx, cy, i, unnest(range(j0, j1 + 1)) AS j FROM ci),
             |inc AS (SELECT gid, i, j FROM cj
             |  WHERE abs((CAST(i AS DOUBLE) + 0.5) * 8.0 - cx)
             |      + abs((CAST(j AS DOUBLE) + 0.5) * 8.0 - cy) < $r)
             |SELECT gid, CAST(COUNT(DISTINCT (i + 1000) * 100000 + (j + 1000)) AS BIGINT) AS n_cells,
             |  MIN(i) AS min_i, MAX(i) AS max_i, MIN(j) AS min_j, MAX(j) AS max_j
             |FROM inc GROUP BY gid ORDER BY gid""".stripMargin),
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select(($"user_id" % 25).as("gid"),
            (lit(2.0) * ($"user_id" % 100).cast(DoubleType)).as("cx"),
            ($"value" % 200.0).as("cy"))
          .withColumn("i", explode(sequence(
            floor(($"cx" - r) / 8.0).cast(LongType),
            floor(($"cx" + r) / 8.0).cast(LongType))))
          .withColumn("j", explode(sequence(
            floor(($"cy" - r) / 8.0).cast(LongType),
            floor(($"cy" + r) / 8.0).cast(LongType))))
          .filter(abs(($"i".cast(DoubleType) + 0.5) * 8.0 - $"cx")
            + abs(($"j".cast(DoubleType) + 0.5) * 8.0 - $"cy") < r)
          .select($"gid", $"i", $"j",
            (($"i" + 1000) * 100000 + ($"j" + 1000)).as("cell"))
          .groupBy($"gid")
          .agg(countDistinct($"cell").as("n_cells"),
            min($"i").as("min_i"), max($"i").as("max_i"),
            min($"j").as("min_j"), max($"j").as("max_j"))
          .orderBy($"gid")
      }
    )
  }

  // --------------------------------------------------------------- A11ad
  /** Hexagonal binning — the cartography aggregation dashboards prefer
    * over square tiles (equal center-to-neighbor distance, no corner
    * ambiguity): pointy-top axial hex keys at size 16 via the standard
    * fractional-axial + cube-round construction. The only rounding
    * primitive is an EXPLICIT `floor(x+0.5)` (written identically in
    * both engines — never the engines' `round()`, whose half-even vs
    * half-away conventions differ), and the cube-round's tie-fix
    * branches are the same CASE text on both sides, so the key is
    * deterministic: inputs are identical doubles, every op (`sqrt`, `/`,
    * `*`, `floor`, `abs`, comparisons) is correctly-rounded IEEE.
    *
    * Scale: map-side hex key, ONE shuffle on (hq, hr) with partial
    * aggregation — the a11t tile shape with a hexagonal lattice; bin
    * skew is controlled by the size constant exactly like zoom.
    */
  private val a11ad = QuerySpec(
    "a11ad_hexbin",
    "Hexagonal binning (pointy-top axial, size 16): cube-rounded hex key per event via explicit floor(x+0.5) rounding and identical tie-fix CASE chains in both engines; per-hex count + exact cents — one map-side key, one partial-agged shuffle.",
    Some("""WITH c AS (SELECT event_id, value,
              (value % 300.0) - 150.0 AS x,
              (value % 160.0) - 80.0 AS y
            FROM events),
          f AS (SELECT event_id, value,
              (sqrt(3.0) / 3.0 * x - y / 3.0) / 16.0 AS qf,
              (2.0 / 3.0 * y) / 16.0 AS rf
            FROM c),
          r0 AS (SELECT event_id, value, qf, rf,
              CAST(floor(qf + 0.5) AS BIGINT) AS rx,
              CAST(floor((-qf - rf) + 0.5) AS BIGINT) AS ry,
              CAST(floor(rf + 0.5) AS BIGINT) AS rz
            FROM f),
          r1 AS (SELECT event_id, value, rx, ry, rz,
              abs(rx - qf) AS dx, abs(ry - (-qf - rf)) AS dy, abs(rz - rf) AS dz
            FROM r0),
          h AS (SELECT event_id, value,
              CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END AS hq,
              CASE WHEN NOT (dx > dy AND dx > dz) AND NOT (dy > dz)
                   THEN -rx - ry ELSE rz END AS hr
            FROM r1)
          SELECT hq, hr, COUNT(*) AS n, MIN(event_id) AS first_id,
            CAST(SUM(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS cents
          FROM h GROUP BY hq, hr ORDER BY hq, hr"""),
    (s, d) => {
      import s.implicits._
      val x = ($"value" % 300.0) - 150.0
      val y = ($"value" % 160.0) - 80.0
      val qf = (sqrt(lit(3.0)) / 3.0 * x - y / 3.0) / 16.0
      val rf = (lit(2.0) / 3.0 * y) / 16.0
      val yf = -qf - rf
      val rx = floor(qf + 0.5).cast(LongType)
      val ry = floor(yf + 0.5).cast(LongType)
      val rz = floor(rf + 0.5).cast(LongType)
      val dx = abs(rx - qf)
      val dy = abs(ry - yf)
      val dz = abs(rz - rf)
      val fixQ = dx > dy && dx > dz
      Tables.events(s, d)
        .select($"event_id", $"value",
          when(fixQ, -ry - rz).otherwise(rx).as("hq"),
          when(!fixQ && !(dy > dz), -rx - ry).otherwise(rz).as("hr"))
        .groupBy($"hq", $"hr")
        .agg(count(lit(1)).as("n"), min($"event_id").as("first_id"),
          sum(floor($"value" * 100.0).cast(LongType)).cast(LongType).as("cents"))
        .orderBy($"hq", $"hr")
    }
  )

  // --------------------------------------------------------------- A11ae
  /** Geometry validity audit (the ST_IsValid analog) — the ingest gate a
    * PostGIS-habituated pipeline runs before trusting uploaded rings:
    * per-event quad rings where every 5th user's ring is a planted BOWTIE
    * (the diamond with its bottom/left vertices swapped, so the
    * right→left and bottom→top edges properly cross at the center), and
    * validity = no proper intersection between either pair of
    * non-adjacent edges. The test is four orientation (2D cross product)
    * signs per edge pair — the exact-geometric-predicate shape; strict
    * `< 0` products mean collinear touches don't count as invalid, and
    * the planted bowtie crossing is strictly proper by construction, so
    * no epsilon anywhere. Output: per event_type, ring count, invalid
    * count, first invalid event — the DQ summary, not a per-row dump.
    *
    * Scale: pure map-side predicate (eight multiplies per pair) + one
    * partial-agged rollup — the b61_profile posture for geometry.
    */
  private val a11ae = QuerySpec(
    "a11ae_validity",
    "Ring validity audit (ST_IsValid analog): per-event quads with planted bowties (user_id%5==0), proper self-intersection via exact orientation-sign products, per-type ring/invalid counts + first invalid id — map-side predicate, one rollup shuffle.",
    Some("""WITH c AS (SELECT event_id, event_type, user_id,
              2*CAST(user_id % 100 AS DOUBLE) AS cx, value % 200.0 AS cy
            FROM events),
          v AS (SELECT event_id, event_type,
              cx AS x0, cy + 60.17 AS y0,
              cx + 60.17 AS x1, cy AS y1,
              CASE WHEN user_id % 5 = 0 THEN cx - 60.17 ELSE cx END AS x2,
              CASE WHEN user_id % 5 = 0 THEN cy ELSE cy - 60.17 END AS y2,
              CASE WHEN user_id % 5 = 0 THEN cx ELSE cx - 60.17 END AS x3,
              CASE WHEN user_id % 5 = 0 THEN cy - 60.17 ELSE cy END AS y3
            FROM c),
          p AS (SELECT event_id, event_type,
              CASE WHEN
                (((x1-x0)*(y2-y0)-(y1-y0)*(x2-x0)) * ((x1-x0)*(y3-y0)-(y1-y0)*(x3-x0)) < 0.0
                 AND ((x3-x2)*(y0-y2)-(y3-y2)*(x0-x2)) * ((x3-x2)*(y1-y2)-(y3-y2)*(x1-x2)) < 0.0)
                OR
                (((x2-x1)*(y3-y1)-(y2-y1)*(x3-x1)) * ((x2-x1)*(y0-y1)-(y2-y1)*(x0-x1)) < 0.0
                 AND ((x0-x3)*(y1-y3)-(y0-y3)*(x1-x3)) * ((x0-x3)*(y2-y3)-(y0-y3)*(x2-x3)) < 0.0)
              THEN 1 ELSE 0 END AS invalid
            FROM v)
          SELECT event_type, COUNT(*) AS n,
            CAST(SUM(invalid) AS BIGINT) AS n_invalid,
            MIN(CASE WHEN invalid = 1 THEN event_id END) AS first_invalid
          FROM p GROUP BY event_type ORDER BY event_type"""),
    (s, d) => {
      import s.implicits._
      val cx = lit(2.0) * ($"user_id" % 100).cast(DoubleType)
      val cy = $"value" % 200.0
      val bow = $"user_id" % 5 === 0
      val (x0, y0) = (cx, cy + 60.17)
      val (x1, y1) = (cx + 60.17, cy)
      val (x2, y2) = (when(bow, cx - 60.17).otherwise(cx),
        when(bow, cy).otherwise(cy - 60.17))
      val (x3, y3) = (when(bow, cx).otherwise(cx - 60.17),
        when(bow, cy - 60.17).otherwise(cy))
      // o(A,B,C) with the oracle's exact association
      def o(ax: Column, ay: Column, bx: Column, by: Column,
            px: Column, py: Column): Column =
        (bx - ax) * (py - ay) - (by - ay) * (px - ax)
      def proper(ax: Column, ay: Column, bx: Column, by: Column,
                 ux: Column, uy: Column, vx: Column, vy: Column): Column =
        (o(ax, ay, bx, by, ux, uy) * o(ax, ay, bx, by, vx, vy) < 0.0) &&
          (o(ux, uy, vx, vy, ax, ay) * o(ux, uy, vx, vy, bx, by) < 0.0)
      val invalid = when(
        proper(x0, y0, x1, y1, x2, y2, x3, y3) ||
          proper(x1, y1, x2, y2, x3, y3, x0, y0), 1L).otherwise(0L)
      Tables.events(s, d)
        .select($"event_id", $"event_type", invalid.as("invalid"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"invalid").as("n_invalid"),
          min(when($"invalid" === 1, $"event_id")).as("first_invalid"))
        .orderBy($"event_type")
    }
  )

  // --------------------------------------------------------------- A11ah
  /** EXACT rectangle-union area per group — the boolean-union measure the
    * grid dissolve ([[a11yy]]) only approximates, solvable exactly for
    * axis-aligned boxes by the classic coordinate-compressed slab sweep
    * (Bentley's union-of-rectangles, expressed declaratively):
    *
    *   1. xs: the group's DISTINCT x-coordinates (every rect start/end);
    *   2. slabs: consecutive xs pairs via `lead` — between two adjacent
    *      xs the covered y-set is CONSTANT;
    *   3. cover join: rects spanning a slab (x0 <= xa AND x1 >= xb) —
    *      an equi-join on gid with residual range filters, never a
    *      cartesian;
    *   4. per-slab interval merge: gaps-and-islands over (y0, y1) — the
    *      running `max(y1)` of preceding rows starts a new island when
    *      the next y0 jumps past it (touching intervals merge: half-open
    *      boxes, so y0 == prevMax is the SAME island);
    *   5. area = Σ slab_width × merged y-length.
    *
    * Everything is BIGINT (fixture coordinates are integer products of
    * event/user ids), so the result is EXACT and the DuckDB oracle can
    * replay the identical five stages as CTEs — no quantization needed,
    * unlike every float-geometry sibling.
    *
    * Scale shape: groups are per-entity bounded (a feature's parts, a
    * device's footprints), so the per-group O(|xs|·|rects|) slab join is
    * a within-key nested refinement riding ONE gid shuffle; both window
    * passes key on (gid, slab) — tens of thousands of keys here, growing
    * with the data, never one task per group. At 100 TB a group too hot
    * for this (a million boxes under one gid) tiles first on coarse x
    * bands — the same declarative plan one `floor(x0/band)` key deeper.
    */
  private val a11ah: QuerySpec = {
    import org.apache.spark.sql.expressions.Window
    QuerySpec(
      "a11ah_rect_union",
      "Exact union-of-rectangles area per group (coordinate-compressed slab sweep): distinct-x slabs via lead, cover join with residual range filter, gaps-and-islands y-interval merge per slab, BIGINT end-to-end — n_rect, exact union area, envelope; the exact counterpart of the a11yy grid dissolve.",
      Some("""WITH r AS (SELECT event_id % 500 AS gid,
             |    (user_id % 20) * 10 AS x0,
             |    (user_id % 20) * 10 + 20 + event_id % 80 AS x1,
             |    (event_id % 15) * 5 AS y0,
             |    (event_id % 15) * 5 + 20 + user_id % 70 AS y1
             |  FROM events),
             |xs AS (SELECT DISTINCT gid, xv FROM (
             |    SELECT gid, x0 AS xv FROM r UNION ALL SELECT gid, x1 FROM r)),
             |slabs AS (SELECT gid, xv, xb FROM (
             |    SELECT gid, xv, lead(xv) OVER (PARTITION BY gid ORDER BY xv) AS xb FROM xs)
             |  WHERE xb IS NOT NULL),
             |cov AS (SELECT s.gid, s.xv, s.xb, r.y0, r.y1
             |  FROM slabs s JOIN r ON r.gid = s.gid AND r.x0 <= s.xv AND r.x1 >= s.xb),
             |isl AS (SELECT gid, xv, xb, y0, y1,
             |    CAST(SUM(CASE WHEN pmax IS NULL OR y0 > pmax THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY gid, xv ORDER BY y0, y1
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
             |  FROM (SELECT gid, xv, xb, y0, y1,
             |      MAX(y1) OVER (PARTITION BY gid, xv ORDER BY y0, y1
             |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
             |    FROM cov)),
             |ylen AS (SELECT gid, xv, xb, SUM(iy1 - iy0) AS ylen FROM (
             |    SELECT gid, xv, xb, island, MIN(y0) AS iy0, MAX(y1) AS iy1
             |    FROM isl GROUP BY gid, xv, xb, island)
             |  GROUP BY gid, xv, xb),
             |area AS (SELECT gid, CAST(SUM((xb - xv) * ylen) AS BIGINT) AS area FROM ylen GROUP BY gid)
             |SELECT r.gid, CAST(COUNT(*) AS BIGINT) AS n_rect, a.area,
             |  MIN(r.x0) AS minx, MAX(r.x1) AS maxx, MIN(r.y0) AS miny, MAX(r.y1) AS maxy
             |FROM r JOIN area a ON a.gid = r.gid
             |GROUP BY r.gid, a.area ORDER BY r.gid""".stripMargin),
      (s, d) => {
        import s.implicits._
        val r = CacheRegistry.persist(Tables.events(s, d)
          .select(($"event_id" % 500).as("gid"),
            (($"user_id" % 20) * 10).as("x0"),
            (($"user_id" % 20) * 10 + 20 + $"event_id" % 80).as("x1"),
            (($"event_id" % 15) * 5).as("y0"),
            (($"event_id" % 15) * 5 + 20 + $"user_id" % 70).as("y1")))
        val xs = r.select($"gid", explode(array($"x0", $"x1")).as("xv")).distinct()
        val slabs = xs
          .withColumn("xb", lead($"xv", 1).over(Window.partitionBy($"gid").orderBy($"xv")))
          .where($"xb".isNotNull)
        val cov = slabs.join(r, Seq("gid"))
          .where($"x0" <= $"xv" && $"x1" >= $"xb")
          .select($"gid", $"xv", $"xb", $"y0", $"y1")
        val wPrev = Window.partitionBy($"gid", $"xv").orderBy($"y0", $"y1")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wRun = Window.partitionBy($"gid", $"xv").orderBy($"y0", $"y1")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val isl = cov
          .withColumn("pmax", max($"y1").over(wPrev))
          .withColumn("island",
            sum(when($"pmax".isNull || $"y0" > $"pmax", 1L).otherwise(0L)).over(wRun))
        val ylen = isl
          .groupBy($"gid", $"xv", $"xb", $"island")
          .agg(min($"y0").as("iy0"), max($"y1").as("iy1"))
          .groupBy($"gid", $"xv", $"xb")
          .agg(sum($"iy1" - $"iy0").as("ylen"))
        val area = ylen.groupBy($"gid")
          .agg(sum(($"xb" - $"xv") * $"ylen").as("area"))
        r.groupBy($"gid")
          .agg(count(lit(1)).as("n_rect"),
            min($"x0").as("minx"), max($"x1").as("maxx"),
            min($"y0").as("miny"), max($"y1").as("maxy"))
          .join(area, Seq("gid"))
          .select($"gid", $"n_rect", $"area", $"minx", $"maxx", $"miny", $"maxy")
          .orderBy($"gid")
      }
    )
  }

  // --------------------------------------------------------------- A11ai
  /** CONCAVE-polygon Euclidean buffer, measured on the dissolve grid —
    * the gap [[graft.functions.Wkb.bufferSquare]]'s loud non-convex
    * rejection leaves open: PostGIS users buffer arbitrary polygons. The
    * exact buffered GEOMETRY of a reflex polygon has arcs and
    * self-intersection repairs no SQL oracle can replay, but the buffered
    * MEASURE on a grid is exact and algorithm-independent (the a11yy
    * discipline): a cell center is in the buffer iff it is INSIDE the
    * polygon (generic even-odd ray cast — concave welcome) OR within r of
    * its BOUNDARY (generic per-edge point-segment clamp chains,
    * [[graft.functions.Wkb.boundaryDistance]]). Both predicates replay in
    * SQL bit-for-bit: the fixture L-shape's inside test closes to
    * rectangle-minus-notch (any strict/boundary disagreement with the ray
    * cast lies ON the boundary, where the distance arm absorbs it — dist
    * 0 ≤ r on both engines), and the six edge chains are the a11j
    * greatest/least clamp replay. r = 6.17 < the arm half-width 10, so
    * the inside arm genuinely fires on deep-interior cells.
    *
    * Engine path is the honest binary-column one: per-event L-shape WKB
    * (reflex vertex — bufferSquare would throw), decoded per cell probe
    * by the SAME generic ray-cast/boundary-distance functions every other
    * query uses. Scale: bbox+r cell explosion is map-side codegen, the
    * member predicate is a per-row scalar, and ONE partial-agged
    * distinct-count shuffle per group dissolves the union — the a11yy
    * plan with a buffered membership test.
    */
  private val BufConcaveR = 6.17
  private val a11ai: QuerySpec = {
    val r = BufConcaveR
    val lShapeUdf: UserDefinedFunction = udf { (ox: Double, oy: Double) =>
      Wkb.polygon(Seq(Seq(
        (ox, oy), (ox + 40.0, oy), (ox + 40.0, oy + 20.0), (ox + 20.0, oy + 20.0),
        (ox + 20.0, oy + 40.0), (ox, oy + 40.0), (ox, oy))))
    }
    // Decode-once cell probe (optimization guide §1.2 step 2): the r16
    // shape exploded cells FIRST and ran a (wkb, px, py) member UDF per
    // cell — ~56 probes per event each re-parsing the polygon's WKB bytes
    // (5.6M parses at sf0.1, measured 3.2 s on the ONE task the
    // single-row-group scan yields). This UDF decodes the rings once per
    // EVENT and loops the same cell grid in place with the identical IEEE
    // probe chains (containsPointRings/boundaryDistanceRings are
    // bit-for-bit the streaming walks), emitting the surviving (i, j)
    // pairs directly — same cells, ~56× fewer decodes, and the explode
    // shrinks to survivors only. Measured 3.2 s → 0.3 s with Par.spread.
    val cellsUdf: UserDefinedFunction = udf { (wkb: Array[Byte], ox: Double, oy: Double) =>
      val rings = Wkb.decodeAreaRings(wkb)
      val i0 = math.floor((ox - BufConcaveR) / 8.0).toLong
      val i1 = math.floor((ox + 40.0 + BufConcaveR) / 8.0).toLong
      val j0 = math.floor((oy - BufConcaveR) / 8.0).toLong
      val j1 = math.floor((oy + 40.0 + BufConcaveR) / 8.0).toLong
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var i = i0
      while (i <= i1) {
        val px = (i.toDouble + 0.5) * 8.0
        var j = j0
        while (j <= j1) {
          val py = (j.toDouble + 0.5) * 8.0
          if (Wkb.containsPointRings(rings, px, py) ||
              Wkb.boundaryDistanceRings(rings, px, py) <= BufConcaveR)
            out += ((i, j))
          j += 1
        }
        i += 1
      }
      out.toSeq
    }
    def seg(x1: String, y1: String, x2: String, y2: String): String = {
      val dx = s"($x2 - $x1)"
      val dy = s"($y2 - $y1)"
      val len2 = s"($dx * $dx + $dy * $dy)"
      val t = s"greatest(0.0, least(1.0, ((px - $x1) * $dx + (py - $y1) * $dy) / $len2))"
      val cx = s"($x1 + $t * $dx)"
      val cy = s"($y1 + $t * $dy)"
      s"sqrt((px - $cx) * (px - $cx) + (py - $cy) * (py - $cy))"
    }
    val verts = Seq(
      ("ox", "oy"), ("(ox + 40.0)", "oy"), ("(ox + 40.0)", "(oy + 20.0)"),
      ("(ox + 20.0)", "(oy + 20.0)"), ("(ox + 20.0)", "(oy + 40.0)"), ("ox", "(oy + 40.0)"))
    val segs = verts.indices.map { i =>
      val (x1, y1) = verts(i)
      val (x2, y2) = verts((i + 1) % verts.length)
      seg(x1, y1, x2, y2)
    }.mkString(",\n|    ")
    QuerySpec(
      "a11ai_buffer_concave",
      s"Concave-polygon Euclidean buffer (r=$r) on the exact 8.0 dissolve grid: per-event reflex L-shapes (bufferSquare rejects them) probed per cell by the generic ray cast + boundary-distance chains, one distinct-count shuffle per group — union cell count + envelope; oracle replays rectangle-minus-notch containment and the six point-segment clamp chains.",
      Some(s"""WITH e AS (SELECT DISTINCT user_id % 25 AS gid,
             |    2*CAST(user_id % 100 AS DOUBLE) AS ox, value % 200.0 AS oy FROM events),
             |rng AS (SELECT gid, ox, oy,
             |    CAST(floor((ox - $r) / 8.0) AS BIGINT) AS i0,
             |    CAST(floor((ox + 40.0 + $r) / 8.0) AS BIGINT) AS i1,
             |    CAST(floor((oy - $r) / 8.0) AS BIGINT) AS j0,
             |    CAST(floor((oy + 40.0 + $r) / 8.0) AS BIGINT) AS j1 FROM e),
             |ci AS (SELECT gid, ox, oy, unnest(range(i0, i1 + 1)) AS i, j0, j1 FROM rng),
             |cj AS (SELECT gid, ox, oy, i, unnest(range(j0, j1 + 1)) AS j FROM ci),
             |pt AS (SELECT gid, ox, oy, i, j,
             |    (CAST(i AS DOUBLE) + 0.5) * 8.0 AS px,
             |    (CAST(j AS DOUBLE) + 0.5) * 8.0 AS py FROM cj),
             |inc AS (SELECT gid, i, j FROM pt WHERE
             |    (px > ox AND px < ox + 40.0 AND py > oy AND py < oy + 40.0
             |     AND NOT (px > ox + 20.0 AND py > oy + 20.0))
             |    OR least(
             |    $segs) <= $r)
             |SELECT gid, CAST(COUNT(DISTINCT (i + 1000) * 100000 + (j + 1000)) AS BIGINT) AS n_cells,
             |  MIN(i) AS min_i, MAX(i) AS max_i, MIN(j) AS min_j, MAX(j) AS max_j
             |FROM inc GROUP BY gid ORDER BY gid""".stripMargin),
      (s, d) => {
        import s.implicits._
        graft.Par.spread(Tables.events(s, d)
            .select(($"user_id" % 25).as("gid"),
              (lit(2.0) * ($"user_id" % 100).cast(DoubleType)).as("ox"),
              ($"value" % 200.0).as("oy")))
          .withColumn("wkb", lShapeUdf($"ox", $"oy"))
          .select($"gid", explode(cellsUdf($"wkb", $"ox", $"oy")).as("c"))
          .select($"gid", $"c._1".as("i"), $"c._2".as("j"))
          .select($"gid", $"i", $"j",
            (($"i" + 1000) * 100000 + ($"j" + 1000)).as("cell"))
          .groupBy($"gid")
          .agg(countDistinct($"cell").as("n_cells"),
            min($"i").as("min_i"), max($"i").as("max_i"),
            min($"j").as("min_j"), max($"j").as("max_j"))
          .orderBy($"gid")
      }
    )
  }

  // --------------------------------------------------------------- A11ak
  /** Arc-discretized Euclidean buffer RETURNING GEOMETRY
    * ([[Wkb.bufferEuclidean]], VERDICT r12 missing #4): the
    * PostGIS-ST_Buffer-shaped constructor the family lacked — a11y is
    * exact but L∞, a11ai is Euclidean but grid-measured; this one emits a
    * real buffered polygon WKB (8 arc vertices per corner, the quad_segs=8
    * default). Per-event diamond → 36-vertex buffered ring → vertex count,
    * quantized doubled-shoelace area, min corner. Every output vertex is
    * the closed-form chain v + r·(cos θ, sin θ) with θ from the corner's
    * edge-normal atan2s, so the oracle replays the construction literally
    * — atan2/cos/sin last-ulp flip risk ~1e-10/row at the e6 floor (the
    * a11s libm precedent). Map-side only; the output sort is presentation.
    */
  private val BufEuR = 1.5
  private val a11ak: QuerySpec = {
    val diamondUdf: UserDefinedFunction = udf { (cx: Double, cy: Double) =>
      Wkb.polygon(Seq(Seq(
        (cx + 3.0, cy), (cx, cy + 3.0), (cx - 3.0, cy), (cx, cy - 3.0), (cx + 3.0, cy))))
    }
    val statsUdf: UserDefinedFunction = udf { (wkb: Array[Byte]) =>
      val ring = Wkb.outerRing(Wkb.bufferEuclidean(wkb, BufEuR, 8)).dropRight(1)
      var a2 = 0L
      var mnx = Long.MaxValue
      var mny = Long.MaxValue
      var i = 0
      while (i < ring.length) {
        val v = ring(i)
        val w = ring((i + 1) % ring.length)
        a2 += math.floor((v._1 * w._2 - w._1 * v._2) * 1000000.0).toLong
        val qx = math.floor(v._1 * 1000000.0).toLong
        val qy = math.floor(v._2 * 1000000.0).toLong
        if (qx < mnx) mnx = qx
        if (qy < mny) mny = qy
        i += 1
      }
      (ring.length, a2, mnx, mny)
    }
    // per-corner previous/next diamond vertices, cyclically (E, N, W, S)
    val sql =
      s"""WITH t AS (SELECT event_id,
         |    2.0 * CAST(user_id % 100 AS DOUBLE) AS cx, value % 200.0 AS cy
         |  FROM events),
         |v AS (SELECT event_id, cx, cy, seq, seq // 9 AS c, seq % 9 AS j
         |  FROM t, (SELECT unnest(range(0, 36)) AS seq)),
         |w AS (SELECT event_id, seq, j,
         |    CASE c WHEN 0 THEN cx + 3.0 WHEN 1 THEN cx WHEN 2 THEN cx - 3.0 ELSE cx END AS px,
         |    CASE c WHEN 0 THEN cy WHEN 1 THEN cy + 3.0 WHEN 2 THEN cy ELSE cy - 3.0 END AS py,
         |    CASE c WHEN 0 THEN cx WHEN 1 THEN cx + 3.0 WHEN 2 THEN cx ELSE cx - 3.0 END AS qx,
         |    CASE c WHEN 0 THEN cy - 3.0 WHEN 1 THEN cy WHEN 2 THEN cy + 3.0 ELSE cy END AS qy,
         |    CASE c WHEN 0 THEN cx WHEN 1 THEN cx - 3.0 WHEN 2 THEN cx ELSE cx + 3.0 END AS rx,
         |    CASE c WHEN 0 THEN cy + 3.0 WHEN 1 THEN cy WHEN 2 THEN cy - 3.0 ELSE cy END AS ry
         |  FROM v),
         |a AS (SELECT event_id, seq, j, px, py,
         |    atan2(py - qy, px - qx) - pi() / 2.0 AS thin,
         |    atan2(ry - py, rx - px) - pi() / 2.0 AS thout
         |  FROM w),
         |b AS (SELECT event_id, seq, px, py,
         |    thin + (CASE WHEN thout - thin < 0 THEN thout - thin + 2.0 * pi()
         |                 ELSE thout - thin END) * j / 8.0 AS ang
         |  FROM a),
         |pt AS (SELECT event_id, seq,
         |    px + $BufEuR * cos(ang) AS x, py + $BufEuR * sin(ang) AS y FROM b),
         |fe AS (SELECT event_id, x, y,
         |    coalesce(lead(x) OVER pw, first_value(x) OVER pw) AS wx,
         |    coalesce(lead(y) OVER pw, first_value(y) OVER pw) AS wy
         |  FROM pt WINDOW pw AS (PARTITION BY event_id ORDER BY seq))
         |SELECT event_id, CAST(COUNT(*) AS INTEGER) AS n_vtx,
         |  CAST(SUM(CAST(floor((x * wy - wx * y) * 1000000.0) AS BIGINT)) AS BIGINT) AS area2_e6,
         |  MIN(CAST(floor(x * 1000000.0) AS BIGINT)) AS minx_e6,
         |  MIN(CAST(floor(y * 1000000.0) AS BIGINT)) AS miny_e6
         |FROM fe GROUP BY event_id ORDER BY event_id""".stripMargin
    QuerySpec(
      "a11ak_buffer_euclid",
      s"Arc-discretized Euclidean buffer (r=$BufEuR, 8 segs/corner) of a per-event diamond to a NEW 36-vertex polygon WKB — ST_Buffer shape; vertex count, quantized doubled-shoelace area, min corner; oracle replays every vertex's atan2/cos/sin chain verbatim.",
      Some(sql),
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_id",
            (lit(2.0) * ($"user_id" % 100).cast(DoubleType)).as("cx"),
            ($"value" % 200.0).as("cy"))
          .select($"event_id", statsUdf(diamondUdf($"cx", $"cy")).as("st"))
          .select($"event_id", $"st._1".as("n_vtx"), $"st._2".as("area2_e6"),
            $"st._3".as("minx_e6"), $"st._4".as("miny_e6"))
          .orderBy($"event_id")
      }
    )
  }

  // --------------------------------------------------------------- A11aw
  /** LAEA reprojection (EPSG:4326 ↔ 3035 Europe LAEA,
    * [[graft.functions.Crs.EuropeLaea]]) — the azimuthal member of the
    * equal-area pair ([[a11au]] is the conic one): the European
    * statistical grid every INSPIRE/EEA dataset ships in. The oracle
    * replays the oblique-aspect forward chain (authalic q → β →
    * B/D scaling) op-for-op from the engine's derived constants
    * ([[graft.functions.Crs.Laea.replayConstants]]); E/N quantize at
    * meter grain and the fixed-8-iteration Newton inverse roundtrips
    * ENGINE-side to 1e-9°. Map-side only — same posture as
    * a11aj/a11au/a11am.
    */
  private val a11aw: QuerySpec = {
    val (ecc, qp, rq, sb0, cb0, dD, lon0, fe, fn) =
      graft.functions.Crs.EuropeLaea.replayConstants
    val e2 = ecc * ecc
    val sql =
      s"""WITH c AS (SELECT event_id,
              -10.0 + (value % 40.0) AS lon,
              35.2 + (value % 24.5) AS lat
            FROM events),
          p AS (SELECT event_id,
              lat * pi() / 180.0 AS phi,
              (lon - $lon0) * pi() / 180.0 AS lam
            FROM c),
          s1 AS (SELECT event_id, lam, sin(phi) AS sphi FROM p),
          s2 AS (SELECT event_id, lam,
              asin(((1.0 - $e2) * (sphi / (1.0 - $e2 * sphi * sphi)
                - (1.0 / (2.0 * $ecc))
                  * ln((1.0 - $ecc * sphi) / (1.0 + $ecc * sphi)))) / $qp) AS beta
            FROM s1),
          s3 AS (SELECT event_id,
              sin(beta) AS sb, cos(beta) AS cb,
              cos(lam) AS cl, sin(lam) AS sl
            FROM s2),
          s4 AS (SELECT event_id, sb, cb, cl, sl,
              $rq * sqrt(2.0 / (1.0 + $sb0 * sb + $cb0 * (cb * cl))) AS bb
            FROM s3)
          SELECT event_id,
            CAST(3035 AS BIGINT) AS srid_laea,
            CAST(floor($fe + bb * $dD * (cb * sl)) AS BIGINT) AS e_m,
            CAST(floor($fn + bb / $dD * ($cb0 * sb - $sb0 * (cb * cl))) AS BIGINT) AS n_m,
            TRUE AS roundtrip_ok
          FROM s4 ORDER BY event_id"""
    QuerySpec(
      "a11aw_laea",
      "Europe LAEA (EPSG:3035) equal-area reprojection roundtrip via the CRS registry: per-row 4326 point EWKB -> 3035 easting/northing -> back; E/N at meter quantization against an oracle replaying the oblique-aspect authalic chain from the engine's derived constants; fixed-8-iteration Newton inverse checked engine-side to 1e-9 degrees.",
      Some(sql),
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_id",
            (lit(-10.0) + ($"value" % 40.0)).as("lon"),
            (lit(35.2) + ($"value" % 24.5)).as("lat"))
          .withColumn("g", reprojectUdf(sridPointUdf($"lon", $"lat", lit(4326)), lit(3035)))
          .withColumn("back", reprojectUdf($"g", lit(4326)))
          .select($"event_id",
            sridUdf($"g").cast(LongType).as("srid_laea"),
            floor(bboxUdf($"g").getField("xmin")).cast(LongType).as("e_m"),
            floor(bboxUdf($"g").getField("ymin")).cast(LongType).as("n_m"),
            (abs(bboxUdf($"back").getField("xmin") - $"lon") < 1e-9 &&
              abs(bboxUdf($"back").getField("ymin") - $"lat") < 1e-9).as("roundtrip_ok"))
          .orderBy($"event_id")
      }
    )
  }

  // --------------------------------------------------------------- A11av
  /** Meter-true geodesic buffer ([[Wkb.bufferGeodesicPoint]], VERDICT
    * r13 directive #8): [[a11ak]] buffers in planar DEGREES — fine on a
    * projected grid, but an EO user buffering "500 m around each
    * feature" on raw lon/lat needs the ellipsoidal variant, where every
    * ring vertex lies exactly r ellipsoidal meters from the center
    * (Vincenty DIRECT per azimuth, fixed-4 σ-iteration — the a11u
    * replay discipline applied to the direct problem). The oracle
    * replays the whole direct chain per (event, azimuth) stage-for-
    * stage from the engine's own ellipsoid constants
    * ([[Wkb.geodDirectConstants]]); vertices quantize at 1e-6° (~0.1 m)
    * and the meter-true property — Vincenty-INVERSE distance center→
    * vertex within 1 mm of r for all 16 vertices — is asserted
    * ENGINE-side (direct and inverse are independent iterations, so
    * this is a real cross-check, not a tautology). Map-side only; the
    * output sort is presentation. Scale: same posture as a11u — pure
    * per-row closed-form math, scan → transform.
    */
  private val GeoBufR = 500.0
  private val GeoBufSegs = 16
  private val a11av: QuerySpec = {
    val (wa, wb, f, iters) = graft.functions.Wkb.geodDirectConstants
    val aabb = wa * wa - wb * wb
    val bb2 = wb * wb
    // one σ-round: recompute Δσ from it(i-1).sig, update sig only
    def round(i: Int): String =
      s"""r$i AS (SELECT event_id, k, lon, lat, su1, cu1, sa, ca, sig1, sina,
            cos2a, bigb, soba,
            soba + bigb*sin(sig)*(cos(2.0*sig1 + sig)
              + bigb/4.0*(cos(sig)*(-1.0 + 2.0*cos(2.0*sig1 + sig)*cos(2.0*sig1 + sig))
                - bigb/6.0*cos(2.0*sig1 + sig)
                  *(-3.0 + 4.0*sin(sig)*sin(sig))
                  *(-3.0 + 4.0*cos(2.0*sig1 + sig)*cos(2.0*sig1 + sig)))) AS sig
          FROM r${i - 1})"""
    val sql =
      s"""WITH c0 AS (SELECT event_id,
              (value % 300.0) - 150.0 AS lon,
              (value % 120.0) - 60.0 AS lat
            FROM events),
          kk AS (SELECT CAST(k AS BIGINT) AS k FROM generate_series(0, ${GeoBufSegs - 1}) AS g(k)),
          az AS (SELECT event_id, lon, lat, k,
              (CAST(k AS DOUBLE) * 360.0 / $GeoBufSegs.0) * (pi() / 180.0) AS alpha1
            FROM c0 CROSS JOIN kk),
          u AS (SELECT event_id, k, lon, lat, alpha1,
              atan((1.0 - $f) * tan(lat * (pi() / 180.0))) AS u1
            FROM az),
          p AS (SELECT event_id, k, lon, lat, u1,
              sin(u1) AS su1, cos(u1) AS cu1,
              sin(alpha1) AS sa, cos(alpha1) AS ca
            FROM u),
          g AS (SELECT *, atan2(tan(u1), ca) AS sig1, cu1 * sa AS sina FROM p),
          h AS (SELECT *, 1.0 - sina*sina AS cos2a FROM g),
          i2 AS (SELECT *, cos2a * $aabb / $bb2 AS u2sq FROM h),
          j AS (SELECT *,
              1.0 + u2sq/16384.0*(4096.0 + u2sq*(-768.0 + u2sq*(320.0 - 175.0*u2sq))) AS biga,
              u2sq/1024.0*(256.0 + u2sq*(-128.0 + u2sq*(74.0 - 47.0*u2sq))) AS bigb
            FROM i2),
          r0 AS (SELECT event_id, k, lon, lat, su1, cu1, sa, ca, sig1, sina,
              cos2a, bigb,
              $GeoBufR / ($wb * biga) AS soba,
              $GeoBufR / ($wb * biga) AS sig
            FROM j),
          ${(1 to iters).map(round).mkString(",\n")},
          fw AS (SELECT event_id, k, lon, lat, su1, cu1, sa, ca, sina, cos2a, sig,
              sin(sig) AS ss, cos(sig) AS cs, cos(2.0*sig1 + sig) AS c2m
            FROM r$iters),
          fx AS (SELECT *, su1*ss - cu1*cs*ca AS tmp FROM fw),
          fy AS (SELECT *,
              atan2(su1*cs + cu1*ss*ca, (1.0 - $f) * sqrt(sina*sina + tmp*tmp)) AS phi2,
              atan2(ss*sa, cu1*cs - su1*ss*ca) AS lam,
              $f/16.0*cos2a*(4.0 + $f*(4.0 - 3.0*cos2a)) AS cc
            FROM fx),
          fz AS (SELECT event_id, k, lat, phi2,
              lon + (lam - (1.0-cc)*$f*sina*(sig + cc*ss*(c2m + cc*cs*(-1.0 + 2.0*c2m*c2m))))
                / (pi() / 180.0) AS lon2
            FROM fy),
          q AS (SELECT event_id,
              CAST(floor(lon2 * 1000000.0) AS BIGINT) AS qlon,
              CAST(floor((phi2 / (pi() / 180.0)) * 1000000.0) AS BIGINT) AS qlat
            FROM fz)
          SELECT event_id,
            CAST(COUNT(*) AS INTEGER) AS n_vtx,
            CAST(SUM(qlon) AS BIGINT) AS sum_qlon_e6,
            CAST(SUM(qlat) AS BIGINT) AS sum_qlat_e6,
            MIN(qlat) AS min_qlat_e6, MAX(qlat) AS max_qlat_e6,
            TRUE AS meter_true
          FROM q GROUP BY event_id ORDER BY event_id"""
    val statsUdf: UserDefinedFunction = udf { (cx: Double, cy: Double) =>
      val ring = Wkb.outerRing(
        Wkb.bufferGeodesicPoint(Wkb.point(cx, cy), GeoBufR, GeoBufSegs)).dropRight(1)
      var sumLon = 0L; var sumLat = 0L
      var mnLat = Long.MaxValue; var mxLat = Long.MinValue
      var meterTrue = true
      ring.foreach { case (vx, vy) =>
        val qlon = math.floor(vx * 1000000.0).toLong
        val qlat = math.floor(vy * 1000000.0).toLong
        sumLon += qlon; sumLat += qlat
        if (qlat < mnLat) mnLat = qlat
        if (qlat > mxLat) mxLat = qlat
        // independent cross-check: the INVERSE iteration must measure the
        // direct-placed vertex back at r to sub-mm
        if (math.abs(Wkb.geodesicMeters(cx, cy, vx, vy) - GeoBufR) > 1e-3)
          meterTrue = false
      }
      (ring.length, sumLon, sumLat, mnLat, mxLat, meterTrue)
    }
    QuerySpec(
      "a11av_buffer_geodesic",
      s"Meter-true geodesic buffer (r=$GeoBufR m, $GeoBufSegs verts): every ring vertex placed by the fixed-4-iteration Vincenty DIRECT solution at azimuth k*22.5 deg, oracle replaying each sigma-round stage-for-stage from the engine's ellipsoid constants; vertices quantized at 1e-6 deg and the meter-true property cross-checked engine-side via the independent Vincenty INVERSE (<1 mm).",
      Some(sql),
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_id",
            (($"value" % 300.0) - 150.0).as("cx"),
            (($"value" % 120.0) - 60.0).as("cy"))
          .select($"event_id", statsUdf($"cx", $"cy").as("st"))
          .select($"event_id", $"st._1".as("n_vtx"),
            $"st._2".as("sum_qlon_e6"), $"st._3".as("sum_qlat_e6"),
            $"st._4".as("min_qlat_e6"), $"st._5".as("max_qlat_e6"),
            $"st._6".as("meter_true"))
          .orderBy($"event_id")
      }
    )
  }

  // --------------------------------------------------------------- A11am
  /** Polar-stereographic reprojection (EPSG:4326 ↔ 3413, the NSIDC sea-ice
    * north grid, [[graft.functions.Crs.NsidcNorth]]) — the polar-cap
    * member of the CRS registry an EO pipeline hits for every
    * high-latitude product. The oracle replays the variant-B forward
    * chain op-for-op from the engine's derived constants
    * ([[graft.functions.Crs.PolarStereo.replayConstants]], the a11aj
    * pattern: pow as exp/ln so baseline DuckDB math suffices); E/N
    * quantize at meter grain and the fixed-8-iteration inverse roundtrip
    * is asserted ENGINE-side to 1e-9°. Map-side only — scan → transform.
    */
  private val a11am: QuerySpec = {
    val (ecc, rs, lon0, fe, fn, _) =
      graft.functions.Crs.NsidcNorth.replayConstants
    val sql =
      s"""WITH c AS (SELECT event_id,
              (value % 360.0) - 180.0 AS lon,
              60.0 + (value % 28.0) AS lat
            FROM events),
          p AS (SELECT event_id,
              lat * pi() / 180.0 AS phi,
              (lon - $lon0) * pi() / 180.0 AS th
            FROM c),
          s1 AS (SELECT event_id, th, sin(phi) AS sphi,
              tan(pi()/4.0 - phi/2.0) AS tb FROM p),
          s2 AS (SELECT event_id, th,
              $rs * (tb * exp(-($ecc/2.0) * ln((1.0 - $ecc*sphi)/(1.0 + $ecc*sphi)))) AS rho
            FROM s1)
          SELECT event_id,
            CAST(3413 AS BIGINT) AS srid_ps,
            CAST(floor($fe + rho * sin(th)) AS BIGINT) AS e_m,
            CAST(floor($fn - rho * cos(th)) AS BIGINT) AS n_m,
            TRUE AS roundtrip_ok
          FROM s2 ORDER BY event_id"""
    QuerySpec(
      "a11am_polar_stereo",
      "NSIDC polar stereographic north (EPSG:3413) reprojection roundtrip via the CRS registry: per-row 4326 point EWKB -> 3413 easting/northing -> back; E/N at meter quantization against an oracle replaying the variant-B forward chain from the engine's derived rho-scale; fixed-8-iteration inverse checked engine-side to 1e-9 degrees.",
      Some(sql),
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_id",
            (($"value" % 360.0) - 180.0).as("lon"),
            (lit(60.0) + ($"value" % 28.0)).as("lat"))
          .withColumn("g", reprojectUdf(sridPointUdf($"lon", $"lat", lit(4326)), lit(3413)))
          .withColumn("back", reprojectUdf($"g", lit(4326)))
          .select($"event_id",
            sridUdf($"g").cast(LongType).as("srid_ps"),
            floor(bboxUdf($"g").getField("xmin")).cast(LongType).as("e_m"),
            floor(bboxUdf($"g").getField("ymin")).cast(LongType).as("n_m"),
            (abs(bboxUdf($"back").getField("xmin") - $"lon") < 1e-9 &&
              abs(bboxUdf($"back").getField("ymin") - $"lat") < 1e-9).as("roundtrip_ok"))
          .orderBy($"event_id")
      }
    )
  }

  // --------------------------------------------------------------- A11an
  /** Spherical sinusoidal reprojection (EPSG:4326 ↔ ESRI:53008,
    * [[graft.functions.Crs.SphereSinusoidal]]) — the equal-area grid
    * MODIS-style tile products use. The cheapest registry chain (one cos
    * each way, no iteration): the oracle replays x = R·λ·cosφ, y = R·φ
    * directly; the closed-form inverse roundtrips engine-side to 1e-9°
    * everywhere off the poles. Map-side only.
    */
  private val a11an: QuerySpec = {
    val r = graft.functions.Crs.SphereSinusoidal.radius
    val sql =
      s"""WITH c AS (SELECT event_id,
              (value % 300.0) - 150.0 AS lon,
              (value % 160.0) - 80.0 AS lat
            FROM events)
          SELECT event_id,
            CAST(53008 AS BIGINT) AS srid_sinu,
            CAST(floor($r * (lon * pi() / 180.0) * cos(lat * pi() / 180.0)) AS BIGINT) AS x_m,
            CAST(floor($r * (lat * pi() / 180.0)) AS BIGINT) AS y_m,
            TRUE AS roundtrip_ok
          FROM c ORDER BY event_id"""
    QuerySpec(
      "a11an_sinusoidal",
      "Spherical sinusoidal (ESRI:53008) reprojection roundtrip via the CRS registry: per-row 4326 point EWKB -> equal-area x/y meters -> back; meter quantization against an oracle replaying x = R*lambda*cos(phi), y = R*phi; exact closed-form inverse checked engine-side to 1e-9 degrees.",
      Some(sql),
      (s, d) => {
        import s.implicits._
        Tables.events(s, d)
          .select($"event_id",
            (($"value" % 300.0) - 150.0).as("lon"),
            (($"value" % 160.0) - 80.0).as("lat"))
          .withColumn("g", reprojectUdf(sridPointUdf($"lon", $"lat", lit(4326)), lit(53008)))
          .withColumn("back", reprojectUdf($"g", lit(4326)))
          .select($"event_id",
            sridUdf($"g").cast(LongType).as("srid_sinu"),
            floor(bboxUdf($"g").getField("xmin")).cast(LongType).as("x_m"),
            floor(bboxUdf($"g").getField("ymin")).cast(LongType).as("y_m"),
            (abs(bboxUdf($"back").getField("xmin") - $"lon") < 1e-9 &&
              abs(bboxUdf($"back").getField("ymin") - $"lat") < 1e-9).as("roundtrip_ok"))
          .orderBy($"event_id")
      }
    )
  }

  // --------------------------------------------------------------- A11ao
  /** Zonal statistics — the vector-side half of the classic EO
    * raster/vector op (aggregate point observations per polygon zone):
    * [[a11w]] emits the per-(point, fence) containment pairs, this folds
    * them to per-zone count / exact value cents / first observation —
    * what a monitoring product publishes per admin region. Containment is
    * the REAL geometry path (point-in-diamond WKB even-odd ray cast); the
    * oracle replays only the L1-ball arithmetic the diamonds encode (the
    * a11w precedent).
    *
    * Scale shape: 25 zone polygons broadcast past the point stream, one
    * partial-agg shuffle to |zones| rows — at 100 TB the zone table stays
    * driver-sized and the scan is embarrassingly parallel.
    */
  private val a11ao = QuerySpec(
    "a11ao_zonal_stats",
    "Zonal statistics: per-zone point count, exact value cents, first event over 25 broadcast diamond zones (real WKB even-odd containment engine-side; oracle replays the L1-ball arithmetic); one partial-agg shuffle to |zones| rows.",
    Some("""SELECT f.zone_id, COUNT(*) AS n_points,
              CAST(SUM(CAST(floor(e.value * 100.0) AS BIGINT)) AS BIGINT) AS cents,
              MIN(e.event_id) AS first_event
            FROM events e
            JOIN (SELECT CAST(k AS BIGINT) AS zone_id, 20.0 * CAST(k AS DOUBLE) AS cx
                  FROM range(0, 25) t(k)) f
              ON 2 * abs(e.value - f.cx) < 30.06
            GROUP BY f.zone_id ORDER BY zone_id"""),
    (s, d) => {
      import s.implicits._
      val zones = s.range(0, 25).toDF("zone_id")
        .select($"zone_id",
          diamondUdf(lit(20.0) * $"zone_id".cast(DoubleType), lit(30.06)).as("zwkb"))
      Tables.events(s, d)
        .select($"event_id", $"value")
        .join(broadcast(zones), containsUdf($"zwkb", $"value", $"value"))
        .groupBy($"zone_id")
        .agg(count(lit(1)).as("n_points"),
          sum(floor($"value" * 100.0).cast(LongType)).cast(LongType).as("cents"),
          min($"event_id").as("first_event"))
        .orderBy($"zone_id")
    }
  )

  // --------------------------------------------------------------- A11ap
  /** Ring-winding normalization ([[Wkb.makeValid]], the ST_MakeValid-lite
    * every geodata ingest runs): diamonds planted with parity-derived
    * defects — odd ids wound clockwise (outer must be CCW), ids ≡ 0 mod 3
    * written UNCLOSED — are repaired, and the repaired geometry is
    * re-measured: vertex count (always 5 after closure), doubled shoelace
    * area (all-integer coordinates, so 4r² is EXACT in doubles and the
    * e6 quantization is flip-free), and idempotence (a second makeValid
    * must fire zero repairs) is asserted inside the UDF. The oracle
    * replays only the planted parity + the closed-form 4r²·1e6.
    *
    * Scale shape: per-row byte-level repair in a scalar UDF — map-side
    * only; the one exchange is the presentation sort.
    */
  private val roughDiamondUdf: UserDefinedFunction = udf { (id: Long, c: Double, r: Double) =>
    val ccw = Seq((c + r, c), (c, c + r), (c - r, c), (c, c - r))
    val ring0 = if (id % 2 == 1) ccw.reverse else ccw
    val ring = if (id % 3 == 0) ring0 else ring0 :+ ring0.head
    Wkb.polygon(Seq(ring))
  }
  private val makeValidStatsUdf: UserDefinedFunction = udf { (wkb: Array[Byte]) =>
    val (fixedWkb, rewound, closedN) = Wkb.makeValid(wkb)
    val (_, re2, cl2) = Wkb.makeValid(fixedWkb)
    require(re2 == 0 && cl2 == 0, "makeValid must be idempotent")
    (rewound > 0, closedN > 0,
      Wkb.ringVertexCounts(fixedWkb).head.toLong,
      math.floor(Wkb.area(fixedWkb) * 2.0 * 1000000.0).toLong)
  }
  private val a11ap = QuerySpec(
    "a11ap_make_valid",
    "Ring-winding normalization (ST_MakeValid-lite): parity-planted CW/unclosed diamonds repaired to OGC right-hand-rule closed rings, idempotence asserted in the UDF; repair flags + post-fix vertex count + exact e6 doubled shoelace vs an oracle replaying the planted parity and closed-form 4r^2.",
    Some("""WITH c AS (SELECT event_id,
              CAST(5 + event_id % 7 AS DOUBLE) AS r
            FROM events)
          SELECT event_id,
            (event_id % 2 = 1) AS rewound,
            (event_id % 3 = 0) AS closed,
            CAST(5 AS BIGINT) AS n_vtx,
            CAST(4 * r * r * 1000000 AS BIGINT) AS area2_e6
          FROM c ORDER BY event_id"""),
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id",
          (lit(2.0) * ($"user_id" % 100).cast(DoubleType)).as("c"),
          (lit(5.0) + ($"event_id" % 7).cast(DoubleType)).as("r"))
        .select($"event_id",
          makeValidStatsUdf(roughDiamondUdf($"event_id", $"c", $"r")).as("st"))
        .select($"event_id", $"st._1".as("rewound"), $"st._2".as("closed"),
          $"st._3".as("n_vtx"), $"st._4".as("area2_e6"))
        .orderBy($"event_id")
    }
  )

  // --------------------------------------------------------------- A11aq
  /** Spatial kNN join ([[knnPolygonsWithinR]], k=3) — the "3 nearest
    * facilities per point" analytics classic, generalizing [[a11j]]'s
    * argmin to a ranked list. Search radius 25 reaches each point's own
    * diamond plus both 20-spaced neighbors, so most points emit a full
    * top-3; the oracle replays the exact clamp-chain distances over a
    * plain cross join and ranks with the identical (dist, poly_id) total
    * order.
    */
  private val a11aq = QuerySpec(
    "a11aq_knn_join",
    "Grid-blocked spatial kNN join (k=3, r=25): events points vs 25 nation diamonds, r-ball cell expansion + canonical-cell dedup + exact distance refine, per-point ranked top-3 via WindowGroupLimit; oracle replays the clamp-chain distances over a cross join with the identical tie-break.",
    Some(knnDiamondOracle(vr = 15.11, r = 25.0, k = 3, emitRn = true)),
    (s, d) => {
      import s.implicits._
      // r18 (guide §3.1 + §2.5): the poly side is 25 nation diamonds — an
      // explicit broadcast turns the cell equi-join into a BHJ, so the
      // CPU-dense distance refine runs in the SCAN stage instead of after
      // a two-sided cell exchange AQE coalesced to ~9 byte-sized tasks;
      // Par.spread then gives that scan stage the session's parallelism
      // (identity at production layouts). Caller-side, like a11ao's zonal
      // broadcast — the library join stays strategy-neutral for big poly
      // sides.
      val points = graft.Par.spread(Tables.events(s, d)
        .select($"event_id".cast(StringType).as("point_id"),
          $"value".as("px"), $"value".as("py")))
      val polys = broadcast(Tables.nation(s, d)
        .select($"n_nationkey".as("poly_id"),
          diamondUdf(lit(20.0) * $"n_nationkey".cast(DoubleType), lit(15.11)).as("wkb")))
      knnPolygonsWithinR(points, polys, r = 25.0, cell = 25.0, k = 3)
        .orderBy($"point_id", $"rn")
    }
  )

  // --------------------------------------------------------------- A11ar
  /** Trajectory statistics — the moving-features analytics a geodata
    * stream grows into (track length, speed, dwell): per entity, order
    * the observation sequence by event time and roll up planar step
    * distances into path length, max step, slow-step (dwell) count, and
    * elapsed time. Every step's √(dx²+dy²) is the same IEEE chain on both
    * engines and is floored to e6 BEFORE the per-user sum, so the path
    * length is an exact integer sum (order-free) — the c3_matryoshka
    * drift-sum discipline.
    *
    * Scale shape: ONE user-keyed exchange feeds the two lag windows and
    * the rollup (entity keys grow with the data — never unpartitioned);
    * dwell threshold and positions are closed-form from the row.
    */
  private val a11ar = QuerySpec(
    "a11ar_trajectory",
    "Trajectory statistics per entity: event-time-ordered planar steps rolled up to exact-e6 path length, max step, dwell (step < 1.0) count, and elapsed seconds; one user-keyed exchange for the lag windows + rollup; oracle replays the identical lag/sqrt chains.",
    Some("""WITH p AS (SELECT user_id, epoch_us(ts) AS ts_us,
              value % 100.0 AS px, (value * 3.0) % 100.0 AS py
              FROM events),
            st AS (SELECT user_id, ts_us,
                px - lag(px) OVER w AS dx, py - lag(py) OVER w AS dy
              FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
            d AS (SELECT user_id, ts_us,
                CAST(floor(sqrt(dx * dx + dy * dy) * 1000000.0) AS BIGINT) AS step_e6
              FROM st WHERE dx IS NOT NULL)
            SELECT p.user_id,
              CAST(COUNT(*) AS BIGINT) AS n_points,
              CAST(COALESCE(SUM(d.step_e6), 0) AS BIGINT) AS path_e6,
              CAST(COALESCE(MAX(d.step_e6), 0) AS BIGINT) AS max_step_e6,
              CAST(COALESCE(SUM(CASE WHEN d.step_e6 < 1000000 THEN 1 END), 0) AS BIGINT) AS n_dwell,
              CAST((MAX(p.ts_us) - MIN(p.ts_us)) // 1000000 AS BIGINT) AS elapsed_s
            FROM p LEFT JOIN d ON d.user_id = p.user_id AND d.ts_us = p.ts_us
            GROUP BY p.user_id ORDER BY p.user_id"""),
    (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts_us")
      val p = Tables.events(s, d)
        .select($"user_id", unix_micros($"ts").as("ts_us"),
          ($"value" % 100.0).as("px"), (($"value" * 3.0) % 100.0).as("py"))
      p.withColumn("dx", $"px" - lag($"px", 1).over(w))
        .withColumn("dy", $"py" - lag($"py", 1).over(w))
        .withColumn("step_e6",
          when($"dx".isNotNull,
            floor(sqrt($"dx" * $"dx" + $"dy" * $"dy") * 1000000.0).cast(LongType)))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_points"),
          coalesce(sum($"step_e6"), lit(0L)).cast(LongType).as("path_e6"),
          coalesce(max($"step_e6"), lit(0L)).cast(LongType).as("max_step_e6"),
          coalesce(sum(when($"step_e6" < 1000000L, 1L)), lit(0L)).cast(LongType).as("n_dwell"),
          expr("(max(ts_us) - min(ts_us)) div 1000000").cast(LongType).as("elapsed_s"))
        .orderBy($"user_id")
    }
  )

  // --------------------------------------------------------------- A11as
  /** Grid-density clustering (DBSCAN's cell-level formulation) — the
    * point-cloud companion to [[a11ad]]'s hexbin census: snap every point
    * to an eps-sized grid cell, call a cell CORE when its population
    * clears a density threshold, and merge 8-adjacent core cells into
    * clusters. This is exactly how planet-scale DBSCAN is run in practice
    * (grid partitioning first, exact eps-neighborhood refinement only
    * within candidate cells); at the cell granularity the result is fully
    * deterministic and SQL-replayable — no float distance ties, no
    * border-point assignment ambiguity (the classic DBSCAN
    * nondeterminism) can enter.
    *
    * Density threshold is data-derived but exact: minPts = ⌊12·N / (10·C)⌋
    * (1.2× the mean occupancy of the C non-empty cells), an integer chain
    * both engines replay identically.
    *
    * Scale shape: ONE corpus-grain shuffle (the cell rollup — map-side
    * partial counts); everything after runs on the CELL table, which is
    * bounded by the domain extent over eps², not by N. The 8-neighbor
    * edge join explodes 8 candidate keys per core cell against the core
    * set (equi-join, never all-pairs), and the component merge is the
    * audited O(log n)-round star-contraction CC. The oracle replays
    * reachability with a recursive CTE (the c2_cluster discipline).
    */
  private val DbscanEps = 5.0
  private val a11as = QuerySpec(
    "a11as_dbscan",
    "Grid-density DBSCAN: points snapped to eps=5 cells, core cells at >=1.2x mean occupancy, 8-adjacent core cells merged by star-contraction CC; per cluster its min-cell label, cell count, and point count — one corpus-grain shuffle, then cell-table-sized work.",
    Some(s"""WITH RECURSIVE p AS (SELECT value % 100.0 AS px, (value * 3.0) % 100.0 AS py
              FROM events),
            c AS (SELECT CAST(floor(px / $DbscanEps) AS BIGINT) * 1000
                       + CAST(floor(py / $DbscanEps) AS BIGINT) AS cell,
                CAST(COUNT(*) AS BIGINT) AS cnt
              FROM p GROUP BY 1),
            mp AS (SELECT CAST((SUM(cnt) * 12) // (10 * COUNT(*)) AS BIGINT) AS minpts
              FROM c),
            core AS (SELECT c.cell, c.cnt FROM c, mp WHERE c.cnt >= mp.minpts),
            off AS (SELECT CAST(unnest([-1001, -1000, -999, -1, 1, 999, 1000, 1001]) AS BIGINT) AS o),
            e AS (SELECT a.cell AS s, b.cell AS d
              FROM core a CROSS JOIN off JOIN core b ON b.cell = a.cell + off.o),
            reach AS (SELECT cell AS id, cell AS root FROM core
              UNION
              SELECT e.d, reach.root FROM reach JOIN e ON e.s = reach.id),
            lab AS (SELECT id, MIN(root) AS cluster FROM reach GROUP BY id)
            SELECT lab.cluster AS cluster_id,
              CAST(COUNT(*) AS BIGINT) AS n_cells,
              CAST(SUM(core.cnt) AS BIGINT) AS n_points
            FROM lab JOIN core ON core.cell = lab.id
            GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      import s.implicits._
      val cells = CacheRegistry.persist(Tables.events(s, d)
        .select((floor(($"value" % 100.0) / DbscanEps).cast(LongType) * 1000L
          + floor((($"value" * 3.0) % 100.0) / DbscanEps).cast(LongType)).as("cell"))
        .groupBy($"cell").agg(count(lit(1)).as("cnt")))
      // 1-row density threshold rides a broadcast past the cell table
      val minPts = cells
        .agg(expr("(sum(cnt) * 12) div (10 * count(*))").cast(LongType).as("minpts"))
      val core = CacheRegistry.persist(cells
        .crossJoin(broadcast(minPts)).filter($"cnt" >= $"minpts")
        .select($"cell", $"cnt"))
      val offsets = typedLit(Seq(-1001L, -1000L, -999L, -1L, 1L, 999L, 1000L, 1001L))
      val edges = core.select(explode(offsets).as("o"), $"cell")
        .select($"cell".as("src"), ($"cell" + $"o").as("nbr"))
        .join(core.select($"cell".as("dst")), $"nbr" === $"dst")
        .select($"src", $"dst")
      val labels = TierCSim.connectedComponentsStar(s,
        core.select($"cell".as("id")), edges)
      labels.join(core, $"id" === $"cell")
        .groupBy($"cluster".as("cluster_id"))
        .agg(count(lit(1)).as("n_cells"), sum($"cnt").cast(LongType).as("n_points"))
        .orderBy($"cluster_id")
    }
  )

  // --------------------------------------------------------------- A11at
  /** Areal interpolation (zone → grid transfer) — the classic GIS
    * operation for moving a statistic between INCOMPATIBLE zone systems
    * (census tracts → analysis grid): each source zone's value is split
    * across the grid cells it overlaps, weighted by overlap area / zone
    * area, and re-aggregated per cell. Zones here are 24×24 axis-aligned
    * squares on integer corners and the target grid is 10-wide, so every
    * overlap width/height is an exact nonnegative integer and the whole
    * transfer chain is integer arithmetic — `pop·ow·oh·1000 div 576`
    * per (zone, cell), summed per cell (truncation happens per pair,
    * identically in both engines).
    *
    * Scale shape: each zone EXPLODES to its ≤16 covered cells map-side
    * (closed-form floor bounds — the PBSM cell-cover rule, no join at
    * all), and one partial-agged rollup lands on the cell key. At 100 TB
    * the zone table is the big side and the fan-out stays bounded by
    * zone-extent/cell-size², exactly like the audited spatial joins.
    */
  private val a11at = QuerySpec(
    "a11at_areal_interp",
    "Areal interpolation: 25 positive-integer-cornered 24x24 zones split their population across the 10-grid cells they overlap, weight = exact integer overlap area / 576, transferred milli-units summed per cell — map-side cell explode (no join), one partial-agged rollup on the cell key.",
    Some("""WITH z AS (SELECT n_nationkey AS zid,
              CAST(20 * n_nationkey + 4 AS BIGINT) AS x0,
              CAST(20 * n_nationkey + 28 AS BIGINT) AS x1,
              CAST(10 * (n_nationkey % 7) + 3 AS BIGINT) AS y0,
              CAST(10 * (n_nationkey % 7) + 27 AS BIGINT) AS y1,
              CAST((n_nationkey + 1) * 1000 AS BIGINT) AS pop
            FROM nation),
          cand AS (SELECT z.*, cx.cx, cy.cy
            FROM z,
              LATERAL (SELECT CAST(unnest(range(x0 // 10, x1 // 10 + 1)) AS BIGINT) AS cx) cx,
              LATERAL (SELECT CAST(unnest(range(y0 // 10, y1 // 10 + 1)) AS BIGINT) AS cy) cy),
          ov AS (SELECT zid, cx, cy, pop,
              greatest(0, least(x1, cx * 10 + 10) - greatest(x0, cx * 10)) AS ow,
              greatest(0, least(y1, cy * 10 + 10) - greatest(y0, cy * 10)) AS oh
            FROM cand)
          SELECT cx AS cell_x, cy AS cell_y,
            CAST(COUNT(*) AS BIGINT) AS n_zones,
            CAST(SUM(pop * ow * oh * 1000 // 576) AS BIGINT) AS pop_milli
          FROM ov WHERE ow > 0 AND oh > 0
          GROUP BY cx, cy ORDER BY cell_x, cell_y"""),
    (s, d) => {
      import s.implicits._
      val z = Tables.nation(s, d).select(
        $"n_nationkey".as("zid"),
        (lit(20L) * $"n_nationkey" + 4L).cast(LongType).as("x0"),
        (lit(20L) * $"n_nationkey" + 28L).cast(LongType).as("x1"),
        (lit(10L) * ($"n_nationkey" % 7) + 3L).cast(LongType).as("y0"),
        (lit(10L) * ($"n_nationkey" % 7) + 27L).cast(LongType).as("y1"),
        (($"n_nationkey" + 1L) * 1000L).cast(LongType).as("pop"))
      z.select($"zid", $"pop", $"x0", $"x1", $"y0", $"y1",
          explode(sequence(expr("x0 div 10"), expr("x1 div 10"))).as("cx"))
        .select($"zid", $"pop", $"x0", $"x1", $"y0", $"y1", $"cx",
          explode(sequence(expr("y0 div 10"), expr("y1 div 10"))).as("cy"))
        .select($"zid", $"pop", $"cx", $"cy",
          greatest(lit(0L), least($"x1", $"cx" * 10L + 10L) - greatest($"x0", $"cx" * 10L)).as("ow"),
          greatest(lit(0L), least($"y1", $"cy" * 10L + 10L) - greatest($"y0", $"cy" * 10L)).as("oh"))
        .filter($"ow" > 0L && $"oh" > 0L)
        .groupBy($"cx".as("cell_x"), $"cy".as("cell_y"))
        .agg(count(lit(1)).as("n_zones"),
          sum(expr("pop * ow * oh * 1000 div 576")).cast(LongType).as("pop_milli"))
        .orderBy($"cell_x", $"cell_y")
    }
  )

  val specs: Seq[QuerySpec] =
    Seq(a11d, a11f, a11j, a11m, a11ab, a11n, a11o, a11q, a11r, a11s, a11t, a11u, a11v, a11w, a11yy,
      a11ad, a11ae, a11af, a11ag, a11ah, a11ai, a11aj, a11ak, a11am, a11an, a11ao, a11ap, a11aq,
      a11ar, a11as, a11at, a11au, a11av, a11aw)
}
