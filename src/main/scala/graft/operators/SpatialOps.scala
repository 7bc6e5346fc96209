package graft.operators

import graft.QueryGroup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spatial join, points subset (reference: SpatialJoinOperator +
  * ExtractSpatialJoins in presto-main, ST_Point/ST_Distance in
  * presto-geospatial/GeoFunctions.java). The container has no geometry
  * library, so the engine carries the pure-arithmetic subset itself:
  * points, linestrings, WKT polygons with holes (containment/area/
  * centroid/envelope/intersects/intersection/union) and the complete
  * Bing tile family (functions/GeometryFns.scala). What IS fully in
  * scope is the part that decides scalability: spatial joins that never
  * go all-pairs — uniform-grid bucketing below, and a KD-B tree
  * ([[kdbLeaves]]) whose data-adaptive median splits keep partitions
  * balanced under skew (the reference's KdbTree.java).
  *
  * 100 TB design — grid bucketing (the planar analog of the reference's
  * KdbTree spatial partitioning, SpatialPartitioningAggregateFunction
  * .java): hash every left point into its radius-sized grid cell, every
  * right point into its cell AND the 8 neighbors (3×3 explode), then an
  * EQUI-join on the cell key + exact distance filter. Cost is
  * Σ|cell|·|neighborhood| — linear for bounded point density — and the
  * join is a plain shuffled/broadcast hash join Catalyst can plan
  * (PlanSpec pins: no CartesianProduct). A naive theta-join
  * `ST_Distance(a, b) < r` is the cross product the reference's
  * ExtractSpatialJoins optimizer rewrite exists to avoid.
  */
object SpatialOps extends QueryGroup {

  /** Distance join: pairs (left, right) with euclidean distance < radius.
    * Inputs need `x`/`y` columns plus the given id columns.
    */
  def distanceJoin(left: DataFrame, right: DataFrame, radius: Double,
      leftId: String, rightId: String): DataFrame = {
    def cell(c: Column): Column = floor(c / lit(radius)).cast("long")
    val l = left.select(col(leftId), col("x").as("lx"), col("y").as("ly"),
      cell(col("x")).as("cx"), cell(col("y")).as("cy"))
    val offsets = array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
      struct(lit(dx).as("dx"), lit(dy).as("dy")))): _*)
    val r = right.select(col(rightId), col("x").as("rx"), col("y").as("ry"))
      .withColumn("o", explode(offsets))
      .select(col(rightId), col("rx"), col("ry"),
        (cell(col("rx")) + col("o.dx")).as("cx"),
        (cell(col("ry")) + col("o.dy")).as("cy"))
    l.join(r, Seq("cx", "cy"))
      .withColumn("dist",
        sqrt(pow(col("lx") - col("rx"), 2) + pow(col("ly") - col("ry"), 2)))
      .filter(col("dist") < radius)
      .select(col(leftId), col(rightId), round(col("dist"), 4).as("dist"))
  }

  /** KD-B leaf rectangle, half-open ([xmin, xmax) × [ymin, ymax)); the
    * outermost edges extend to ±∞ so the leaves partition the whole plane.
    */
  final case class KdbLeaf(id: Int, xmin: Double, ymin: Double,
      xmax: Double, ymax: Double)

  /** Build KD-B tree leaves from a driver-side sample by recursive median
    * splits on alternating axes (the reference's adaptive spatial
    * partitioner: presto-geospatial KdbTree.java +
    * SpatialPartitioningAggregateFunction). Unlike the uniform grid,
    * leaf boundaries FOLLOW THE DATA: a dense city and an empty desert
    * get the same per-leaf population, so no partition hot-spots under
    * skew. The sample is bounded (≤ a few thousand points, same
    * driver-collect discipline as the IVF centroid read-back) and the
    * leaf set is broadcast-tiny.
    */
  /** KD-B tree node: interior splits carry the axis + threshold so
    * point→leaf lookup is an O(depth) descent, not a linear scan over
    * the leaf array (history: in round 11 a since-retired spatial
    * stress main found a cliff at m100, where 1.6M points × ~60 leaves
    * of interpreted rectangle tests made the KD-B join 5.8× slower
    * than the uniform grid; the descent closes that to parity — see
    * BENCHLOG).
    */
  sealed trait KdbNode extends Serializable
  final case class KdbBranch(onX: Boolean, at: Double,
      lo: KdbNode, hi: KdbNode) extends KdbNode
  final case class KdbLeafRef(id: Int) extends KdbNode

  def kdbLeaves(sample: Array[(Double, Double)], leafCap: Int): Array[KdbLeaf] =
    kdbTree(sample, leafCap)._2

  /** Build the KD-B tree: returns (root, leaves). The leaf array is what
    * partitions the plane; the root is the O(depth) lookup structure.
    */
  def kdbTree(sample: Array[(Double, Double)],
      leafCap: Int): (KdbNode, Array[KdbLeaf]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[KdbLeaf]
    val inf = Double.PositiveInfinity
    def split(pts: Array[(Double, Double)], xmin: Double, ymin: Double,
        xmax: Double, ymax: Double, onX: Boolean, triedOther: Boolean): KdbNode = {
      val axis = (p: (Double, Double)) => if (onX) p._1 else p._2
      lazy val sorted = pts.sortBy(axis)
      lazy val m = axis(sorted(pts.length / 2))
      if (pts.length <= leafCap) {
        out += KdbLeaf(out.length, xmin, ymin, xmax, ymax)
        KdbLeafRef(out.length - 1)
      } else if (axis(sorted.head) == m) {
        // degenerate axis (median == minimum, e.g. all x equal): retry
        // the OTHER axis before giving up — a sample collinear on x but
        // spread on y still splits on y. Only when both axes are
        // degenerate (all points identical) emit the oversized leaf.
        if (triedOther) {
          out += KdbLeaf(out.length, xmin, ymin, xmax, ymax)
          KdbLeafRef(out.length - 1)
        } else split(pts, xmin, ymin, xmax, ymax, !onX, triedOther = true)
      } else {
        val (lo, hi) = pts.partition(p => axis(p) < m)
        if (onX)
          KdbBranch(onX = true, m,
            split(lo, xmin, ymin, m, ymax, onX = false, triedOther = false),
            split(hi, m, ymin, xmax, ymax, onX = false, triedOther = false))
        else
          KdbBranch(onX = false, m,
            split(lo, xmin, ymin, xmax, m, onX = true, triedOther = false),
            split(hi, xmin, m, xmax, ymax, onX = true, triedOther = false))
      }
    }
    val root = split(sample, -inf, -inf, inf, inf, onX = true, triedOther = false)
    (root, out.toArray)
  }

  /** O(depth) point→leaf descent (half-open: lo covers < at). */
  @annotation.tailrec
  private[operators] def leafOfPoint(node: KdbNode, x: Double, y: Double): Int =
    node match {
      case KdbLeafRef(id) => id
      case KdbBranch(onX, at, lo, hi) =>
        leafOfPoint(if ((if (onX) x else y) < at) lo else hi, x, y)
    }

  /** All leaves whose rectangle overlaps the radius-box around (x, y) —
    * descends BOTH sides only where the box straddles the split.
    */
  private[operators] def leavesNearPoint(node: KdbNode, x: Double, y: Double,
      radius: Double, acc: scala.collection.mutable.ArrayBuffer[Int]): Unit =
    node match {
      case KdbLeafRef(id) => acc += id
      case KdbBranch(onX, at, lo, hi) =>
        val c = if (onX) x else y
        if (c - radius < at) leavesNearPoint(lo, x, y, radius, acc)
        if (c + radius >= at) leavesNearPoint(hi, x, y, radius, acc)
    }

  /** Distance join partitioned by a KD-B tree built from `sample` — the
    * skew-proof variant of [[distanceJoin]]: left points key on
    * (containing leaf, radius-grid cell); right points replicate to
    * every leaf their radius-box overlaps (O(1) leaves for radius ≪
    * leaf extent) × the 3×3 cell neighborhood, then a plain equi-join +
    * exact distance filter. A qualifying pair always meets: the left
    * point lies inside the right point's radius-box, so that box
    * overlaps the left leaf, and cell adjacency holds as in
    * [[distanceJoin]]. The left key is unique per point, so no pair
    * duplicates.
    *
    * WHY BOTH KEYS (history: found by a since-retired round-11 spatial
    * stress main): leaf-only joining is a within-leaf cartesian — the
    * leaf count is bounded by the driver sample, so per-leaf population grows ∝ N and the join does
    * Σ|leaf_l|·|leaf_r| work (measured 6.5× slower than the grid at
    * 1.6M points, and heading quadratic). The reference composes its
    * KDB partitioning with a PER-PARTITION R-tree
    * (presto-geospatial/.../SpatialJoinOperator + PagesRTreeIndex);
    * the radius grid is this engine's codegen-friendly local-index
    * stand-in, while the leaf key keeps the SHUFFLE balanced under
    * skew (the property the grid alone lacks when density clumps).
    */
  def kdbDistanceJoin(left: DataFrame, right: DataFrame, radius: Double,
      leftId: String, rightId: String, sample: Array[(Double, Double)],
      leafCap: Int = 64): DataFrame = {
    val (root, _) = kdbTree(sample, leafCap)
    // O(depth) tree descents, not per-leaf rectangle scans
    val leafOf = udf { (x: Double, y: Double) => leafOfPoint(root, x, y) }
    val leavesNear = udf { (x: Double, y: Double) =>
      val acc = scala.collection.mutable.ArrayBuffer.empty[Int]
      leavesNearPoint(root, x, y, radius, acc)
      acc.toArray
    }
    def cell(c: Column): Column = floor(c / lit(radius)).cast("long")
    val offsets = array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
      struct(lit(dx).as("dx"), lit(dy).as("dy")))): _*)
    val l = left.select(col(leftId), col("x").as("lx"), col("y").as("ly"))
      .withColumn("leaf", leafOf(col("lx"), col("ly")))
      .withColumn("cx", cell(col("lx"))).withColumn("cy", cell(col("ly")))
    val r = right.select(col(rightId), col("x").as("rx"), col("y").as("ry"))
      .withColumn("leaf", explode(leavesNear(col("rx"), col("ry"))))
      .withColumn("o", explode(offsets))
      .select(col(rightId), col("rx"), col("ry"), col("leaf"),
        (cell(col("rx")) + col("o.dx")).as("cx"),
        (cell(col("ry")) + col("o.dy")).as("cy"))
    l.join(r, Seq("leaf", "cx", "cy"))
      .withColumn("dist",
        sqrt(pow(col("lx") - col("rx"), 2) + pow(col("ly") - col("ry"), 2)))
      .filter(col("dist") < radius)
      .select(col(leftId), col(rightId), round(col("dist"), 4).as("dist"))
  }

  /** Polygon-polygon intersection join, grid-bucketed — the polygon
    * analog of [[distanceJoin]] (reference SpatialJoinOperator.java:40
    * with KdbTree partitioning; grid cells are the planar stand-in).
    * Each geometry emits every grid cell its ENVELOPE overlaps; two
    * intersecting geometries always share a bbox point, hence a cell, so
    * the cell equi-join is a complete candidate generator. Exact
    * boundary-inclusive ST_Intersects then filters, and duplicate pairs
    * (one per shared cell) collapse. Cost is Σ|cell|² over occupied
    * cells — linear for bounded geometry density, never all-pairs.
    *
    * Inputs need (id, wkt) columns; `cellSize` should be ≥ the typical
    * geometry extent so each emits O(1) cells.
    */
  def polygonIntersectionJoin(left: DataFrame, right: DataFrame,
      cellSize: Double, leftId: String, rightId: String): DataFrame = {
    def cells(df: DataFrame, id: String, wkt: Column): DataFrame = df
      .withColumn("x0", callUDF("st_xmin", wkt))
      .withColumn("x1", callUDF("st_xmax", wkt))
      .withColumn("y0", callUDF("st_ymin", wkt))
      .withColumn("y1", callUDF("st_ymax", wkt))
      .withColumn("cx", explode(sequence(
        floor(col("x0") / cellSize).cast("long"),
        floor(col("x1") / cellSize).cast("long"))))
      .withColumn("cy", explode(sequence(
        floor(col("y0") / cellSize).cast("long"),
        floor(col("y1") / cellSize).cast("long"))))
      .select(col(id), wkt.as(s"${id}_wkt"), col("cx"), col("cy"),
        col("x0").as(s"${id}_x0"), col("x1").as(s"${id}_x1"),
        col("y0").as(s"${id}_y0"), col("y1").as(s"${id}_y1"))
    // cheap numeric bbox overlap first — candidate cells overgenerate
    // ~30× for dense data, and every survivor of this filter skips two
    // WKT parses unless its ENVELOPES truly overlap; only then the exact
    // boundary-inclusive predicate runs
    cells(left, leftId, col("wkt")).alias("l")
      .join(cells(right, rightId, col("wkt")).alias("r"), Seq("cx", "cy"))
      .filter(col(s"${leftId}_x0") <= col(s"${rightId}_x1") &&
        col(s"${rightId}_x0") <= col(s"${leftId}_x1") &&
        col(s"${leftId}_y0") <= col(s"${rightId}_y1") &&
        col(s"${rightId}_y0") <= col(s"${leftId}_y1"))
      .filter(callUDF("st_intersects",
        col(s"${leftId}_wkt"), col(s"${rightId}_wkt")))
      .select(col(leftId), col(rightId))
      .distinct()
  }

  // deterministic synthetic planar coordinates (the fixture has no geo
  // columns); same arithmetic on both engines so the oracle reproduces it
  private def pts(table: String, id: String, a: Int, b: Int): String =
    s"""SELECT $id, CAST($id * $a % 997 AS DOUBLE) / 10.0 AS x,
       |  CAST($id * $b % 983 AS DOUBLE) / 10.0 AS y FROM $table""".stripMargin

  /** Key-derived axis-aligned rectangles as WKT (engine) — the oracle
    * reproduces the same rectangles as plain interval arithmetic.
    */
  private def rects(src: String, id: String, a: Int, b: Int,
      wmod: Int, hmod: Int, wbase: Int, hbase: Int, limit: Int): String =
    s"""SELECT $id, concat('POLYGON ((', x, ' ', y, ', ', x + w, ' ', y, ', ',
       |    x + w, ' ', y + h, ', ', x, ' ', y + h, ', ', x, ' ', y, '))') AS wkt
       |FROM (SELECT $id, x, y,
       |        CAST($wbase + $id % $wmod AS DOUBLE) AS w,
       |        CAST($hbase + $id % $hmod AS DOUBLE) AS h
       |      FROM (${pts(src, id, a, b)}) p WHERE $id < $limit) r""".stripMargin

  def defs = Seq(
    // grid-bucketed distance join vs the oracle's brute-force cross join
    q("spatial_distance_join",
      s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)}),
         |s AS (${pts("supplier", "s_suppkey", 53, 67)})
         |SELECT c_custkey, s_suppkey,
         |  round(sqrt((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)), 4) AS dist
         |FROM c CROSS JOIN s
         |WHERE sqrt((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)) < 3.0
         |ORDER BY c_custkey, s_suppkey""".stripMargin) { (sp, _) =>
      val c = sp.sql(pts("customer", "c_custkey", 37, 91))
      val s = sp.sql(pts("supplier", "s_suppkey", 53, 67))
      distanceJoin(c, s, 3.0, "c_custkey", "s_suppkey")
        .orderBy("c_custkey", "s_suppkey")
    },

    // KD-B-tree-partitioned distance join vs the same brute-force oracle:
    // identical semantics to spatial_distance_join, but the partitions
    // are data-adaptive median splits (no hot cells under skew — the
    // balance property is pinned in SpatialSpec). The sample is a
    // deterministic key-sliced driver collect, bounded like the IVF
    // centroid read-back.
    q("spatial_kdb_join",
      s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)}),
         |s AS (${pts("supplier", "s_suppkey", 53, 67)})
         |SELECT c_custkey, s_suppkey,
         |  round(sqrt((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)), 4) AS dist
         |FROM c CROSS JOIN s
         |WHERE sqrt((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)) < 2.5
         |ORDER BY c_custkey, s_suppkey""".stripMargin) { (sp, _) =>
      val c = sp.sql(pts("customer", "c_custkey", 37, 91))
      val s = sp.sql(pts("supplier", "s_suppkey", 53, 67))
      val sample = c.filter(col("c_custkey") % 3 === 0)
        .select(col("x"), col("y")).limit(2000).collect()
        .map(r => (r.getDouble(0), r.getDouble(1)))
      kdbDistanceJoin(c, s, 2.5, "c_custkey", "s_suppkey", sample)
        .orderBy("c_custkey", "s_suppkey")
    },

    // point scalars + spherical distance (SphericalGeoFunctions.java:171)
    q("spatial_point_fns",
      s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)})
         |SELECT c_custkey, x AS px, y AS py,
         |  round(sqrt(x * x + y * y), 4) AS dist_origin,
         |  round(2 * 6371.01 * asin(sqrt(
         |    sin(radians(y / 2 - 40) / 2) * sin(radians(y / 2 - 40) / 2) +
         |    cos(radians(40)) * cos(radians(y / 2)) *
         |    sin(radians(x - 70) / 2) * sin(radians(x - 70) / 2))), 1) AS gc_km
         |FROM c WHERE c_custkey < 200 ORDER BY c_custkey""".stripMargin) { (sp, _) =>
      sp.sql(
        s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)}),
           |p AS (SELECT c_custkey, st_point(x, y) AS pt FROM c WHERE c_custkey < 200)
           |SELECT c_custkey, st_x(pt) AS px, st_y(pt) AS py,
           |  round(st_distance(pt, st_point(0.0D, 0.0D)), 4) AS dist_origin,
           |  round(great_circle_distance(40.0D, 70.0D, st_y(pt) / 2, st_x(pt)), 1) AS gc_km
           |FROM p ORDER BY c_custkey""".stripMargin)
    },

    // WKT polygon subset (GeometryFns; reference GeoFunctions.java):
    // per-customer axis-aligned rectangles derived from keys. Bounds sit
    // on .05 offsets while point coordinates are .1 multiples, so no
    // point ever lands exactly on a boundary — strict-inside range
    // checks in the oracle are then EXACTLY the even-odd containment
    // test (the concave/hole cases ray casting must get right have no
    // SQL oracle and are pinned in FnSpec).
    q("spatial_polygon_ops",
      s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)}),
         |r AS (SELECT c_custkey, x, y,
         |  CAST(c_custkey % 7 AS DOUBLE) * 10 + 0.05 AS rx,
         |  CAST(c_custkey % 5 AS DOUBLE) * 12 + 0.05 AS ry,
         |  16.0 + CAST(c_custkey % 3 AS DOUBLE) * 2 AS h
         |  FROM c WHERE c_custkey < 300)
         |SELECT c_custkey,
         |  (x > rx AND x < rx + 15 AND y > ry AND y < ry + h) AS inside,
         |  round(15 * h, 4) AS ar,
         |  round(rx + 7.5, 4) AS cx, round(ry + h / 2, 4) AS cy,
         |  true AS env_roundtrip,
         |  4 AS np
         |FROM r ORDER BY c_custkey""".stripMargin) { (sp, _) =>
      sp.sql(
        s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)}),
           |r AS (SELECT c_custkey, x, y,
           |  CAST(c_custkey % 7 AS DOUBLE) * 10 + 0.05 AS rx,
           |  CAST(c_custkey % 5 AS DOUBLE) * 12 + 0.05 AS ry,
           |  16.0 + CAST(c_custkey % 3 AS DOUBLE) * 2 AS h
           |  FROM c WHERE c_custkey < 300),
           |w AS (SELECT c_custkey, x, y,
           |  st_polygon(concat('POLYGON ((', rx, ' ', ry, ', ', rx + 15, ' ', ry,
           |    ', ', rx + 15, ' ', ry + h, ', ', rx, ' ', ry + h,
           |    ', ', rx, ' ', ry, '))')) AS poly
           |  FROM r)
           |SELECT c_custkey,
           |  st_contains(poly, st_as_text(st_point(x, y))) AS inside,
           |  round(st_area(poly), 4) AS ar,
           |  round(st_x(st_centroid(poly)), 4) AS cx,
           |  round(st_y(st_centroid(poly)), 4) AS cy,
           |  st_equals(st_envelope(poly), poly) AS env_roundtrip,
           |  CAST(st_num_points(poly) AS INT) AS np
           |FROM w ORDER BY c_custkey""".stripMargin)
    },

    // polygon ⨝ polygon intersection join (reference
    // SpatialJoinOperator.java:40 + ST_Intersects GeoFunctions.java:118):
    // grid-bucketed candidates + exact boundary-inclusive predicate on
    // the engine; the oracle reproduces rectangle intersection as pure
    // interval arithmetic (closed intervals ≡ boundary-inclusive
    // ST_Intersects, so shared edges and touching corners agree)
    q("spatial_polygon_join",
      s"""WITH a AS (SELECT c_custkey, x AS ax, y AS ay,
         |  CAST(3 + c_custkey % 5 AS DOUBLE) AS aw,
         |  CAST(2 + c_custkey % 7 AS DOUBLE) AS ah
         |  FROM (${pts("customer", "c_custkey", 37, 91)}) p WHERE c_custkey < 2000),
         |b AS (SELECT s_suppkey, x AS bx, y AS b_y,
         |  CAST(4 + s_suppkey % 6 AS DOUBLE) AS bw,
         |  CAST(3 + s_suppkey % 4 AS DOUBLE) AS bh
         |  FROM (${pts("supplier", "s_suppkey", 53, 67)}) p WHERE s_suppkey < 2000)
         |SELECT c_custkey, s_suppkey FROM a, b
         |WHERE ax <= bx + bw AND bx <= ax + aw
         |  AND ay <= b_y + bh AND b_y <= ay + ah
         |ORDER BY c_custkey, s_suppkey""".stripMargin) { (sp, _) =>
      val a = sp.sql(rects("customer", "c_custkey", 37, 91, 5, 7, 3, 2, 2000))
      val b = sp.sql(rects("supplier", "s_suppkey", 53, 67, 6, 4, 4, 3, 2000))
      polygonIntersectionJoin(a, b, 16.0, "c_custkey", "s_suppkey")
        .orderBy("c_custkey", "s_suppkey")
    },

    // ST_Intersection (convex-clip subset, Sutherland–Hodgman): the
    // engine CONSTRUCTS each overlap polygon and measures it; the
    // oracle reproduces the area as closed-form interval arithmetic.
    // Widths/heights are exact 1-decimal values so the 4dp rounding has
    // no tie exposure.
    q("spatial_intersection",
      s"""WITH a AS (SELECT c_custkey, x AS ax, y AS ay,
         |  CAST(3 + c_custkey % 5 AS DOUBLE) AS aw,
         |  CAST(2 + c_custkey % 7 AS DOUBLE) AS ah
         |  FROM (${pts("customer", "c_custkey", 37, 91)}) p WHERE c_custkey < 300),
         |b AS (SELECT s_suppkey, x AS bx, y AS b_y,
         |  CAST(4 + s_suppkey % 6 AS DOUBLE) AS bw,
         |  CAST(3 + s_suppkey % 4 AS DOUBLE) AS bh
         |  FROM (${pts("supplier", "s_suppkey", 53, 67)}) p WHERE s_suppkey < 300)
         |SELECT c_custkey, s_suppkey,
         |  round((least(ax + aw, bx + bw) - greatest(ax, bx))
         |      * (least(ay + ah, b_y + bh) - greatest(ay, b_y)), 4) AS overlap
         |FROM a, b
         |WHERE least(ax + aw, bx + bw) > greatest(ax, bx)
         |  AND least(ay + ah, b_y + bh) > greatest(ay, b_y)
         |ORDER BY c_custkey, s_suppkey""".stripMargin) { (sp, _) =>
      sp.sql(
        s"""WITH a AS (SELECT c_custkey, wkt AS wa
           |  FROM (${rects("customer", "c_custkey", 37, 91, 5, 7, 3, 2, 300)})),
           |b AS (SELECT s_suppkey, wkt AS wb
           |  FROM (${rects("supplier", "s_suppkey", 53, 67, 6, 4, 4, 3, 300)}))
           |SELECT c_custkey, s_suppkey,
           |  round(st_area(st_intersection(wa, wb)), 4) AS overlap
           |FROM a, b
           |WHERE st_area(st_intersection(wa, wb)) > 1e-9
           |ORDER BY c_custkey, s_suppkey""".stripMargin)
    },

    // ST_Union (GeometryFns.stUnion; reference GeoFunctions.java ST_Union):
    // the b-rectangles sit on a +0.25 offset grid while a-rectangles sit
    // on the 1-decimal grid, so boundaries can only cross transversally
    // (the declared subset) — no shared edges or vertex-on-edge contacts
    // exist by construction. The oracle reproduces the union area in
    // closed form (inclusion–exclusion over axis-aligned rectangles),
    // which checks all three engine paths: overlap (boundary walk),
    // containment, and disjoint (MULTIPOLYGON + component-summing
    // st_area). Areas are exact multiples of 0.0025, so 4dp rounding has
    // no tie exposure.
    q("spatial_union",
      s"""WITH a AS (SELECT c_custkey, x AS ax, y AS ay,
         |  CAST(3 + c_custkey % 5 AS DOUBLE) AS aw,
         |  CAST(2 + c_custkey % 7 AS DOUBLE) AS ah
         |  FROM (${pts("customer", "c_custkey", 37, 91)}) p WHERE c_custkey < 200),
         |b AS (SELECT s_suppkey, x + 0.25 AS bx, y + 0.25 AS b_y,
         |  CAST(4 + s_suppkey % 6 AS DOUBLE) AS bw,
         |  CAST(3 + s_suppkey % 4 AS DOUBLE) AS bh
         |  FROM (${pts("supplier", "s_suppkey", 53, 67)}) p WHERE s_suppkey < 200)
         |SELECT c_custkey, s_suppkey,
         |  round(aw * ah + bw * bh - CASE
         |    WHEN least(ax + aw, bx + bw) > greatest(ax, bx)
         |     AND least(ay + ah, b_y + bh) > greatest(ay, b_y)
         |    THEN (least(ax + aw, bx + bw) - greatest(ax, bx))
         |       * (least(ay + ah, b_y + bh) - greatest(ay, b_y))
         |    ELSE 0 END, 4) AS uarea
         |FROM a, b
         |WHERE c_custkey % 29 = s_suppkey % 29
         |ORDER BY c_custkey, s_suppkey""".stripMargin) { (sp, _) =>
      sp.sql(
        s"""WITH a AS (SELECT c_custkey,
           |  concat('POLYGON ((', x, ' ', y, ', ', x + w, ' ', y, ', ',
           |    x + w, ' ', y + h, ', ', x, ' ', y + h, ', ', x, ' ', y, '))') AS wa
           |  FROM (SELECT c_custkey, x, y,
           |          CAST(3 + c_custkey % 5 AS DOUBLE) AS w,
           |          CAST(2 + c_custkey % 7 AS DOUBLE) AS h
           |        FROM (${pts("customer", "c_custkey", 37, 91)}) p
           |        WHERE c_custkey < 200) r),
           |b AS (SELECT s_suppkey,
           |  concat('POLYGON ((', x, ' ', y, ', ', x + w, ' ', y, ', ',
           |    x + w, ' ', y + h, ', ', x, ' ', y + h, ', ', x, ' ', y, '))') AS wb
           |  FROM (SELECT s_suppkey, x + 0.25 AS x, y + 0.25 AS y,
           |          CAST(4 + s_suppkey % 6 AS DOUBLE) AS w,
           |          CAST(3 + s_suppkey % 4 AS DOUBLE) AS h
           |        FROM (${pts("supplier", "s_suppkey", 53, 67)}) p
           |        WHERE s_suppkey < 200) r)
           |SELECT c_custkey, s_suppkey,
           |  round(st_area(st_union(wa, wb)), 4) AS uarea
           |FROM a, b
           |WHERE c_custkey % 29 = s_suppkey % 29
           |ORDER BY c_custkey, s_suppkey""".stripMargin)
    },

    // Bing tile family (GeometryFns; reference BingTileFunctions.java):
    // tile x/y from the public tile-system arithmetic, reproduced by the
    // oracle in plain SQL; quadkey roundtrip + neighborhood as booleans
    q("spatial_bing_tiles",
      s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)}),
         |g AS (SELECT c_custkey, y / 2 - 40 AS lat, x - 70 AS lon
         |  FROM c WHERE c_custkey < 300),
         |t AS (SELECT c_custkey,
         |  CAST(floor(floor(((lon + 180) / 360) * 262144.0) / 256) AS INT) AS tx,
         |  CAST(floor(floor((0.5 - ln((1 + sin(radians(lat))) / (1 - sin(radians(lat)))) / (4 * pi())) * 262144.0) / 256) AS INT) AS ty
         |  FROM g)
         |SELECT c_custkey, tx, ty, 10 AS zl, 10 AS qklen,
         |  true AS qk_roundtrip, 9 AS n_around
         |FROM t ORDER BY c_custkey""".stripMargin) { (sp, _) =>
      sp.sql(
        s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)}),
           |g AS (SELECT c_custkey, y / 2 - 40 AS lat, x - 70 AS lon
           |  FROM c WHERE c_custkey < 300),
           |t AS (SELECT c_custkey, lat, lon, bing_tile_at(lat, lon, 10) AS tile FROM g)
           |SELECT c_custkey,
           |  bing_tile_coordinates(tile).x AS tx,
           |  bing_tile_coordinates(tile).y AS ty,
           |  bing_tile_zoom_level(tile) AS zl,
           |  length(bing_tile_quadkey(tile)) AS qklen,
           |  bing_tile(bing_tile_quadkey(tile)) = tile AS qk_roundtrip,
           |  size(bing_tiles_around(lat, lon, 10)) AS n_around
           |FROM t ORDER BY c_custkey""".stripMargin)
    },

    // Concave ∩ concave through the shared transversal walk, oracle-
    // checked: the L-shape pair intersects in one piece of area 6 and
    // the interlocked U-shape pair in a 2-piece MULTIPOLYGON of area
    // 15 — both areas scale as s² and are translation-invariant, so a
    // per-row (dx, dy, s) family gives the DuckDB twin a closed form
    // while the engine walks real crossings at many sizes/positions.
    q("spatial_concave_intersection",
      s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)}),
         |t AS (SELECT c_custkey,
         |  1.0 + CAST(c_custkey % 3 AS DOUBLE) AS s
         |  FROM c WHERE c_custkey < 200)
         |SELECT c_custkey,
         |  round(6.0 * s * s, 4) AS l_area,
         |  round(15.0 * s * s, 4) AS u_area
         |FROM t ORDER BY c_custkey""".stripMargin) { (sp, _) =>
      sp.sql(
        s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)}),
           |t AS (SELECT c_custkey, x AS dx, y AS dy,
           |  1.0 + CAST(c_custkey % 3 AS DOUBLE) AS s
           |  FROM c WHERE c_custkey < 200),
           |w AS (SELECT c_custkey, s,
           |  concat('POLYGON ((', dx, ' ', dy, ', ', dx + 6*s, ' ', dy,
           |    ', ', dx + 6*s, ' ', dy + 2*s, ', ', dx + 2*s, ' ', dy + 2*s,
           |    ', ', dx + 2*s, ' ', dy + 6*s, ', ', dx, ' ', dy + 6*s,
           |    ', ', dx, ' ', dy, '))') AS la,
           |  concat('POLYGON ((', dx + s, ' ', dy + s, ', ', dx + 7*s, ' ', dy + s,
           |    ', ', dx + 7*s, ' ', dy + 5*s, ', ', dx + 5*s, ' ', dy + 5*s,
           |    ', ', dx + 5*s, ' ', dy + 3*s, ', ', dx + s, ' ', dy + 3*s,
           |    ', ', dx + s, ' ', dy + s, '))') AS lb,
           |  concat('POLYGON ((', dx, ' ', dy, ', ', dx + 9*s, ' ', dy,
           |    ', ', dx + 9*s, ' ', dy + 6*s, ', ', dx + 6*s, ' ', dy + 6*s,
           |    ', ', dx + 6*s, ' ', dy + 2*s, ', ', dx + 3*s, ' ', dy + 2*s,
           |    ', ', dx + 3*s, ' ', dy + 6*s, ', ', dx, ' ', dy + 6*s,
           |    ', ', dx, ' ', dy, '))') AS ua,
           |  concat('POLYGON ((', dx + 0.5*s, ' ', dy + 3*s, ', ', dx + 8.5*s, ' ', dy + 3*s,
           |    ', ', dx + 8.5*s, ' ', dy + 9*s, ', ', dx + 5.5*s, ' ', dy + 9*s,
           |    ', ', dx + 5.5*s, ' ', dy + 5*s, ', ', dx + 3.5*s, ' ', dy + 5*s,
           |    ', ', dx + 3.5*s, ' ', dy + 9*s, ', ', dx + 0.5*s, ' ', dy + 9*s,
           |    ', ', dx + 0.5*s, ' ', dy + 3*s, '))') AS ub
           |  FROM t)
           |SELECT c_custkey,
           |  round(st_area(st_intersection(la, lb)), 4) AS l_area,
           |  round(st_area(st_intersection(ua, ub)), 4) AS u_area
           |FROM w ORDER BY c_custkey""".stripMargin)
    },

    // ST_Buffer (POINT subset) + simplify_geometry (Douglas–Peucker).
    // The buffer ring is an INSCRIBED regular 32-gon, so its area has
    // the closed form n/2·r²·sin(2π/n) — which the DuckDB oracle checks
    // without any spatial extension; containment probes sit safely
    // inside the in-radius (0.9r < r·cos(π/32)) and outside the
    // circum-radius. The simplify outputs are exact: DP on the fixture
    // shapes provably keeps only the square corners / the endpoints.
    q("spatial_buffer_simplify",
      s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)}),
         |r AS (SELECT c_custkey, 1.0 + CAST(c_custkey % 5 AS DOUBLE) AS rad
         |  FROM c WHERE c_custkey < 200)
         |SELECT c_custkey,
         |  round(0.5 * 32 * rad * rad * sin(2 * pi() / 32), 4) AS ar,
         |  true AS inside, false AS outside,
         |  CAST(2 AS BIGINT) AS np,
         |  'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))' AS sw,
         |  'LINESTRING (0 0, 6 0)' AS sl
         |FROM r ORDER BY c_custkey""".stripMargin) { (sp, _) =>
      sp.sql(
        s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)}),
           |r AS (SELECT c_custkey, x, y,
           |  1.0 + CAST(c_custkey % 5 AS DOUBLE) AS rad
           |  FROM c WHERE c_custkey < 200),
           |b AS (SELECT c_custkey, x, y, rad,
           |  st_buffer(st_as_text(st_point(x, y)), rad) AS buf FROM r)
           |SELECT c_custkey,
           |  round(st_area(buf), 4) AS ar,
           |  st_contains(buf, st_as_text(st_point(x + 0.9 * rad, y))) AS inside,
           |  st_contains(buf, st_as_text(st_point(x + 1.05 * rad, y))) AS outside,
           |  CAST(st_num_points(simplify_geometry(
           |    concat('LINESTRING (', x, ' ', y,
           |           ', ', x + 1, ' ', y + 0.001 * CAST(c_custkey % 3 AS DOUBLE),
           |           ', ', x + 2, ' ', y, ')'), 0.5)) AS BIGINT) AS np,
           |  simplify_geometry(
           |    'POLYGON ((0 0, 5 0.01, 10 0, 10 10, 0 10, 0 0))', 0.1) AS sw,
           |  simplify_geometry(
           |    'LINESTRING (0 0, 1 0.05, 2 0, 4 0.05, 6 0)', 0.1) AS sl
           |FROM b ORDER BY c_custkey""".stripMargin)
    },

    // Degenerate-contact overlay (round 8, PolygonOverlay): shared full
    // edges, corner touches, edge-glued notches, hole fillers, interior
    // cuts — every contact the transversal walk declines — across a
    // translated + scaled family. All closed-form: areas scale as s² and
    // are translation-invariant, a corner touch yields MULTIPOLYGON, an
    // interior cut yields exactly one hole ring (3 '(' in the WKT).
    q("spatial_overlay_degenerate",
      s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)}),
         |t AS (SELECT c_custkey, 1.0 + CAST(c_custkey % 3 AS DOUBLE) AS s
         |  FROM c WHERE c_custkey < 150)
         |SELECT c_custkey,
         |  round(2 * s * s, 4) AS se_union, round(0.0, 4) AS se_inter,
         |  round(s * s, 4) AS se_diff, false AS se_multi,
         |  true AS ct_multi, round(2 * s * s, 4) AS ct_area,
         |  round(16 * s * s, 4) AS notch_union, round(2 * s * s, 4) AS notch_inter,
         |  round(14 * s * s, 4) AS notch_diff, round(14 * s * s, 4) AS notch_sym,
         |  round(16 * s * s, 4) AS hole_union, round(12 * s * s, 4) AS hole_diff,
         |  round(12 * s * s, 4) AS cut_area, CAST(3 AS BIGINT) AS cut_parens
         |FROM t ORDER BY c_custkey""".stripMargin) { (sp, _) =>
      sp.sql(
        s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)}),
           |t AS (SELECT c_custkey, x AS dx, y AS dy,
           |  1.0 + CAST(c_custkey % 3 AS DOUBLE) AS s
           |  FROM c WHERE c_custkey < 150),
           |w AS (SELECT c_custkey, s,
           |  concat('POLYGON ((', dx, ' ', dy, ', ', dx + s, ' ', dy, ', ',
           |    dx + s, ' ', dy + s, ', ', dx, ' ', dy + s, ', ', dx, ' ', dy, '))') AS a1,
           |  concat('POLYGON ((', dx + s, ' ', dy, ', ', dx + 2*s, ' ', dy, ', ',
           |    dx + 2*s, ' ', dy + s, ', ', dx + s, ' ', dy + s, ', ', dx + s, ' ', dy, '))') AS b1,
           |  concat('POLYGON ((', dx + s, ' ', dy + s, ', ', dx + 2*s, ' ', dy + s, ', ',
           |    dx + 2*s, ' ', dy + 2*s, ', ', dx + s, ' ', dy + 2*s, ', ', dx + s, ' ', dy + s, '))') AS b2,
           |  concat('POLYGON ((', dx, ' ', dy, ', ', dx + 4*s, ' ', dy, ', ',
           |    dx + 4*s, ' ', dy + 4*s, ', ', dx, ' ', dy + 4*s, ', ', dx, ' ', dy, '))') AS a3,
           |  concat('POLYGON ((', dx, ' ', dy + s, ', ', dx + s, ' ', dy + s, ', ',
           |    dx + s, ' ', dy + 3*s, ', ', dx, ' ', dy + 3*s, ', ', dx, ' ', dy + s, '))') AS b3,
           |  concat('POLYGON ((', dx, ' ', dy, ', ', dx + 4*s, ' ', dy, ', ',
           |    dx + 4*s, ' ', dy + 4*s, ', ', dx, ' ', dy + 4*s, ', ', dx, ' ', dy, '), (',
           |    dx + s, ' ', dy + s, ', ', dx + 3*s, ' ', dy + s, ', ',
           |    dx + 3*s, ' ', dy + 3*s, ', ', dx + s, ' ', dy + 3*s, ', ', dx + s, ' ', dy + s, '))') AS ah,
           |  concat('POLYGON ((', dx + s, ' ', dy + s, ', ', dx + 3*s, ' ', dy + s, ', ',
           |    dx + 3*s, ' ', dy + 3*s, ', ', dx + s, ' ', dy + 3*s, ', ', dx + s, ' ', dy + s, '))') AS bh
           |  FROM t),
           |r AS (SELECT c_custkey, s,
           |  st_union(a1, b1) AS se_u, st_intersection(a1, b1) AS se_i,
           |  st_difference(a1, b1) AS se_d, st_union(a1, b2) AS ct_u,
           |  st_union(a3, b3) AS n_u, st_intersection(a3, b3) AS n_i,
           |  st_difference(a3, b3) AS n_d, st_symdifference(a3, b3) AS n_s,
           |  st_union(ah, bh) AS h_u, st_difference(ah, bh) AS h_d,
           |  st_difference(a3, bh) AS cut
           |  FROM w)
           |SELECT c_custkey,
           |  round(st_area(se_u), 4) AS se_union, round(st_area(se_i), 4) AS se_inter,
           |  round(st_area(se_d), 4) AS se_diff, startswith(se_u, 'MULTI') AS se_multi,
           |  startswith(ct_u, 'MULTI') AS ct_multi, round(st_area(ct_u), 4) AS ct_area,
           |  round(st_area(n_u), 4) AS notch_union, round(st_area(n_i), 4) AS notch_inter,
           |  round(st_area(n_d), 4) AS notch_diff, round(st_area(n_s), 4) AS notch_sym,
           |  round(st_area(h_u), 4) AS hole_union, round(st_area(h_d), 4) AS hole_diff,
           |  round(st_area(cut), 4) AS cut_area,
           |  CAST(length(cut) - length(replace(cut, '(', '')) AS BIGINT) AS cut_parens
           |FROM r ORDER BY c_custkey""".stripMargin)
    },

    // ST_Buffer beyond points (round 8): linestrings and polygons via the
    // Minkowski-sum union of swept rectangles + vertex discs over the
    // robust overlay. All areas stay closed-form because the disc is the
    // inscribed 32-gon with axis-aligned vertices: a straight segment
    // gives 2rL + gon(r), a right-angle elbow 2r(L1+L2) − r² + 1.25·gon(r),
    // a square s² + 4sr + gon(r), and a holed square erodes its hole to
    // the sharp-cornered (h−2r)².
    q("spatial_buffer_extended",
      s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)}),
         |t AS (SELECT c_custkey,
         |  0.5 + CAST(c_custkey % 2 AS DOUBLE) * 0.5 AS r,
         |  4.0 + CAST(c_custkey % 5 AS DOUBLE) AS l
         |  FROM c WHERE c_custkey < 120),
         |g AS (SELECT c_custkey, r, l,
         |  16 * r * r * sin(pi() / 16) AS gon FROM t)
         |SELECT c_custkey,
         |  round(2 * r * l + gon, 4) AS line_area,
         |  round(2 * r * (l + 3) - r * r + 1.25 * gon, 4) AS elbow_area,
         |  round(l * l + 4 * l * r + gon, 4) AS square_area,
         |  round(100 + 40 * r + gon - (4 - 2 * r) * (4 - 2 * r), 4) AS holed_area,
         |  round((l - 2 * r) * (l - 2 * r), 4) AS erode_square,
         |  round((10 - 2 * r) * (10 - 2 * r) - 16 - 16 * r - gon, 4) AS erode_holed
         |FROM g ORDER BY c_custkey""".stripMargin) { (sp, _) =>
      sp.sql(
        s"""WITH c AS (${pts("customer", "c_custkey", 37, 91)}),
           |t AS (SELECT c_custkey, x AS dx, y AS dy,
           |  0.5 + CAST(c_custkey % 2 AS DOUBLE) * 0.5 AS r,
           |  4.0 + CAST(c_custkey % 5 AS DOUBLE) AS l
           |  FROM c WHERE c_custkey < 120)
           |SELECT c_custkey,
           |  round(st_area(st_buffer(
           |    concat('LINESTRING (', dx, ' ', dy, ', ', dx + l, ' ', dy, ')'), r)), 4) AS line_area,
           |  round(st_area(st_buffer(
           |    concat('LINESTRING (', dx, ' ', dy, ', ', dx + l, ' ', dy,
           |      ', ', dx + l, ' ', dy + 3, ')'), r)), 4) AS elbow_area,
           |  round(st_area(st_buffer(
           |    concat('POLYGON ((', dx, ' ', dy, ', ', dx + l, ' ', dy, ', ',
           |      dx + l, ' ', dy + l, ', ', dx, ' ', dy + l, ', ', dx, ' ', dy, '))'), r)), 4) AS square_area,
           |  round(st_area(st_buffer(
           |    concat('POLYGON ((', dx, ' ', dy, ', ', dx + 10, ' ', dy, ', ',
           |      dx + 10, ' ', dy + 10, ', ', dx, ' ', dy + 10, ', ', dx, ' ', dy, '), (',
           |      dx + 3, ' ', dy + 3, ', ', dx + 7, ' ', dy + 3, ', ',
           |      dx + 7, ' ', dy + 7, ', ', dx + 3, ' ', dy + 7, ', ', dx + 3, ' ', dy + 3, '))'), r)), 4) AS holed_area,
           |  round(st_area(st_buffer(
           |    concat('POLYGON ((', dx, ' ', dy, ', ', dx + l, ' ', dy, ', ',
           |      dx + l, ' ', dy + l, ', ', dx, ' ', dy + l, ', ', dx, ' ', dy, '))'), -r)), 4) AS erode_square,
           |  round(st_area(st_buffer(
           |    concat('POLYGON ((', dx, ' ', dy, ', ', dx + 10, ' ', dy, ', ',
           |      dx + 10, ' ', dy + 10, ', ', dx, ' ', dy + 10, ', ', dx, ' ', dy, '), (',
           |      dx + 3, ' ', dy + 3, ', ', dx + 7, ' ', dy + 3, ', ',
           |      dx + 7, ' ', dy + 7, ', ', dx + 3, ' ', dy + 7, ', ', dx + 3, ' ', dy + 3, '))'), -r)), 4) AS erode_holed
           |FROM t ORDER BY c_custkey""".stripMargin)
    },

    // Geospatial registry remainder (round 8, GeometryExtras): type
    // metadata, convex hull, general geometry distance, DE-9IM
    // predicates, linear referencing, accessors, WKB round-trip,
    // boundary, validity — a translated integer-coordinate family whose
    // oracle values are all closed-form constants or arithmetic.
    q("spatial_registry_sweep",
      s"""WITH c AS (SELECT c_custkey, CAST(c_custkey % 50 AS INT) AS dx,
         |  CAST(c_custkey % 30 AS INT) AS dy FROM customer WHERE c_custkey < 150)
         |SELECT c_custkey, 'ST_Polygon' AS gt, 'ST_MultiLineString' AS gt2,
         |  2 AS dim, round(8.0, 4) AS hull_area, round(11.5, 4) AS l_hull_area,
         |  round(3.0, 4) AS dist_sq, round(3 * sqrt(2), 4) AS dist_diag,
         |  true AS touches, true AS overlaps, true AS crosses, true AS eq_redecomposed,
         |  round(0.37, 4) AS frac,
         |  concat('POINT (', dx, ' ', dy, ')') AS start_pt,
         |  CAST(3 AS INT) AS npts, CAST(1 AS INT) AS nrings, CAST(2 AS INT) AS ngeoms,
         |  true AS wkb_ok, true AS boundary_mp, true AS invalid_reason_ok,
         |  true AS rel_touches, true AS rel_overlaps, false AS rel_disjoint
         |FROM c ORDER BY c_custkey""".stripMargin) { (sp, _) =>
      sp.sql(
        s"""WITH c AS (SELECT c_custkey, CAST(c_custkey % 50 AS INT) AS dx,
           |  CAST(c_custkey % 30 AS INT) AS dy FROM customer WHERE c_custkey < 150),
           |w AS (SELECT c_custkey, dx, dy,
           |  concat('POLYGON ((', dx, ' ', dy, ', ', dx + 4, ' ', dy, ', ',
           |    dx + 4, ' ', dy + 4, ', ', dx, ' ', dy + 4, ', ', dx, ' ', dy, '))') AS sq,
           |  concat('POLYGON ((', dx + 7, ' ', dy, ', ', dx + 9, ' ', dy, ', ',
           |    dx + 9, ' ', dy + 2, ', ', dx + 7, ' ', dy + 2, ', ', dx + 7, ' ', dy, '))') AS far,
           |  concat('POLYGON ((', dx + 7, ' ', dy + 7, ', ', dx + 9, ' ', dy + 7, ', ',
           |    dx + 9, ' ', dy + 9, ', ', dx + 7, ' ', dy + 9, ', ', dx + 7, ' ', dy + 7, '))') AS diag,
           |  concat('POLYGON ((', dx + 4, ' ', dy, ', ', dx + 8, ' ', dy, ', ',
           |    dx + 8, ' ', dy + 4, ', ', dx + 4, ' ', dy + 4, ', ', dx + 4, ' ', dy, '))') AS shifted,
           |  concat('POLYGON ((', dx + 2, ' ', dy + 2, ', ', dx + 6, ' ', dy + 2, ', ',
           |    dx + 6, ' ', dy + 6, ', ', dx + 2, ' ', dy + 6, ', ', dx + 2, ' ', dy + 2, '))') AS ovl,
           |  concat('POLYGON ((', dx, ' ', dy, ', ', dx + 2, ' ', dy, ', ', dx + 4, ' ', dy, ', ',
           |    dx + 4, ' ', dy + 4, ', ', dx, ' ', dy + 4, ', ', dx, ' ', dy, '))') AS redecomp,
           |  concat('MULTIPOINT (', dx, ' ', dy + 2, ', ', dx + 2, ' ', dy, ', ',
           |    dx + 4, ' ', dy + 2, ', ', dx + 2, ' ', dy + 4, ', ', dx + 2, ' ', dy + 2, ')') AS diamond,
           |  concat('POLYGON ((', dx, ' ', dy, ', ', dx + 4, ' ', dy, ', ', dx + 4, ' ', dy + 1,
           |    ', ', dx + 1, ' ', dy + 1, ', ', dx + 1, ' ', dy + 4, ', ', dx, ' ', dy + 4,
           |    ', ', dx, ' ', dy, '))') AS ell,
           |  concat('LINESTRING (', dx, ' ', dy, ', ', dx + 3, ' ', dy, ', ',
           |    dx + 3, ' ', dy + 4, ')') AS lin
           |  FROM c)
           |SELECT c_custkey,
           |  st_geometry_type(sq) AS gt,
           |  st_geometry_type(st_boundary(concat('POLYGON ((', dx, ' ', dy, ', ', dx + 8, ' ', dy,
           |    ', ', dx + 8, ' ', dy + 8, ', ', dx, ' ', dy + 8, ', ', dx, ' ', dy, '), (',
           |    dx + 3, ' ', dy + 3, ', ', dx + 5, ' ', dy + 3, ', ', dx + 5, ' ', dy + 5,
           |    ', ', dx + 3, ' ', dy + 5, ', ', dx + 3, ' ', dy + 3, '))'))) AS gt2,
           |  st_dimension(sq) AS dim,
           |  round(st_area(st_convex_hull(diamond)), 4) AS hull_area,
           |  round(st_area(st_convex_hull(ell)), 4) AS l_hull_area,
           |  round(st_distance(sq, far), 4) AS dist_sq,
           |  round(st_distance(sq, diag), 4) AS dist_diag,
           |  st_touches(sq, shifted) AS touches,
           |  st_overlaps(sq, ovl) AS overlaps,
           |  st_crosses(concat('LINESTRING (', dx - 1, ' ', dy + 2, ', ', dx + 9, ' ', dy + 2, ')'), sq) AS crosses,
           |  st_equals(sq, redecomp) AS eq_redecomposed,
           |  round(line_locate_point(lin, line_interpolate_point(lin, 0.37)), 4) AS frac,
           |  st_start_point(lin) AS start_pt,
           |  CAST(st_num_points(lin) AS INT) AS npts,
           |  CAST(st_num_interior_ring(concat('POLYGON ((', dx, ' ', dy, ', ', dx + 8, ' ', dy,
           |    ', ', dx + 8, ' ', dy + 8, ', ', dx, ' ', dy + 8, ', ', dx, ' ', dy, '), (',
           |    dx + 3, ' ', dy + 3, ', ', dx + 5, ' ', dy + 3, ', ', dx + 5, ' ', dy + 5,
           |    ', ', dx + 3, ' ', dy + 5, ', ', dx + 3, ' ', dy + 3, '))')) AS INT) AS nrings,
           |  CAST(st_num_geometries(st_union(sq, diag)) AS INT) AS ngeoms,
           |  st_geom_from_binary(st_as_binary(sq)) = sq AS wkb_ok,
           |  startswith(st_boundary(lin), 'MULTIPOINT') AS boundary_mp,
           |  geometry_invalid_reason(concat('POLYGON ((', dx, ' ', dy, ', ', dx + 2, ' ', dy + 2,
           |    ', ', dx + 2, ' ', dy, ', ', dx, ' ', dy + 2, ', ', dx, ' ', dy, '))'))
           |    LIKE '%self-intersecting%' AS invalid_reason_ok,
           |  st_relate(sq, shifted, 'F***T****') AS rel_touches,
           |  st_relate(sq, ovl, 'T*T***T**') AS rel_overlaps,
           |  st_relate(sq, ovl, 'FF*FF****') AS rel_disjoint
           |FROM w ORDER BY c_custkey""".stripMargin)
    },

    // convex_hull_agg + geometry_union_agg (reference
    // ConvexHullAggregation.java / GeometryUnionAgg.java): per-group unit
    // squares at deterministic integer offsets — the union area is the
    // number of DISTINCT positions (duplicates merge, adjacency merges
    // area-neutrally) and the hull area is the bounding span, both
    // closed-form for the oracle.
    q("spatial_geometry_aggs",
      s"""WITH c AS (SELECT c_custkey, CAST(c_custkey % 4 AS INT) AS g,
         |  CAST((c_custkey * 7) % 40 AS INT) AS x
         |  FROM customer WHERE c_custkey < 400)
         |SELECT g, round(CAST(count(DISTINCT x) AS DOUBLE), 4) AS union_area,
         |  round(CAST(max(x) + 1 - min(x) AS DOUBLE), 4) AS hull_area
         |FROM c GROUP BY g ORDER BY g""".stripMargin) { (sp, _) =>
      sp.sql(
        s"""WITH c AS (SELECT c_custkey, CAST(c_custkey % 4 AS INT) AS g,
           |  CAST((c_custkey * 7) % 40 AS INT) AS x
           |  FROM customer WHERE c_custkey < 400),
           |w AS (SELECT g, concat('POLYGON ((', x, ' 0, ', x + 1, ' 0, ',
           |  x + 1, ' 1, ', x, ' 1, ', x, ' 0))') AS sq FROM c)
           |SELECT g, round(st_area(geometry_union_agg(sq)), 4) AS union_area,
           |  round(st_area(convex_hull_agg(sq)), 4) AS hull_area
           |FROM w GROUP BY g ORDER BY g""".stripMargin)
    },
  )
}
