package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SpatialOps

/** KD-B tree spatial partitioning (SpatialOps.kdbLeaves /
  * kdbDistanceJoin): the properties the oracle can't see — that the
  * adaptive splits stay BALANCED under heavy skew (the whole point of a
  * KdbTree over a uniform grid, reference presto-geospatial KdbTree.java)
  * and that the partitioned join plans as an equi-join.
  */
class SpatialSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("kdb leaves partition the plane and balance a 90%-skewed sample") {
    // 90% of points inside a 1×1 city block, 10% across a 1000×1000 map —
    // a uniform radius-sized grid puts ~90% of points in one cell
    val rnd = new scala.util.Random(7)
    val dense = Array.fill(900)((rnd.nextDouble(), rnd.nextDouble()))
    val sparse = Array.fill(100)((rnd.nextDouble() * 1000, rnd.nextDouble() * 1000))
    val sample = dense ++ sparse
    val leaves = SpatialOps.kdbLeaves(sample, leafCap = 64)
    // every point falls in exactly one half-open leaf
    sample.foreach { case (x, y) =>
      val hits = leaves.count(l =>
        x >= l.xmin && x < l.xmax && y >= l.ymin && y < l.ymax)
      assert(hits == 1, s"point ($x, $y) hit $hits leaves")
    }
    // no leaf holds more than the cap — the dense block was subdivided
    val populations = leaves.map { l =>
      sample.count { case (x, y) =>
        x >= l.xmin && x < l.xmax && y >= l.ymin && y < l.ymax }
    }
    assert(populations.max <= 64,
      s"max leaf population ${populations.max} exceeds the cap: skew not split")
    assert(leaves.length >= sample.length / 64,
      "median splits must produce enough leaves to respect the cap")
  }

  test("kdb leaves split a degenerate axis by retrying the other axis") {
    // all points share x (collinear on the first split axis) but spread
    // on y: the splitter must fall through to the y axis instead of
    // emitting one unbounded leaf
    val sample = Array.tabulate(1000)(i => (5.0, i.toDouble))
    val leaves = SpatialOps.kdbLeaves(sample, leafCap = 64)
    val populations = leaves.map { l =>
      sample.count { case (x, y) =>
        x >= l.xmin && x < l.xmax && y >= l.ymin && y < l.ymax }
    }
    assert(populations.max <= 64,
      s"max leaf population ${populations.max}: degenerate x axis was not retried on y")
    sample.foreach { case (x, y) =>
      assert(leaves.count(l =>
        x >= l.xmin && x < l.xmax && y >= l.ymin && y < l.ymax) == 1)
    }
    // fully identical points CAN'T split: one leaf, no infinite recursion
    val same = Array.fill(200)((1.0, 1.0))
    assert(SpatialOps.kdbLeaves(same, leafCap = 64).length == 1)
  }

  test("kdb distance join equals brute force on a skewed corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val left = (0 until 300).map(i =>
      (i.toLong, if (i < 270) rnd.nextDouble() * 3 else rnd.nextDouble() * 300,
        if (i < 270) rnd.nextDouble() * 3 else rnd.nextDouble() * 300))
      .toDF("lid", "x", "y")
    val right = (0 until 300).map(i =>
      (i.toLong, if (i < 270) rnd.nextDouble() * 3 else rnd.nextDouble() * 300,
        if (i < 270) rnd.nextDouble() * 3 else rnd.nextDouble() * 300))
      .toDF("rid", "x", "y")
    val sample = left.select("x", "y").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val kdb = SpatialOps.kdbDistanceJoin(left, right, 1.5, "lid", "rid", sample, leafCap = 32)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = left.as("l").crossJoin(right.as("r"))
      .filter(sqrt(pow($"l.x" - $"r.x", 2) + pow($"l.y" - $"r.y", 2)) < 1.5)
      .select($"lid", $"rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kdb == brute,
      s"kdb missed ${(brute -- kdb).take(5)} / extra ${(kdb -- brute).take(5)}")
    assert(brute.nonEmpty, "skewed corpus must produce pairs")
  }

  test("spatial_kdb_join plans as an equi-join, never a cartesian product") {
    val plan = SparkEntry.queries("spatial_kdb_join")(spark, TestSession.sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"kdb join went cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"kdb join must be an equi hash join:\n$plan")
    // round-11 scale fix: the join must key on the radius-grid CELLS as
    // well as the leaf — leaf-only keys are a within-leaf cartesian once
    // per-leaf population outgrows the sample-bounded leaf count
    // (round-11 spatial stress m100, a since-retired tool: 4.65 s →
    // 0.81 s; see BENCHLOG)
    assert(plan.contains("cx") && plan.contains("cy"),
      s"kdb join lost the per-leaf grid-cell key:\n$plan")
  }

  test("simplify_geometry is Douglas-Peucker; ST_Buffer is the point n-gon") {
    import graft.functions.GeometryFns
    // sub-tolerance zigzag collapses to the square corners
    assert(GeometryFns.simplifyGeometry(
      "POLYGON ((0 0, 5 0.01, 10 0, 10 10, 0 10, 0 0))", 0.1) ==
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    // above-tolerance detail survives
    assert(GeometryFns.simplifyGeometry(
      "POLYGON ((0 0, 5 2, 10 0, 10 10, 0 10, 0 0))", 0.1) ==
      "POLYGON ((0 0, 5 2, 10 0, 10 10, 0 10, 0 0))")
    // tolerance 0 is identity; holes simplify per-ring
    val holed = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2.001, 4 2, 4 4, 2 4, 2 2))"
    assert(GeometryFns.simplifyGeometry(holed, 0.0) == holed)
    assert(GeometryFns.simplifyGeometry(holed, 0.1) ==
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))")
    // a ring that would collapse below 3 distinct points stays as-is
    assert(GeometryFns.simplifyGeometry(
      "POLYGON ((0 0, 1 0.2, 2 0, 0 0))", 50.0) ==
      "POLYGON ((0 0, 1 0.2, 2 0, 0 0))")
    // linestring: endpoints always survive
    assert(GeometryFns.simplifyGeometry(
      "LINESTRING (0 0, 1 0.05, 2 0, 4 0.05, 6 0)", 0.1) == "LINESTRING (0 0, 6 0)")

    val buf = GeometryFns.stBuffer("POINT (3 4)", 2.0)
    // inscribed 32-gon: area n/2 r^2 sin(2pi/n), 33 points incl closure
    val area = GeometryFns.area(buf)
    assert(math.abs(area - 0.5 * 32 * 4 * math.sin(2 * math.Pi / 32)) < 1e-9,
      s"buffer area $area")
    assert(area < math.Pi * 4 && area > math.Pi * 4 * 0.98, "n-gon under-approximates the disc")
    assert(GeometryFns.numPoints(buf) == 32) // closing vertex not re-counted
    assert(GeometryFns.stContains(buf, "POINT (3 4)"))
    assert(GeometryFns.stContains(buf, "POINT (4.5 4)"))
    assert(!GeometryFns.stContains(buf, "POINT (5.2 4)"))
    // linestring buffering (round 8, Minkowski union over PolygonOverlay):
    // a single diagonal segment has the closed form 2·r·L + gonArea
    val lineBuf = GeometryFns.stBuffer("LINESTRING (0 0, 1 1)", 1.0)
    val expect = 2 * math.sqrt(2) + 0.5 * 32 * math.sin(2 * math.Pi / 32)
    assert(math.abs(GeometryFns.area(lineBuf) - expect) < 1e-9,
      s"diagonal line buffer area ${GeometryFns.area(lineBuf)} vs $expect")
  }

  test("st_intersection concave-vs-concave via the transversal walk") {
    import graft.functions.GeometryFns
    // two interlocking L-shapes, single connected intersection piece:
    // [1,6]x[1,2] ∪ [1,2]x[1,3] — area 5 + 3 − 1 = 6 exactly
    val lA = "POLYGON ((0 0, 6 0, 6 2, 2 2, 2 6, 0 6, 0 0))"
    val lB = "POLYGON ((1 1, 7 1, 7 5, 5 5, 5 3, 1 3, 1 1))"
    val li = GeometryFns.stIntersection(lA, lB)
    assert(math.abs(GeometryFns.area(li) - 6.0) < 1e-9, s"area of $li")
    assert(li.startsWith("POLYGON"), li)
    val piece = GeometryFns.parsePolygon(li)
    assert(GeometryFns.containsPoint(piece, 4.0, 1.5))  // bar interior
    assert(GeometryFns.containsPoint(piece, 1.5, 2.5))  // arm interior
    assert(!GeometryFns.containsPoint(piece, 4.0, 2.5)) // outside the L

    // two opposing U-shapes whose arms interlock: TWO disjoint pieces
    // [0.5,3]x[3,6] and [6,8.5]x[3,6] — MULTIPOLYGON, area 15 exactly
    val uA = "POLYGON ((0 0, 9 0, 9 6, 6 6, 6 2, 3 2, 3 6, 0 6, 0 0))"
    val uB = "POLYGON ((0.5 3, 8.5 3, 8.5 9, 5.5 9, 5.5 5, 3.5 5, 3.5 9, 0.5 9, 0.5 3))"
    val ui = GeometryFns.stIntersection(uA, uB)
    assert(ui.startsWith("MULTIPOLYGON"), ui)
    assert(math.abs(GeometryFns.area(ui) - 15.0) < 1e-9, s"area of $ui")

    // containment without boundary contact: the inner concave polygon
    val inner = "POLYGON ((2 2, 5 2, 5 3, 3 3, 3 4, 2 4, 2 2))"
    val outer = "POLYGON ((0 0, 9 0, 9 9, 1 9, 1 8, 0 8, 0 0))"
    assert(GeometryFns.stIntersection(inner, outer) ==
      GeometryFns.geometryFromText(inner))
    // disjoint concave polygons → empty
    val far = "POLYGON ((20 20, 23 20, 23 21, 21 21, 21 23, 20 23, 20 20))"
    assert(GeometryFns.stIntersection(inner, far) == "POLYGON EMPTY")
    // tangential contact (shared vertex + collinear edge overlap, no
    // interior overlap) now routes through the robust overlay: the areal
    // intersection is empty (round 8, PolygonOverlay)
    val touching = "POLYGON ((6 0, 9 0, 9 2, 8 2, 8 1, 6 1, 6 0))"
    assert(GeometryFns.stIntersection(lA, touching) == "POLYGON EMPTY")
  }
}
