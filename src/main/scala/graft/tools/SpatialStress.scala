package graft.tools

import graft.GraftSession
import graft.operators.SpatialOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale stress for the spatial-join family (the one op family without
  * measured scale points through round 10): synthesizes point/rectangle
  * sets `mult`× the sf0.1 query shapes and times the three join
  * mechanisms — uniform-grid distance join, KD-B-partitioned distance
  * join, and the grid-bucketed polygon intersection join.
  *
  * Density discipline: coordinates span an area PROPORTIONAL to the
  * point count (span = 997·mult), so spatial density — and with it the
  * expected per-cell population and the output pair count — stays
  * constant as mult grows. That is the honest 100 TB analog (more data
  * covers more territory at the same resolution); holding the extent
  * fixed would instead grow density ×mult and the OUTPUT ×mult², a
  * workload-definition artifact rather than an engine property. With
  * constant density the engine-side work (cell census, shuffle, exact
  * filters) should scale ~linearly in the input; the printed pair
  * counts verify the density actually held.
  *
  * Usage: runMain graft.tools.SpatialStress [mult] [runs]
  */
object SpatialStress {

  /** Deterministic scattered points (Knuth multiplicative hash mod span);
    * span ∝ √mult so AREA ∝ mult and density stays constant.
    */
  private def pts(spark: SparkSession, n: Long, a: Long, b: Long,
      span: Long, id: String): DataFrame =
    spark.range(1, n + 1)
      .select(col("id").as(id),
        (pmod(col("id") * a * 2654435761L, lit(span))).cast("double") / lit(10.0) as "x",
        (pmod(col("id") * b * 2654435761L, lit(span))).cast("double") / lit(10.0) as "y")

  /** Axis-aligned rectangles as WKT, extents O(1) like SpatialOps.rects. */
  private def rects(spark: SparkSession, n: Long, a: Long, b: Long,
      span: Long, wMod: Long, hMod: Long, id: String): DataFrame =
    pts(spark, n, a, b, span, id)
      .withColumn("w", (col(id) % wMod + 1).cast("double") / 2.0)
      .withColumn("h", (col(id) % hMod + 1).cast("double") / 2.0)
      .select(col(id), format_string(
        "POLYGON ((%s %s, %s %s, %s %s, %s %s, %s %s))",
        col("x"), col("y"), col("x") + col("w"), col("y"),
        col("x") + col("w"), col("y") + col("h"),
        col("x"), col("y") + col("h"), col("x"), col("y")).as("wkt"))

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val runs = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = GraftSession("graft-spatial-stress")

    // area ∝ mult ⇒ each axis ∝ √mult; |1 keeps it odd (coprime to the
    // even-free Knuth multiplier's power-of-two structure)
    val span = math.ceil(997.0 * math.sqrt(mult.toDouble)).toLong | 1L
    val nC = 15000L * mult // sf0.1 customer count
    val nS = 1000L * mult  // sf0.1 supplier count
    val c = pts(spark, nC, 37, 91, span, "c_id").localCheckpoint()
    val s = pts(spark, nS, 53, 67, span, "s_id").localCheckpoint()
    // polygon shapes mirror the query's c_custkey < 2000 slice
    val ra = rects(spark, 2000L * mult, 37, 91, span, 5, 7, "a_id").localCheckpoint()
    val rb = rects(spark, 2000L * mult, 53, 67, span, 6, 4, "b_id").localCheckpoint()
    val sample = c.select("x", "y").limit(2000).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))

    def time(df: => DataFrame): (Double, Long) = {
      var n = 0L
      def once(): Double = {
        val t0 = System.nanoTime(); n = df.count(); (System.nanoTime() - t0) / 1e9
      }
      once() // prewarm
      ((1 to runs).map(_ => once()).min, n)
    }

    val (tGrid, nGrid) = time(SpatialOps.distanceJoin(c, s, 1.5, "c_id", "s_id"))
    val (tKdb, nKdb) = time(SpatialOps.kdbDistanceJoin(c, s, 1.5, "c_id", "s_id", sample))
    val (tPoly, nPoly) = time(SpatialOps.polygonIntersectionJoin(ra, rb, 8.0, "a_id", "b_id"))

    def fmt(v: Double) = f"$v%.2f"
    println(
      s"""{"metric":"spatial_stress","mult":$mult,"points":${nC + nS},""" +
      s""""grid_distance_sec":${fmt(tGrid)},"grid_pairs":$nGrid,""" +
      s""""kdb_distance_sec":${fmt(tKdb)},"kdb_pairs":$nKdb,""" +
      s""""polygon_sec":${fmt(tPoly)},"polygon_pairs":$nPoly}""")
    require(nGrid == nKdb,
      s"grid and KD-B distance joins disagree: $nGrid vs $nKdb")
    spark.stop()
  }
}
