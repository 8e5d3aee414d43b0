package graft

import graft.functions.GeoFunctions
import graft.operators.GeofenceOp

/** Point-in-polygon semantics, validated against an independent winding
  * -number implementation (different algorithm, same answer off-boundary)
  * plus fixed probes on the 5 reference fences (FIXTURES.md §B).
  */
class GeoSpec extends SparkSuite {

  /** Independent oracle: winding number via signed angles. */
  private def windingInside(lat: Double, lng: Double,
                            lats: Seq[Double], lngs: Seq[Double]): Boolean = {
    var total = 0.0
    val n = lats.length
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val a1 = math.atan2(lats(i) - lat, lngs(i) - lng)
      val a2 = math.atan2(lats(j) - lat, lngs(j) - lng)
      var d = a2 - a1
      while (d > math.Pi) d -= 2 * math.Pi
      while (d < -math.Pi) d += 2 * math.Pi
      total += d
      i += 1
    }
    math.abs(total) > math.Pi // ~2π inside, ~0 outside
  }

  test("far-away points are outside every fence") {
    for (f <- GeofenceOp.fences) {
      assert(!GeoFunctions.containsPoint(0.0, 0.0, f.lats.toSeq, f.lngs.toSeq))
      assert(!GeoFunctions.containsPoint(52.5, 13.4, f.lats.toSeq, f.lngs.toSeq))
    }
  }

  test("vertex centroid of each reference fence agrees with winding oracle") {
    for (f <- GeofenceOp.fences) {
      val cLat = f.lats.sum / f.lats.length
      val cLng = f.lngs.sum / f.lngs.length
      assert(GeoFunctions.containsPoint(cLat, cLng, f.lats.toSeq, f.lngs.toSeq)
        === windingInside(cLat, cLng, f.lats.toSeq, f.lngs.toSeq))
    }
  }

  test("codegen PointInPolygonExpr equals the UDF tier on a probe grid") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val pts = (for (i <- 0 until 40; j <- 0 until 40)
      yield (50.3 + i * 0.03, 3.2 + j * 0.065)).toDF("lat", "lng")
    val fences = GeofenceOp.fencesDf(spark)
    val both = pts.crossJoin(fences).select(
      graft.functions.PointInPolygonExpr.column(
        col("lat"), col("lng"), col("lats"), col("lngs")).as("expr"),
      GeoFunctions.st_contains(
        col("lat"), col("lng"), col("lats"), col("lngs")).as("udf"))
    assert(both.where($"expr" =!= $"udf").count() === 0)
    assert(both.where($"expr").count() > 0) // some probes inside
  }

  test("1000 random probes agree with the winding-number oracle on all fences") {
    val rnd = new scala.util.Random(42)
    var agreed = 0
    for (_ <- 1 to 1000) {
      val lat = 50.3 + rnd.nextDouble() * 1.2
      val lng = 3.2 + rnd.nextDouble() * 2.6
      for (f <- GeofenceOp.fences) {
        assert(GeoFunctions.containsPoint(lat, lng, f.lats.toSeq, f.lngs.toSeq)
          === windingInside(lat, lng, f.lats.toSeq, f.lngs.toSeq))
        agreed += 1
      }
    }
    assert(agreed === 5000)
  }
}
