package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions

/** Geofencing (reference use case 2): each event/point is tested against
  * every fence; one output row per (point, containing fence) — the
  * reference's `flatMap` over the driver-side fence list
  * (`traffic/process/Geofencer.scala:27-31`) re-expressed as a broadcast
  * nested-loop join + predicate (SURVEY.md J4/P5). At 100 TB the point
  * side streams through unchanged; only the tiny fence table broadcasts.
  *
  * Fence fixture data: the 5 Belgium polygons of
  * `/root/reference/work/traffic-geofences.json:1` (data, not code).
  */
object GeofenceOp {

  final case class Fence(name: String, polygon: Array[(Double, Double)]) {
    def lats: Array[Double] = polygon.map(_._1)
    def lngs: Array[Double] = polygon.map(_._2)
  }

  val fences: Seq[Fence] = Seq(
    Fence("geofence-0", Array((50.996471761616256, 4.130859375), (50.987827899090966, 4.66644287109375), (50.90649688226157, 4.757080078125), (50.78510168548181, 4.62249755859375), (50.665131428416124, 4.41925048828125), (50.78162860906093, 4.24896240234375), (50.90649688226157, 4.06494140625), (50.948045393550764, 4.15557861328125), (51.022393690441405, 4.03472900390625))),
    Fence("geofence-1", Array((51.04484764446178, 3.5211181640625), (51.14661735383552, 3.69964599609375), (51.087997750516124, 3.922119140625), (50.95669666276118, 3.9605712890625), (50.8510411296595, 3.57879638671875), (50.920350509440105, 3.38653564453125), (51.03621279582447, 3.37005615234375), (50.991285637291, 3.4661865234375))),
    Fence("geofence-2", Array((51.32203016092248, 4.16107177734375), (51.29799348237418, 4.4549560546875), (51.21548639922814, 4.55657958984375), (51.16212186002124, 4.47967529296875), (51.060386316691044, 4.44122314453125), (51.09489803482296, 4.27642822265625), (51.1190409225206, 4.05670166015625), (51.14317120049778, 3.9935302734375), (51.251601468176496, 4.03472900390625), (51.19483648846099, 4.10888671875))),
    Fence("geofence-3", Array((50.752097042863106, 3.368682861328125), (50.90303283111257, 3.901519775390625), (50.79725542144864, 4.121246337890625), (50.649460483096135, 4.332733154296875), (50.51517303835635, 4.329986572265625), (50.40589182397229, 4.1143798828125), (50.41201824668217, 3.722991943359375), (50.59369921413022, 3.673553466796875), (50.58149262220874, 3.324737548828125), (50.70167663576478, 3.445587158203125))),
    Fence("geofence-4", Array((51.05693372898546, 4.662322998046875), (51.428327004212534, 4.640350341796875), (51.33575975299127, 5.164947509765625), (51.1190409225206, 5.469818115234375), (50.85450904781293, 5.697784423828125), (50.65642599320274, 5.653839111328125), (50.4347665964966, 5.376434326171875), (50.41026792102014, 4.706268310546875), (50.45225789225832, 4.497528076171875), (50.61984554139944, 4.533233642578125), (50.71559113343383, 4.920501708984375), (50.908228811180095, 4.816131591796875), (51.013754657188215, 4.873809814453125), (51.008570464608944, 4.524993896484375))),
  )

  /** The fence table as a DataFrame — 5 rows, always broadcast. */
  def fencesDf(spark: SparkSession): DataFrame = frame(spark, fences)

  /** Fences as a local frame (a `LocalRelation`): planning and broadcasting
    * it reads no file.
    */
  private def frame(spark: SparkSession, fs: Seq[Fence]): DataFrame = {
    import spark.implicits._
    fs.map(f => (f.name, f.lats, f.lngs)).toDF("fence_name", "lats", "lngs")
  }

  /** S6: load fences from a JSON file of the reference's wire shape
    * (`work/traffic-geofences.json`: one array of {name, path, polygon:
    * [{lat,lng}...]}). The reference hot-reloads this file every 5 s on
    * a driver timer into a driver-side variable (`Geofencer.scala:18-23`);
    * the Structured Streaming analog is this load inside `foreachBatch`.
    * It reads the file's bytes on the driver (the 5-fence file is ~3 KB)
    * and parses them into a local frame (a `LocalRelation`), so each
    * micro-batch sees the file as it is then and a load costs no file
    * listing, no text scan and no parse job.
    *
    * A half-written file must not read as "no fences" (every point would
    * silently miss every fence for that batch): an empty file, or a
    * non-blank line that is not a JSON array of fences, each a `{name,
    * polygon: [{lat, lng}...]}` object, fails the load, naming `path`.
    * Blank lines are skipped; a file holding `[]` is no fences.
    * Inside [[graft.streaming.TelcoPipelines.start]] the failure stops
    * the fan-out query (nothing restarts it); restarted against its
    * checkpoint, the query replays the failed batch. So a writer must
    * still replace the file atomically: write a temporary file, then
    * rename it over `path`.
    */
  def fencesFromJson(spark: SparkSession, path: String): DataFrame =
    frame(spark, parse(path, readAll(spark, path)))

  private def readAll(spark: SparkSession, path: String): Array[Byte] = {
    val file = new org.apache.hadoop.fs.Path(path)
    val in = file.getFileSystem(spark.sessionState.newHadoopConf()).open(file)
    try in.readAllBytes() finally in.close()
  }

  private def parse(path: String, bytes: Array[Byte]): Seq[Fence] = {
    import org.json4s._
    require(bytes.nonEmpty, s"fence file $path is empty")
    def bad = throw new IllegalArgumentException(
      s"fence file $path: a line is not a JSON array of fences (truncated?)")
    def num(v: JValue): Double = v match {
      case JDouble(d) => d
      case JInt(n) => n.toDouble
      case _ => bad
    }
    def fence(f: JValue): Fence = f match {
      case o: JObject => (o \ "name", o \ "polygon") match {
        case (JString(name), JArray(pts)) => Fence(name, pts.map {
          case p: JObject => (num(p \ "lat"), num(p \ "lng"))
          case _ => bad
        }.toArray)
        case _ => bad
      }
      case _ => bad
    }
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8).linesIterator
      .filter(_.trim.nonEmpty)
      .flatMap { line =>
        scala.util.Try(org.json4s.jackson.JsonMethods.parse(line)).getOrElse(bad) match {
          case JArray(fs) => fs.map(fence)
          case _ => bad
        }
      }.toSeq
  }

  /** Geofence against an explicit fence frame (hot-reloaded or fixture).
    * The predicate is the codegen'd [[PointInPolygonExpr]] (identical
    * arithmetic to the UDF tier, asserted in GeoSpec). Unordered: a sort
    * costs each micro-batch a sampling job and a shuffle no sink needs.
    */
  def geofenceWith(points: DataFrame, fencesFrame: DataFrame): DataFrame =
    points.crossJoin(broadcast(fencesFrame))
      .where(graft.functions.PointInPolygonExpr.column(
        col("lat"), col("lng"), col("lats"), col("lngs")))
      .select(col("id"), col("fence_name"))

  /** Deterministic synthetic points inside the Belgium bounding box,
    * derived from customer keys by pure integer/double arithmetic
    * (engine-portable: same ops in the DuckDB oracle).
    */
  def syntheticPoints(customer: DataFrame): DataFrame =
    customer.select(
      col("c_custkey").as("id"),
      (lit(50.4) + (((col("c_custkey") * lit(2654435761L)) % 1000L) / lit(1000.0)) * lit(1.03)).as("lat"),
      (lit(3.32) + (((col("c_custkey") * lit(40503L)) % 1000L) / lit(1000.0)) * lit(2.38)).as("lng"))

  /** points(id, lat, lng) × fences → (id, fence_name) for contained
    * points against the built-in fixture fences, ordered by (id, fence_name).
    */
  def geofence(points: DataFrame): DataFrame =
    geofenceWith(points, fencesDf(points.sparkSession))
      .orderBy("id", "fence_name")

  /** Radius self-join with GRID-CELL blocking — "which point pairs are
    * within r of each other", the proximity join the broadcast-NL
    * geofence shape cannot express at scale: coordinates quantize to
    * exact micro-degree integers, each point lands in an r-sized grid
    * cell, and candidates join only a point's 3×3 cell neighborhood —
    * LOSSLESS by construction (two points within r differ by ≤ 1 cell
    * per axis) and never all-pairs. Verification is the exact integer
    * d² ≤ r² test (flat-earth micro-degrees — the synthetic fixture's
    * geometry; swap in a proper projection for real GIS data).
    *
    * The oracle deliberately runs the UNPRUNED all-pairs form, so the
    * hash gate proves the blocking lossless, not just consistent.
    *
    * Scale shape: one narrow shuffle on cell keys with a 9× probe-side
    * fan-out; pair verification is row-local integer math.
    */
  def radiusPairs(points: DataFrame, radiusMicroDeg: Long = 20000L)
      : DataFrame = {
    val r = radiusMicroDeg
    val u = points.select(col("id"),
        expr("CAST(round(lat * 1000000) AS BIGINT)").as("la"),
        expr("CAST(round(lng * 1000000) AS BIGINT)").as("lo"))
      .withColumn("cx", expr(s"la DIV ${r}L"))
      .withColumn("cy", expr(s"lo DIV ${r}L"))
    val neighbors = explode(array(
      (for (dx <- -1 to 1; dy <- -1 to 1) yield
        struct((col("cx") + dx).as("x"), (col("cy") + dy).as("y"))): _*))
    val probe = u.select(col("id").as("ida"), col("la").as("la1"),
      col("lo").as("lo1"), neighbors.as("c"))
    val build = u.select(col("id").as("idb"), col("la").as("la2"),
      col("lo").as("lo2"), col("cx"), col("cy"))
    val d2 = (col("la1") - col("la2")) * (col("la1") - col("la2")) +
      (col("lo1") - col("lo2")) * (col("lo1") - col("lo2"))
    probe.join(build,
        col("c.x") === col("cx") && col("c.y") === col("cy") &&
          col("ida") < col("idb"))
      .where(d2 <= r * r)
      .select(col("ida"), col("idb"), d2.as("d2_microdeg"))
      .orderBy("ida", "idb")
  }

  /** Oracle SQL twin of [[radiusPairs]] — all-pairs, no blocking. */
  def radiusPairsOracle(radiusMicroDeg: Long = 20000L): String =
    s"""WITH pts AS (
       |  SELECT c_custkey AS id,
       |    50.4 + (((c_custkey * 2654435761) % 1000) / 1000.0) * 1.03 AS lat,
       |    3.32 + (((c_custkey * 40503) % 1000) / 1000.0) * 2.38 AS lng
       |  FROM customer
       |), u AS (
       |  SELECT id, CAST(round(lat * 1000000) AS BIGINT) AS la,
       |    CAST(round(lng * 1000000) AS BIGINT) AS lo
       |  FROM pts
       |)
       |SELECT a.id AS ida, b.id AS idb,
       |  (a.la - b.la) * (a.la - b.la) + (a.lo - b.lo) * (a.lo - b.lo)
       |    AS d2_microdeg
       |FROM u a JOIN u b ON a.id < b.id
       |WHERE (a.la - b.la) * (a.la - b.la) + (a.lo - b.lo) * (a.lo - b.lo)
       |  <= ${radiusMicroDeg * radiusMicroDeg}
       |ORDER BY ida, idb""".stripMargin

  /** DuckDB oracle generated from the same fixture — edge list VALUES +
    * the identical ray-cast parity arithmetic, so both engines run the
    * same algorithm on the same doubles.
    */
  def oracleSql: String = {
    val edgeRows = fences.flatMap { f =>
      val n = f.polygon.length
      (0 until n).map { i =>
        val (aLat, aLng) = f.polygon(i)
        val (bLat, bLng) = f.polygon((i + 1) % n)
        s"('${f.name}', $aLat, $aLng, $bLat, $bLng)"
      }
    }.mkString(",\n    ")
    s"""WITH pts AS (
       |  SELECT c_custkey AS id,
       |    50.4 + (((c_custkey * 2654435761) % 1000) / 1000.0) * 1.03 AS lat,
       |    3.32 + (((c_custkey * 40503) % 1000) / 1000.0) * 2.38 AS lng
       |  FROM customer
       |), edges(fence_name, alat, alng, blat, blng) AS (VALUES
       |    $edgeRows
       |)
       |SELECT id, fence_name FROM (
       |  SELECT p.id, e.fence_name
       |  FROM pts p JOIN edges e
       |    ON ((e.alat > p.lat) <> (e.blat > p.lat))
       |   AND p.lng < (e.blng - e.alng) * (p.lat - e.alat) / (e.blat - e.alat) + e.alng
       |  GROUP BY p.id, e.fence_name
       |  HAVING count(*) % 2 = 1
       |) t ORDER BY id, fence_name""".stripMargin
  }
}
