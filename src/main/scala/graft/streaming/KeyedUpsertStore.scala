package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Last-write-wins keyed store backed by parquet — the engine's stand-in
  * for the reference's Cassandra `attach_event` table (S4/W5:
  * `TrafficStreamProcessor.scala:42`, `prepare_cassandra.sh:24-30`:
  * PRIMARY KEY(bearer_id) ⇒ upsert). Called from `foreachBatch`: each
  * micro-batch is merged into the store. On a cluster the same pattern
  * runs against Delta/Iceberg MERGE; this keeps the semantics with zero
  * extra dependencies.
  *
  * Scale design — what a 100 TB store needs:
  *
  *  - '''Bucketed, one-pass upserts''': rows hash into `numBuckets`
  *    buckets by key (`pmod(hash(key), numBuckets)`). An upsert reads the
  *    live versions of ONLY the buckets its batch touches in one scan,
  *    dedupes once and writes them in one partitioned write: reads and
  *    writes are O(touched buckets), not O(store), and the Spark job
  *    count is fixed however many buckets it touches. Untouched buckets'
  *    files are not read, rewritten, or moved (job count and
  *    byte-identity asserted in PipelineSpec).
  *  - '''Snapshot reads via a manifest''': the set of live bucket
  *    directories is recorded in a manifest file that is swapped with
  *    one ATOMIC_MOVE — the miniature form of a table format's
  *    transaction log. A reader resolves the manifest once and reads
  *    exactly the directories it names, so it can never observe a
  *    half-finished multi-bucket swap (the naive move-directories
  *    scheme has a window where a bucket dir is simply absent — a
  *    SILENT missing-rows read). Superseded bucket versions are kept
  *    for one generation and vacuumed by the next upsert touching the
  *    bucket (the Delta/Iceberg retention idea, scaled to the
  *    single-writer driver-owned case). So a frame from [[current]]
  *    keeps reading its snapshot through ONE concurrent upsert, not two.
  */
class KeyedUpsertStore(spark: SparkSession, path: String,
                       key: String, tsCol: String, numBuckets: Int = 16) {

  private def manifestPath: Path = Paths.get(path, "manifest.json")

  /** Stored schema, from the first write or the footers once per
    * instance: no read pays Spark's schema-inference job. */
  @volatile private var schema: Option[StructType] = None

  /** manifest = bucket index → live dir name (e.g. "b3_v7"). */
  private def readManifest(): Map[Int, String] =
    if (!Files.exists(manifestPath)) Map.empty
    else {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(
        new String(Files.readAllBytes(manifestPath), StandardCharsets.UTF_8)) match {
        case JObject(fs) => fs.collect {
          case (b, JString(dir)) => b.toInt -> dir
        }.toMap
        case _ => Map.empty
      }
    }

  private def writeManifest(m: Map[Int, String]): Unit = {
    val json = m.toSeq.sortBy(_._1)
      .map { case (b, dir) => s""""$b": "$dir"""" }
      .mkString("{", ", ", "}")
    val tmp = Paths.get(path, ".manifest.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def versionOf(dir: String): Long = dir.drop(dir.indexOf("_v") + 2).toLong

  /** Live-looking bucket dirs on disk (staging dirs excluded), for the
    * lost-manifest guard in `upsert`. */
  private def bucketDirs: Seq[Path] =
    if (!Files.exists(Paths.get(path))) Nil
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(Paths.get(path))
      try s.iterator.asScala.filter(_.getFileName.toString.matches("b\\d+_v\\d+")).toSeq
      finally s.close()
    }

  private def read(dirs: Seq[String]): DataFrame = {
    val paths = dirs.map(d => s"$path/$d")
    if (schema.isEmpty) schema = Some(spark.read.parquet(paths: _*).schema)
    spark.read.schema(schema.get).parquet(paths: _*)
  }

  /** Current store contents as of the manifest snapshot (empty-schema-
    * safe: caller sees rows only after the first upsert).
    */
  def current: Option[DataFrame] = {
    val m = readManifest()
    if (m.isEmpty) None else Some(read(m.values.toSeq.sorted))
  }

  /** Merge a batch: each touched bucket gets a NEW versioned dir, and one
    * atomic manifest swap publishes them all at once. */
  def upsert(batch: DataFrame): Unit = {
    val bucketOf = pmod(hash(col(key)), lit(numBuckets))
    val bucketed = batch.withColumn("__b", bucketOf).persist()
    try {
      // a set per partition, no shuffle: the same job count for a
      // one-partition batch as for any other
      val touched = bucketed.select(col("__b")).rdd
        .mapPartitions(rows => rows.map(_.getInt(0)).toSet.iterator)
        .collect().distinct.sorted
      if (touched.isEmpty) return
      Files.createDirectories(Paths.get(path))
      val manifest = readManifest()
      // Fail loud rather than clobber: bucket dirs with NO manifest mean
      // the manifest was lost — an empty map would make every live dir
      // look like an orphan, and the writes below would destroy it.
      if (manifest.isEmpty && bucketDirs.nonEmpty)
        throw new IllegalStateException(
          s"KeyedUpsertStore at $path has bucket dirs but no readable " +
            "manifest.json — refusing to upsert over possibly-live data; " +
            "restore or remove the store directory")
      val live = touched.toSeq.flatMap(manifest.get)
      val merged = if (live.isEmpty) bucketed
        else read(live).withColumn("__b", bucketOf).unionByName(bucketed)
      // One shuffle by key serves the dedupe and the write: it partitions
      // by pmod(murmur3(key), spark.sql.shuffle.partitions), so when that
      // count divides numBuckets a bucket stays in one task (AQE merges
      // only whole partitions) and is written as one file, by few tasks.
      val deduped = StreamOps.latestByKey(merged.repartition(col(key)), key, tsCol)
      // a dot-prefixed staging dir holds each touched bucket as `__b=<b>`;
      // one atomic rename per bucket makes its version dir appear
      // fully-formed or not at all
      val staging = Paths.get(path, ".stage_upsert")
      deduped.write.mode("overwrite").partitionBy("__b").parquet(staging.toString)
      if (schema.isEmpty) schema = Some(batch.schema)
      val updates = touched.map { b =>
        val newDir = s"b${b}_v${manifest.get(b).map(versionOf).getOrElse(0L) + 1L}"
        // A pre-existing `newDir` can only be an orphan of a crashed or
        // failed upsert (the manifest still names the PREVIOUS version) —
        // clobber it, or the store would wedge on FileAlreadyExists.
        deleteRecursive(Paths.get(path, newDir))
        Files.move(staging.resolve(s"__b=$b"), Paths.get(path, newDir),
          StandardCopyOption.ATOMIC_MOVE)
        b -> newDir
      }
      deleteRecursive(staging)
      // single ATOMIC_MOVE publishes every touched bucket at once
      writeManifest(manifest ++ updates)
      // vacuum exactly the newly superseded generation (vNew−2): O(1) per
      // bucket; earlier upserts vacuumed the older ones
      updates.foreach { case (b, newDir) =>
        val vNew = versionOf(newDir)
        if (vNew >= 3L) deleteRecursive(Paths.get(path, s"b${b}_v${vNew - 2L}"))
      }
    } finally bucketed.unpersist()
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
}
