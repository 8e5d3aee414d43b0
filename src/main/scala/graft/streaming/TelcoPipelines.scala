package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.Model
import graft.operators.{GeofenceOp, OutlierOp}

/** The reference's complete topology (SURVEY.md §3), Spark-native: two
  * decoded event streams → keyed upsert store → enrichment join → three
  * fan-out consumers (windowed stats ×2 keys, geofencing, k-means IQR
  * anomalies). A user of the reference runs exactly these pipelines;
  * here each is a pure DataFrame transform usable in batch mode or per
  * micro-batch, plus [[start]] wiring them as streaming queries.
  */
object TelcoPipelines {

  /** P4: configured metric dimensions → dense vector, in DECLARED order.
    * (The reference's `.filterKeys(dims.contains).values` —
    * `ClusterAnalyser.scala:22-27` — iterates Scala Map order, a latent
    * nondeterminism deliberately not reproduced; SURVEY.md §7.4.)
    */
  def metricsVector(dims: Seq[String]): Column =
    array(dims.map(d => col("metrics").getItem(d).cast("double")): _*)

  /** A5: gather a whole (micro-)batch into ONE JSON record
    * `{"points": [...]}` (`ClusterAnalyser.scala:62-65`) — a global
    * collect_list aggregate instead of `repartition(1).glom()`; sorted
    * for deterministic output.
    */
  def gatherJson(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("j"))
      .agg(concat(lit("{\"points\": ["),
        array_join(array_sort(collect_list(col("j"))), ","),
        lit("]}")).as("value"))

  final case class Outputs(subscriberStats: DataFrame,
                           celltowerStats: DataFrame,
                           geofenceHits: DataFrame,
                           anomalies: DataFrame,
                           cached: Seq[DataFrame] = Nil) {
    /** Release the per-batch cached frames (shared enrichment prefix +
      * scored vectors) once every sink has consumed its output.
      */
    def release(): Unit = cached.foreach(_.unpersist())
  }

  /** Process one decoded celltower frame against the current attach
    * store and model — the shared enrichment prefix plus all three use
    * cases. Works on a batch table or inside `foreachBatch`. Window
    * geometry, watermark, k-means dimensions and the fence file come
    * from `config`.
    *
    * S8: `enriched` feeds all four outputs, so it is persisted for the
    * batch (the reference caches the same prefix,
    * `TrafficStreamProcessor.scala:58`) — without it each sink would
    * re-run the decode + store join. Call [[Outputs.release]] after the
    * sinks run; [[start]] does.
    */
  def processBatch(celltower: DataFrame, attachStore: Option[DataFrame],
                   km: IncrementalKMeans,
                   config: PipelineConfig = PipelineConfig(),
                   train: Boolean = true): Outputs = {
    val spark = celltower.sparkSession
    // S6: a configured fence file is re-read per batch (hot reload); read
    // before `enriched` is persisted, so a bad file leaks no cache
    val fences = config.geofenceFile
      .fold(GeofenceOp.fencesDf(spark))(GeofenceOp.fencesFromJson(spark, _))
    val enriched = (attachStore match {
      case Some(store) =>
        StreamOps.enrich(celltower,
          store.select(col("bearerId"), col("subscriber")))
      case None => celltower.limit(0)
        .withColumn("subscriber", lit(null).cast(Model.attachSchema("subscriber").dataType))
    }).persist()
    val withTs = enriched.withColumn("ts", Model.eventTime(col("ts")))

    def stats(frame: DataFrame, key: String) = StreamOps.metricStats(frame,
      Seq(key), config.metricsWindow, config.metricsSlide, config.watermark)
    val subscriberStats = stats(
      withTs.withColumn("subscriber_id", col("subscriber.id")), "subscriber_id")
    val celltowerStats = stats(
      withTs.withColumn("cell", col("celltower.cell")), "cell")

    val points = enriched.select(
      col("bearerId").as("id"),
      col("celltower.location.lat").as("lat"),
      col("celltower.location.lng").as("lng"))
    val geofenceHits = GeofenceOp.geofenceWith(points, fences)

    val dims = config.kmeansDimensions
    val vectored = enriched
      .withColumn("v", metricsVector(dims))
      .where(dims.map(d => col("metrics").getItem(d).isNotNull).reduce(_ && _))
    if (train) km.update(vectored, "v")
    val scored = km.transform(vectored, "v").persist()
    val anomalies = OutlierOp.outliers(scored, "prediction", "dist")
      .select(col("bearerId"), col("subscriber.id").as("subscriber_id"),
        col("prediction"), col("dist"))
    Outputs(subscriberStats, celltowerStats, geofenceHits, anomalies,
      cached = Seq(enriched, scored))
  }

  /** Config-file-driven wiring — the analog of the reference booting its
    * whole topology from `application.conf` (`AppConfig.scala:10-53`),
    * and the only way to wire it. Every knob (micro-batch clock,
    * checkpoint, store path, window geometry, k-means hyper-parameters,
    * fence file) comes from [[PipelineConfig]]; the model is built from
    * the config too. The attach stream feeds the upsert store; the
    * celltower stream runs the fan-out per micro-batch (stream-static
    * join against the store as of each batch — the reference's
    * Cassandra-lookup semantics, `TrafficStreamProcessor.scala:52-56`).
    * W1: the micro-batch clock is the config's trigger; W4: each query
    * checkpoints under `checkpoint/<name>`. Returns the running queries
    * plus the model handle.
    *
    * The fan-out plans each micro-batch without adaptive query execution
    * (AQE). Its ~2,000-event batches gain nothing from re-planning at
    * run time, and AQE submits every shuffle stage and broadcast of a
    * plan as a job of its own and re-optimizes between them. With AQE
    * on and the fence file scanned as text every batch, a fan-out
    * micro-batch ran 15 Spark jobs; now, with the fence file read on the
    * driver, it runs 8 (PipelineSpec bounds it). Paired perfbench runs
    * on a 4-core VM, both changes together: p50 latency 1.68 -> 1.33 s
    * on `telco_read` (10 of 10 pairs) and 2.22 -> 1.65 s on
    * `telco_churn` (6 of 6). The claim holds while the store snapshot
    * stays under `spark.sql.autoBroadcastJoinThreshold`, so the planner
    * broadcasts it from its on-disk size (measured with a 10k-row
    * store, far under the 10 MB default). Above it every micro-batch
    * shuffles and sorts the whole store, and without AQE nothing turns
    * that join into a broadcast at run time from the tiny batch side.
    * Spark turns AQE off by itself only for
    * stateful streaming plans. The setting lives on `batch.sparkSession`,
    * the query's own clone of the caller's session, so the caller's
    * session, the attach query and any other query on it keep AQE. It is
    * not in [[graft.tools.ToolSession]] because the batch catalog shares
    * that config and keeps AQE; the attach query keeps it because
    * turning it off there measured no gain.
    */
  def start(config: PipelineConfig, attachStream: DataFrame,
            celltowerStream: DataFrame,
            sink: (Outputs, Long) => Unit): (Seq[StreamingQuery], IncrementalKMeans) = {
    val store = new KeyedUpsertStore(attachStream.sparkSession,
      config.storePath, "bearerId", "ts")
    val km = config.newKMeans()
    // W4/W6 full-topology restart: when checkpointing is on, the
    // evolving model state rides the same checkpoint dir as the query
    // offsets — restored at boot (fresh-boot no-op) and snapshotted
    // after every fan-out batch, so `start(config, …)` against an
    // existing checkpoint resumes stats, store, AND model exactly
    // where the dead topology stopped (PipelineSpec restart e2e).
    val kmPath = config.checkpoint.map(d => s"$d/kmeans-model")
    kmPath.foreach(km.restoreFrom)
    def configure(stream: DataFrame, name: String) = {
      val w = stream.writeStream.outputMode("append").trigger(config.trigger)
      config.checkpoint.fold(w)(d => w.option("checkpointLocation", s"$d/$name"))
    }
    val attachQ = configure(attachStream, "attach")
      .foreachBatch((batch: DataFrame, _: Long) => store.upsert(batch))
      .start()
    val fanoutQ = configure(celltowerStream, "fanout")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
        // train only on batches NEWER than the restored snapshot's
        // last-applied id: a batch replayed after a crash in the
        // snapshot→offset-commit gap re-emits its outputs
        // (at-least-once) but must not re-enter the model state
        val out = processBatch(batch, store.current, km, config,
          train = id > km.lastAppliedBatch)
        try sink(out, id) finally out.release()
        // post-sink state snapshot (model checkpoint). Runs
        // BEFORE the batch's offset commit, so a crash in the gap
        // replays the batch — OUTPUTS are at-least-once (the
        // reference's ssc.checkpoint semantics too), but the MODEL
        // update is exactly-once: the guard above sees the batch id and
        // skips km.update for ids at or below the snapshot's
        // lastAppliedBatch (r15 advice — no silent double-apply).
        km.lastAppliedBatch = id
        kmPath.foreach(km.saveTo)
      }
      .start()
    (Seq(attachQ, fanoutQ), km)
  }
}
