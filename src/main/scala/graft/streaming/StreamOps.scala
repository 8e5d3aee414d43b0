package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import graft.model.AttachEvent

/** The telco topology's operators (SURVEY.md §2.6/§3): windowed metric
  * stats ([[metricStats]]), the attach store's last-write-wins dedup
  * ([[latestByKey]]) and the enrichment join ([[enrich]]), which
  * [[TelcoPipelines]] and [[KeyedUpsertStore]] call, plus
  * [[latestAttachStateful]], the keyed-state form of the attach store.
  * Each accepts a batch or a streaming frame; the plan is the same and
  * only the sink differs. Event-time windows with watermarks replace the
  * reference's arrival-time DStream windows. Inside the topology's
  * `foreachBatch` the frame is static, so the watermark has no effect
  * there and each micro-batch's windows are computed over that batch.
  */
object StreamOps {

  /** Use case 1 (A1/W2): sliding-window per-key multi-metric stats over
    * a `metrics: map<string,double>` column. The map is exploded so the
    * whole aggregate is built-ins — one partial+final HashAggregate per
    * micro-batch, state bounded by (keys × metrics × open windows).
    * Emits per (window, key..., metric): count, mean, population stdev,
    * max, min — the reference's StatCounter surface
    * (`traffic/model/MetricStats.scala:16-23`).
    */
  def metricStats(events: DataFrame, keyCols: Seq[String],
                  windowSize: String = "30 seconds",
                  slide: String = "2 seconds",
                  watermark: String = "1 minute"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select((keyCols.map(col) :+ col("ts") :+
        explode(col("metrics")).as(Seq("metric", "value"))): _*)
      .groupBy(window(col("ts"), windowSize, slide) +: keyCols.map(col) :+
        col("metric"): _*)
      .agg(
        count(lit(1)).as("n"),
        avg(col("value")).as("mean"),
        stddev_pop(col("value")).as("stdev"),
        max(col("value")).as("max"),
        min(col("value")).as("min"))

  /** The keyed upsert store (W5/S4): latest attach event per bearerId —
    * last-write-wins, emulating the reference's Cassandra
    * `PRIMARY KEY (bearer_id)` table. Batch form; in streaming this runs
    * inside `foreachBatch` against the accumulating store.
    */
  def latestByKey(df: DataFrame, key: String, tsCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** W5, pure-streaming form: the latest attach per bearer held in
    * Spark-managed keyed state (`mapGroupsWithState`) instead of an
    * external store — emits the updated latest row per key per batch
    * (update mode). State is one row per bearer: bounded by key
    * cardinality, partitioned by the state store, no external system.
    */
  def latestAttachStateful(attach: Dataset[AttachEvent]): Dataset[AttachEvent] = {
    import attach.sparkSession.implicits._
    attach.groupByKey(_.bearerId)
      .mapGroupsWithState[AttachEvent, AttachEvent](GroupStateTimeout.NoTimeout) {
        (_, events, state) =>
          val latest = (state.getOption.iterator ++ events).maxBy(_.ts)
          state.update(latest)
          latest
      }
  }

  /** Use case prefix (J1): enrichment stream-static inner join on
    * bearerId — unmatched events drop, exactly the reference's
    * `joinWithCassandraTable` semantics. The static side is re-read (or
    * re-deduped) per micro-batch; Spark broadcasts it when small.
    */
  def enrich(celltowerEvents: DataFrame, attachLatest: DataFrame): DataFrame =
    celltowerEvents.join(attachLatest, Seq("bearerId"), "inner")
}
