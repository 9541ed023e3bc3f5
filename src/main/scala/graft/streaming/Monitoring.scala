package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** S9 — monitoring sink: persists per-batch streaming progress, the
  * analog of `monitoring.processing_stats` / `consumer_offsets`
  * (`02_create_tables.sql:125-141`).
  *
  * A `StreamingQueryListener` receives every microbatch's progress
  * (row counts, durations, event-time watermark) off the query thread
  * and appends it to a parquet audit table. Driver-side, tiny rows —
  * the observability path adds no load to executors. The landing time
  * enters through [[IngestPipeline.perBatch]], so every progress write
  * runs the same generated classes.
  */
final class ProgressSink(spark: SparkSession, path: String)
    extends StreamingQueryListener {

  import StreamingQueryListener._

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    spark.createDataFrame(Seq((
      p.id.toString, p.batchId, p.timestamp, p.numInputRows,
      p.durationMs.getOrDefault("triggerExecution", -1L).longValue(),
      Option(p.eventTime.get("watermark")).getOrElse(""))))
      .toDF("query_id", "batch_id", "trigger_ts", "num_input_rows",
        "trigger_ms", "watermark")
      .withColumn("recorded_at", IngestPipeline.perBatch(java.time.Instant.now()))
      .write.mode("append").parquet(path)
  }
}

object Monitoring {
  /** Attach a progress sink to the session; returns it for removal. */
  def attach(spark: SparkSession, path: String): ProgressSink = {
    val l = new ProgressSink(spark, path)
    spark.streams.addListener(l)
    l
  }
}
