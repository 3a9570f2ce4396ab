package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.LshIndex
import graft.lsh.LshModel

/**
 * Structured Streaming ingest (re-expression of fspann
 * `loader/StreamingBatchLoader` + incremental insert path): vector
 * batches arrive as files (or any streaming source), are LSH-coded
 * with the broadcast model, and append to the indexed store.
 *
 * The LSH code expression is stateless per row, so the streaming plan
 * is a pure map — no state store, unbounded throughput, exactly the
 * posture for continuous 100 TB ingest (the greedy partition
 * boundaries are refreshed by a periodic batch rebuild; between
 * rebuilds new rows land in their (t, d, key) sort position).
 *
 * `windowedEventCounts` is the watermarked tumbling-window aggregate
 * of the events stream; its batch twin is `q_events_window`, which the
 * driver oracle-checks (SURVEY §5: streaming ops are spec-verified
 * against batch equivalents).
 */
object StreamingIngest {

  /** Parquet-file stream of (vec_id, embedding) -> coded (id, t, d, key, code) rows. */
  def codedVectorStream(spark: SparkSession, inputDir: String, model: LshModel,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 4)
      .parquet(inputDir)
      .transform(LshIndex.codes(_, "vec_id", "embedding", model))

  /** Watermarked 1-hour tumbling-window event aggregation (streaming twin of q_events_window). */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      // decimal sum, matching the batch twin exactly (Analytics scaladoc:
      // double sums are association-order dependent)
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")), 2).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))
}
