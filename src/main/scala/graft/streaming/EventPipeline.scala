package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface. The reference's "streaming" is its
  * push-based intra-query batch pipeline (SURVEY §2.9 — no event time, no
  * watermarks); Spark's normal execution already is that, so this module
  * is the *additive* unbounded-stream capability: windowed aggregation
  * and gap-based sessions with watermarks — the operators a production
  * event pipeline needs.
  *
  * Every transform here works identically on a batch DataFrame and a
  * `readStream` DataFrame (Structured Streaming's core contract), which is
  * how the batch queries in CoreQueries (q28_tumbling_window) and these
  * streaming ops share semantics.
  */
object EventPipeline {

  case class Event(user_id: Long, event_type: String, t: java.sql.Timestamp,
                   value: Double)

  /** Unbounded source over a directory of event parquet (schema fixed up
    * front — streaming requires it). The schema is taken from a batch read
    * of the same directory so the `ts` physical type (epoch-nanos BIGINT
    * vs TIMESTAMP micros — the driver has shipped both) is whatever the
    * data actually carries; [[graft.Tables.withEventTime]] then derives
    * the canonical event-time column `t` either way. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    // same reader tolerance as Tables.load (nanos-as-long, no NTZ)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // probe the events schema: `dir` may be a pure stream directory of
    // event files, or a testdata scale-factor dir where events.parquet
    // sits next to other tables
    val probe = new java.io.File(dir, "events.parquet")
    val schema = graft.ParquetSchemas.schema(spark,
      if (probe.exists()) probe.getPath else dir)
    graft.Tables.withEventTime(
      spark.readStream.schema(schema).parquet(dir))
  }

  /** Tumbling-window counts with late-data handling: watermark bounds
    * state so a 1000-executor job holds hours, not history, in memory. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("t", watermark)
      .groupBy(window(col("t"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("h"), col("event_type"), col("n"),
        col("total"))

  /** Sliding windows (overlapping) — same watermark-bounded state. */
  def slidingCounts(events: DataFrame, window_ : String = "1 hour",
                    slide: String = "15 minutes"): DataFrame =
    events
      .withWatermark("t", "2 hours")
      .groupBy(window(col("t"), window_, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("h"), col("n"))

  /** Streaming exact dedup: keep the first occurrence per key, with
    * watermark-bounded state — the streaming counterpart of
    * [[graft.operators.Dedup.exact]] for a continuously-ingested corpus.
    * `dropDuplicatesWithinWatermark` evicts a key's state once the
    * watermark passes its event time, so a 1000-executor ingest job holds
    * only the watermark horizon of keys, not the full history; exact
    * global dedup over the already-landed data stays a batch concern
    * (Dedup.exact). Works on a content hash: pass e.g.
    * `md5(col("text"))` pre-projected as the key column. */
  def dedupStream(events: DataFrame, keyCol: String, timeCol: String = "t",
                  watermark: String = "2 hours"): DataFrame =
    if (events.isStreaming)
      events
        .withWatermark(timeCol, watermark)
        .dropDuplicatesWithinWatermark(keyCol)
    else
      // batch twin: dropDuplicatesWithinWatermark refuses batch frames
      // (AnalysisException) — and Spark defines its batch semantics as
      // plain exact dedup, so dispatch instead of making callers fork
      events.dropDuplicates(keyCol)

  /** Stream-static enrichment join: each micro-batch of the stream joins
    * a STATIC dimension frame (no state, no watermark needed — the static
    * side is re-read per batch if its source changed). At cluster scale
    * the static side is broadcast when small (AQE size check, no forced
    * hint — same rule as the batch corpus) so the stream never shuffles
    * for the enrichment; a large dim degrades to a shuffled join per
    * micro-batch. This is the streaming face of the reference's
    * dimension-join pipelines. */
  def enrich(events: DataFrame, dim: DataFrame,
             keys: Seq[String]): DataFrame =
    events.join(dim, keys, "left")

  /** Stream-STREAM interval join: two unbounded sources joined on a key
    * with an event-time band (right row lands within [left.t, left.t +
    * `band`]). Both sides carry watermarks, so the join state is evicted
    * once the watermark passes a row's band — bounded state at any
    * scale, the stateful-join shape Structured Streaming is built for.
    * Column names must be disjoint apart from the key. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTime: String = "t", rightTime: String = "rt",
                   band: String = "10 minutes",
                   watermark: String = "1 hour",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTime, watermark)
    val r = right.withWatermark(rightTime, watermark)
    // outer variants emit the NULL-padded row only once the watermark
    // proves no in-band partner can still arrive — the time-bound
    // condition is what makes stream-stream outer joins legal at all
    l.join(r, l(key) === r(key) &&
      r(rightTime) >= l(leftTime) &&
      r(rightTime) <= l(leftTime) + expr(s"INTERVAL $band"), joinType)
  }

  /** Native session-window aggregation: Spark's built-in `session_window`
    * merges gap-based sessions inside the state store itself
    * (per-session output is plain aggregates, no custom state
    * transitions). It stays whole-stage-codegen'd in batch mode and uses
    * the purpose-built merging session store in streaming mode. Window
    * end is last-event-time + gap (Spark semantics). Same plan works on
    * batch and `readStream` frames; watermark bounds streaming state. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
                       watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("t", watermark)
      .groupBy(session_window(col("t"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total"))
      .select(col("user_id"), col("session_window.start").as("start"),
        col("session_window.end").as("end"), col("n_events"), col("total"))

  /** Trending keys, streaming: tumbling-window counts with
    * watermark-bounded state. A rank can't nest inside a streaming
    * aggregation (no windows over agg output in append/update modes), so
    * the per-window top-k runs in the SINK on each micro-batch via
    * [[rankTrending]] — the standard foreachBatch trending pattern. State
    * held per executor is (window × key) counts inside the watermark
    * horizon only; the rank sees the already-aggregated (tiny) frame. */
  def trendingCounts(events: DataFrame, keyCol: String,
                     window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("t", watermark)
      .groupBy(window(col("t"), window_), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("h"), col(keyCol), col("n"))

  /** Ranks a [[trendingCounts]] micro-batch (or its complete-mode table):
    * top-k keys per window by (n desc, key asc) — a total order. Runs as
    * plain batch inside foreachBatch, so WindowGroupLimit applies. */
  def rankTrending(counts: DataFrame, keyCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("n").desc, col(keyCol).asc)
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("h"), col("rnk"), col(keyCol), col("n"))
  }
}
