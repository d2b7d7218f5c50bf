package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.TextFunctions

/** The reference's streaming surface (SURVEY.md §2.13): Kafka engine table
  * → MV cascade → MergeTree/Kafka sinks
  * (clusters/ch_and_kafka/db/init.sql:11-79), re-expressed as Structured
  * Streaming. Checkpointed file sinks give exactly-once — an upgrade over
  * the reference's at-least-once Kafka engine
  * (lectures/lecture_25.md:24-63).
  *
  * The container has no Kafka broker/connector, so tests drive the same
  * pipeline shape through the file source; swapping [[rawFromKafka]] for
  * [[rawFromFiles]] changes only the source stage.
  */
object StreamingPipeline {

  /** Kafka engine table analogue: subscribe and expose the reference's
    * virtual columns `_topic/_partition/_offset/_timestamp_ms`
    * (homeworks/hw17.md:24-40) — all native Kafka-source metadata here.
    * Requires the spark-sql-kafka connector on the classpath.
    */
  def rawFromKafka(spark: SparkSession, brokers: String, topics: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topics)
      .load()
      .select(
        col("value").cast("string").as("message"),
        col("topic").as("_topic"),
        col("partition").as("_partition"),
        col("offset").as("_offset"),
        (col("timestamp").cast("double") * 1000).cast("long").as("_timestamp_ms"),
        current_timestamp().as("ingest_time"))

  /** File-source variant with the same output shape (used by tests; also
    * the pattern for object-store drop-folder ingestion).
    */
  def rawFromFiles(spark: SparkSession, path: String, schema: StructType,
                   format: String = "json"): DataFrame =
    spark.readStream
      .format(format)
      .schema(schema)
      .load(path)
      .select(
        to_json(struct(col("*"))).as("message"),
        input_file_name().as("_topic"),
        lit(0).as("_partition"),
        lit(-1L).as("_offset"),
        (unix_timestamp(current_timestamp()) * 1000).as("_timestamp_ms"),
        current_timestamp().as("ingest_time"))

  /** Stage 2 of the reference cascade: JSONEachRow parse
    * (JSONExtract* in clusters/ch_and_kafka/db/init.sql:59-62).
    */
  def parseJson(raw: DataFrame, payloadSchema: StructType): DataFrame =
    raw.withColumn("parsed", from_json(col("message"), payloadSchema))
      .select(col("parsed.*"), col("_topic"), col("_partition"), col("_offset"),
        col("_timestamp_ms"), col("ingest_time"))

  /** Watermarked tumbling-window aggregation (superset feature; the
    * reference's Buffer-engine batching maps to the trigger interval).
    */
  def windowedCounts(events: DataFrame, tsCol: String, windowLen: String,
                     watermark: String, keyCols: String*): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen) +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Ingest-block dedup (`replicated_deduplication_window`,
    * lectures/lecture_12.md:89-105): re-sent blocks are dropped by id
    * within the watermark horizon — checkpoint-backed state gives the
    * exactly-once upgrade over the reference's window-of-hashes.
    *
    * `dropDuplicatesWithinWatermark`, NOT `dropDuplicates`: with plain
    * dropDuplicates the state store only evicts when the event-time
    * column is itself part of the dedup key — keyed on bare ids the
    * state grows without bound, which is a slow-motion OOM on an
    * unbounded stream. The WithinWatermark variant expires each key
    * once the watermark passes its last-seen time.
    */
  def dedupedByKey(stream: DataFrame, tsCol: String, watermark: String,
                   idCols: String*): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Streaming curation — the batch curation pipeline's (t16) streaming
    * twin for continuously-ingested corpora: language-ID, quality score
    * and content fingerprint are STATELESS column expressions (pure
    * map-side work, fused into the scan), the gate filters before any
    * state is touched, and the only stateful operator is content dedup
    * keyed on the fingerprint with watermark-bounded state (see
    * [[dedupedByKey]] for why `dropDuplicatesWithinWatermark` is the only
    * variant whose state survives an unbounded stream).
    *
    * Emits the input rows (survivors only) enriched with `lang`,
    * `quality`, `fingerprint`.
    */
  def curated(stream: DataFrame, textCol: String, tsCol: String,
              watermark: String, minQuality: Double,
              langs: Seq[String]): DataFrame = {
    val toks = graft.plans.NativeFunctions.normTokens(col(textCol))
    stream
      .withColumn("lang", graft.plans.NativeFunctions.langId(toks))
      .withColumn("quality", TextFunctions.qualityScore(col(textCol)))
      .withColumn("fingerprint", TextFunctions.fingerprintMd5(col(textCol)))
      .filter(col("lang").isin(langs: _*) && col("quality") >= minQuality)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fingerprint")
  }

  /** Stream-stream equi-join within an event-time interval (the
    * impressions⋈clicks shape): rows join when keys match AND the right
    * event lands in `[left ts, left ts + maxDelay]`. Both sides carry
    * watermarks, so each side's join state is EVICTED once the other
    * side's watermark passes the interval bound — bounded state on
    * unbounded streams (an un-watermarked stream-stream join buffers
    * forever). Columns from the right side are returned suffixed `_r`
    * for the key/ts to keep the output schema unambiguous.
    */
  def joinWithinInterval(left: DataFrame, right: DataFrame,
                         keyCol: String, leftTsCol: String,
                         rightTsCol: String, watermark: String,
                         maxDelay: String): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermark)
    val r = right
      .withColumnRenamed(keyCol, s"${keyCol}_r")
      .withColumnRenamed(rightTsCol, s"${rightTsCol}_r")
      .withWatermark(s"${rightTsCol}_r", watermark)
    l.join(r,
      col(keyCol) === col(s"${keyCol}_r") &&
        col(s"${rightTsCol}_r") >= col(leftTsCol) &&
        col(s"${rightTsCol}_r") <= col(leftTsCol) + expr(s"INTERVAL $maxDelay"))
  }

  /** The Kafka-sink record shape: `value` = JSONEachRow of the whole
    * row, `key` = xxhash64 of that payload (hex). Factored out of
    * [[toKafka]] so the record contract is batch-testable without a
    * broker. The `key` serves two purposes at once: (a) it is the
    * consumer-side DEDUP key the at-least-once contract below asks
    * downstreams to apply, and (b) same-payload records land on the
    * same partition, so replayed duplicates are adjacent in one
    * consumer's stream (a bounded window suffices to drop them).
    */
  def kafkaRecords(df: DataFrame): DataFrame =
    df.selectExpr("to_json(struct(*)) AS value")
      .selectExpr("hex(xxhash64(value)) AS key", "value")

  /** Kafka producer sink (ENGINE=Kafka + MV INTO it,
    * clusters/ch_and_kafka/db/init.sql:65-79).
    *
    * DELIVERY CONTRACT — AT-LEAST-ONCE, duplicates possible on restart.
    * Unlike this library's parquet legs (batchId-addressed overwrite,
    * exactly-once at any kill point — [[graft.mv.IngestPipeline]]),
    * a Kafka producer cannot idempotently overwrite: records published
    * before a crash stay published, and the replayed micro-batch
    * publishes them again (the Spark connector does not use Kafka
    * producer transactions). Consumers MUST dedup on the record `key`
    * ([[kafkaRecords]]: xxhash64 of the JSON payload) or an explicit
    * business key inside the payload; keyed partitioning makes replayed
    * duplicates adjacent, so a small per-partition seen-window is
    * enough. This mirrors ClickHouse's own Kafka-engine contract
    * (lectures/lecture_25.md:24-63: at-least-once, dedup downstream).
    */
  def toKafka(df: DataFrame, brokers: String, topic: String,
              checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    kafkaRecords(df)
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** Parquet sink with checkpoint (the MergeTree target analogue). */
  def toParquet(df: DataFrame, path: String, checkpoint: String,
                trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
}
