package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table readers over the driver-generated parquet testdata
  * (TESTDATA.md): TPC-H-ish star schema + pipeline-shaped tables.
  *
  * All readers are plain parquet scans so Catalyst's datasource V2
  * pushdown (predicates, column pruning, row-group skipping) applies
  * untouched — on a real cluster these would be partitioned/bucketed
  * directories, and every query in the inventory is written so that it
  * would survive that switch (no ordering or single-file assumptions).
  */
object Tables {
  /** Plain parquet scan; keeps pushdown + pruning intact. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTimestamps(spark.read.parquet(s"$dir/$name.parquet"))

  /** Testdata regenerations have flipped timestamp columns between
    * instant (isAdjustedToUTC) and naive (NTZ) parquet encodings; Spark
    * reads the latter as TimestampNTZType, which breaks consumers
    * written against TimestampType. The session TZ is pinned UTC, so
    * NTZ -> TimestampType is wall-clock-identical to how DuckDB (the
    * oracle) reads the same file as a naive TIMESTAMP. A cast, not a
    * per-column rebuild: stays inside whole-stage codegen and does not
    * disturb column pruning on the scan.
    */
  def normalizeTimestamps(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case StructField(n, TimestampNTZType, _, _) => n
    }
    ntz.foldLeft(df)((acc, n) => acc.withColumn(n, col(n).cast(TimestampType)))
  }

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")

  /** [[documents]] with the map-side parallelism pinned to the session
    * shuffle-partition count. Input-split parallelism is BYTE-based
    * (like AQE coalescing — SURVEY §4.2 r9 trap), and the corpus
    * parquet is byte-small while tokenize/gram/hash map work is
    * row-heavy: at bench scale the whole file is ONE split, so without
    * this every explode+md5 chain runs single-task (profiled up to
    * 1.9 s serialized per scan). The repartition shuffles under a MB
    * here; at 100 TB the natural split count makes its cost vanish
    * into the first real exchange. The pin is a TRADE, not a free win
    * — apply it only where an A/B bench shows the spread beating the
    * extra exchange (SURVEY §4.2); plain scans and filter/projection
    * queries keep the pushdown-clean [[documents]].
    */
  def documentsSpread(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      // hash on doc_id, NOT round-robin: round-robin repartition
      // local-sorts every full row first (sortBeforeRepartition, for
      // retry determinism) — on text-heavy rows that sort costs more
      // than the skew it prevents; doc_id hash is deterministic by
      // construction and spreads a unique key uniformly
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
        col("doc_id"))
  /** The [[documentsSpread]] trade for synthesize-from-id keys: just
    * the 8-byte doc_id stream, hash-spread to the session
    * shuffle-partition count, as a typed Dataset[Long]. Media/synth
    * keys derive per-doc payloads IN the task from the id alone, so
    * the byte-based single input split (the corpus parquet is tiny)
    * would otherwise serialize the whole synth+decode chain on one
    * core; only the ids cross the exchange. Same A/B rule as
    * documentsSpread: apply only where the per-doc work beats the
    * ~0.1 s exchange floor.
    */
  def docIdsSpread(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[Long] =
    documents(s, d).select(col("doc_id"))
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
        col("doc_id"))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong)

  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** `events.ts` is nanosecond-precision parquet; Spark's TimestampType
    * is microseconds. Normalized here once so every consumer sees a
    * µs TimestampType column named `ts` (truncation toward -inf matches
    * DuckDB's ns→µs cast used by the oracle).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // Spark refuses TIMESTAMP(NANOS) parquet columns by default
    // ([PARQUET_TYPE_ILLEGAL]); read them as raw ns longs instead.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events") // t() already folds NTZ -> TimestampType
    raw.schema("ts").dataType match {
      case TimestampType => raw
      case LongType => // read via legacy nanosAsLong: convert ns → µs.
        // Integer division, NOT floor(ts/1000.0): epoch-ns ≈ 1.7e18
        // exceeds double's 53-bit mantissa and would round the µs value.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other =>
        throw new IllegalStateException(s"unexpected events.ts type: $other")
    }
  }

  /** [[events]] projected to the event keys with `ts` as epoch-µs
    * BIGINT `us` (the Det rule: both engines bin and hash the same
    * integer). */
  def eventsUs(s: SparkSession, d: String): DataFrame =
    events(s, d).select(col("event_id"), col("user_id"), col("event_type"),
      col("value"), unix_micros(col("ts")).as("us"))

  /** Declared schema for the Q&A JSONL corpus (the reference pipeline's
    * output shape, app/main.py:107-110): explicit schema-on-read with
    * corrupt-record tolerance instead of inference.
    */
  val qaSchema: StructType = StructType(Seq(
    StructField("question", StringType),
    StructField("answer", StringType),
    StructField("source_file", StringType),
    StructField("window_index", IntegerType),
    StructField("subchunk_index", IntegerType),
    StructField("_corrupt_record", StringType)
  ))

  def qaJsonl(s: SparkSession, path: String): DataFrame =
    s.read.schema(qaSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
}
