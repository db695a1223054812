package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path
import graft.files.FileRelay

/** Stream-pattern ingestion.
  *
  * The reference's "stream" pattern (`/root/reference/ingestion/utils/
  * dataIngestionUtils.py:251-286`) reads N small S3 objects of concatenated
  * JSON, merges them into one JSON array by the string rewrite
  * `"[{}]".format(s.replace("}{", "},{"))`, writes `streaming_file.json`,
  * deletes the inputs and archives a copy — all driver-side, O(total bytes)
  * in one process's memory (SURVEY §6).
  *
  * Two modes here:
  *  - [[mergeCompat]]: the same observable contract (one merged JSON-array
  *    file, inputs archived) without unbounded driver memory for parsing —
  *    kept only for byte-compat; compat tests compare parsed events, not
  *    bytes (SURVEY §7.4 risk 4).
  *  - [[readStream]]: the scale path — Structured Streaming file source
  *    over the inbound prefix; new-object detection, schema enforcement,
  *    watermarking and exactly-once sink semantics come from Spark.
  */
object StreamMerger {

  /** Split concatenated JSON objects (`{..}{..}` with no delimiter) into
    * individual object strings — the reference's `}{ → },{` splice
    * (`dataIngestionUtils.py:261`) done with a depth counter so braces
    * inside string values don't split (the reference would corrupt those).
    */
  def splitConcatenated(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0; var start = -1; var inStr = false; var esc = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => if (depth == 0) start = i; depth += 1
        case '}' => depth -= 1; if (depth == 0) { out += s.substring(start, i + 1) }
        case _ =>
      }
      i += 1
    }
    out.toSeq
  }

  /** Batch-compat merge: read every object under `inPrefix`, emit ONE
    * JSON array file at `outFile`, archive inputs to `processedPrefix`.
    * One listing drives both: exactly the merged objects are archived,
    * and one arriving after the listing stays for the next run.
    * Returns the number of merged events.
    */
  def mergeCompat(relay: FileRelay, inPrefix: String, outFile: String,
      processedPrefix: String): Int = {
    val parts = relay.list(inPrefix).sortBy(_.getName)
    val events = parts.flatMap(p => splitConcatenated(relay.readUtf8(p)))
    relay.writeUtf8(new Path(outFile), events.mkString("[", ",", "]"))
    relay.moveExact(parts, processedPrefix)
    events.size
  }

  /** Scale path: Structured Streaming file source over the inbound prefix.
    * `Trigger.AvailableNow` gives the reference's scheduled-batch cadence
    * with streaming bookkeeping (processed-file log replaces the
    * delete-inputs step). Caller attaches watermark/window/sink.
    */
  def readStream(spark: SparkSession, schema: StructType,
      inPrefix: String): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1000)
      .json(inPrefix)

  /** Streaming read of the reference's RAW inbound format — objects of
    * CONCATENATED JSON (`{..}{..}`, no delimiter), which a line-oriented
    * JSON source would reject as corrupt. Each file arrives as one row
    * (wholetext), is split into events ON THE EXECUTOR by the same
    * depth-counter splitter the batch path uses (per-file work, bounded by
    * the largest single object — never O(total bytes) on the driver like
    * the reference, `dataIngestionUtils.py:256-261`), then parsed against
    * the schema. */
  def streamConcatenated(spark: SparkSession, schema: StructType,
      inPrefix: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val split = udf((s: String) => splitConcatenated(s))
    spark.readStream
      .option("wholetext", "true")
      .option("maxFilesPerTrigger", 1000)
      .text(inPrefix)
      .select(explode(split(col("value"))).as("raw"))
      .select(from_json(col("raw"), schema).as("e"))
      .select("e.*")
  }

  /** Event-time windowed counts with a watermark — the true-streaming
    * semantics the reference's scheduled batch lacks (SURVEY §2.6): late
    * events beyond the watermark are dropped deterministically instead of
    * being silently merged into whichever batch picks them up. */
  def windowedEventCounts(events: DataFrame, tsCol: String, typeCol: String,
      lateness: String = "10 minutes", windowSize: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions._
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowSize), col(typeCol))
      .count()
  }

  /** One micro-batch run to a parquet sink — the streaming analog of the
    * reference's merge-then-land step. */
  def runAvailableNow(df: DataFrame, outPath: String,
      checkpoint: String): Unit = {
    val q = df.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
