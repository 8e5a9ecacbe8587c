package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** The sink of the live admission gates ([[NearDupProbeStream]],
  * [[BoilerProbeStream]], [[SubstringProbeStream]], [[CurationGateStream]]):
  * each micro-batch of documents is persisted, turned into verdict rows by
  * the gate's batch prober, and written as parquet under `outPath`,
  * partitioned by batch_id with dynamic-partition OVERWRITE. An empty
  * micro-batch writes nothing.
  *
  * Replay dedup: `foreachBatch` delivers at least once, and a replayed
  * micro-batch rewrites its own partition instead of appending duplicates,
  * so the output stays a pure function of the delivered doc set even across
  * sink retries. That holds ACROSS RESTARTS only if batch ids are stable,
  * which requires a DURABLE `checkpointLocation` — without one Spark
  * allocates a temp checkpoint and batch ids restart at 0, overwriting old
  * partitions with differently-grouped data. Production callers must pass
  * it; `None` is for single-run tests only. */
object VerdictSink {

  /** Start `docs` into the sink, `verdicts` probing each micro-batch. */
  def start(docs: DataFrame, outPath: String,
            checkpointLocation: Option[String])
           (verdicts: DataFrame => DataFrame): StreamingQuery = {
    val w = docs.writeStream.outputMode(OutputMode.Append())
    checkpointLocation.foreach(w.option("checkpointLocation", _))
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try { if (!b.isEmpty) write(verdicts(b), batchId, outPath) }
        finally { b.unpersist(); () }
      }
      .start()
  }

  /** Write one micro-batch's verdict rows as partition `batchId`. */
  def write(verdicts: DataFrame, batchId: Long, outPath: String): Unit =
    verdicts.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outPath)
}
