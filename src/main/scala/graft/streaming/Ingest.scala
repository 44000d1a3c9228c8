package graft.streaming

import graft.sources.{JsonIngest, TieredStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** S1/S3/S6: streaming ingest into the served store (SURVEY.md §2.1).
  *
  * The reference buffers points per series in an in-memory FIFO and spills
  * fixed-size shards (`/root/reference/src/membuf.re`,
  * `src/timeseries.re:158-168`). Here each micro-batch goes through the
  * same [[TieredStore.ingest]] a POST does: its points join the memory
  * tier, and a series that reaches the spill threshold commits a
  * manifest version. Delivery is not exactly-once: a `foreachBatch` sink
  * is that only when its write is idempotent or transactional, and this
  * one is neither. A batch replayed after a crash (the store took it,
  * the stream checkpoint had not committed it) is ingested again, and
  * points still buffered at a crash are lost, as the reference's
  * membuf's are.
  */
object Ingest {

  /** The full reference ingest cycle, tiered: file stream → validate →
    * MEMORY BUFFER → per-series spill at `spillThreshold` points (the
    * `--shard-size` membuf discipline, reference `src/timeseries.re:158-168`)
    * — hot-tail reads against the store take the TieredStore fast paths
    * between spills. Batches arrive in batchId order under the streaming
    * engine's serial foreachBatch contract.
    */
  def startTieredFileStream(spark: SparkSession, inDir: String,
                            store: TieredStore, checkpoint: String,
                            spillThreshold: Long,
                            trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
                            maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = maxFilesPerTrigger.foldLeft(spark.readStream)(
      (r, n) => r.option("maxFilesPerTrigger", n))
    val lines = reader.text(inDir)
    val wire = lines.select(
      get_json_object(col("value"), "$.series").as("series"),
      get_json_object(col("value"), "$.point").as("json"))
    wire.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val r = JsonIngest.ingest(batch, ingestTimeUs = batchId)
        store.ingest(r.good, spillThreshold)
        ()
      }
      .start()
  }
}
