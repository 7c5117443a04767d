package graft.streaming

import graft.validation.PartitionedStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The micro-batch store every streaming fold twin shares (SURVEY.md
  * §2.9 ST1–ST4). Each micro-batch collapses to a mergeable partial
  * frame, stored under `part=b<batchId>` by dynamic partition overwrite
  * ([[PartitionedStore]]), so foreachBatch's at-least-once redelivery
  * REPLACES the batch's own rows and merged reads count every batch
  * exactly once. The engine checkpoints offsets under `ckptDir`; the
  * store holds only partials, so finalizing reads #batches × partial
  * rows, never raw data. Reference analogue: the incremental per-record
  * loop with cache-keyed resume (`validation_agent.py:787-812`).
  */
object BatchStore {

  /** Store one batch's partials, replacing any earlier write of the same
    * batch id. The store key is `part`, so the frame must not carry one. */
  def put(partials: DataFrame, dir: String, batchId: Long): Unit = {
    require(!partials.columns.contains("part"),
      "partial frame already has a `part` column; rename it before storing")
    PartitionedStore.write(partials.withColumn("part", lit(s"b$batchId")), dir)
  }

  /** Start a stream that stores `partials(batch)` for every micro-batch. */
  def fold(stream: DataFrame, dir: String, ckptDir: String)(
      partials: DataFrame => DataFrame): StreamingQuery =
    each(stream, ckptDir)((batch, batchId) => put(partials(batch), dir, batchId))

  /** Start a stream that runs `f` on every micro-batch. */
  def each(stream: DataFrame, ckptDir: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream.foreachBatch(f)
      .option("checkpointLocation", ckptDir)
      .start()

  /** Every stored partial, with the numeric `batch_id` in place of the
    * `part` key, in batch order (so `b10` follows `b2`). */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .withColumn("batch_id", expr("substring(part, 2)").cast("long"))
      .drop("part")
      .orderBy("batch_id")
}
