package graft.streaming

import graft.TextQueries
import graft.sketch.MisraGries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the batch heavy-hitter pass (`q_text_heavy_hitters`):
  * each micro-batch folds its own Misra–Gries summary into ONE blob row,
  * stored by [[BatchStore]] — a redelivered batch overwrites its own
  * blob (it may be a byte-different but equally valid summary of the
  * same rows; either keeps the MG guarantee, and exactly one per batch
  * ever counts). Reading the store folds the per-batch blobs with the
  * Agarwal et al. mergeable combine — error bounds add to ≤ n/(k+1) of
  * the COMBINED stream — so the candidate no-false-negative guarantee
  * holds over everything streamed so far, and the exact confirm pass
  * (shared with the batch query) reproduces the batch answer on the
  * union corpus. At 10^12 tokens this is continuous frequency
  * monitoring: each arriving partition costs one bounded-state
  * aggregation; nothing ever re-reads done batches.
  */
object StreamingText {

  /** One micro-batch's partial: a one-row `sketch` frame. */
  def partials(batch: DataFrame, k: Int = TextQueries.HeavyHitterK): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    Seq(TextQueries.sketchOf(TextQueries.wordsOf(batch), k).toBytes).toDF("sketch")
  }

  /** Start the per-micro-batch sketch fold into `storePath`. */
  def heavyHitterStream(docs: DataFrame, storePath: String, ckptDir: String,
                        k: Int = TextQueries.HeavyHitterK): StreamingQuery =
    BatchStore.fold(docs, storePath, ckptDir)(partials(_, k))

  /** Fold every persisted batch summary into one corpus-wide sketch.
    * One blob per micro-batch — the collect is bounded by batch count,
    * not data volume. */
  def mergedSketch(spark: SparkSession, storePath: String,
                   k: Int = TextQueries.HeavyHitterK): MisraGries =
    BatchStore.read(spark, storePath).select("sketch").collect()
      .map(r => MisraGries.fromBytes(r.getAs[Array[Byte]](0)))
      .foldLeft(new MisraGries(k))(_.merge(_))
}
