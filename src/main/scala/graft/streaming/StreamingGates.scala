package graft.streaming

import graft.validation.ImageSuiteQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous perceptual-quality gating: the streaming twin of
  * `q_i_quality_gates`. Each micro-batch collapses to one partial-counter
  * row PER image partition (gate counters + an exact DECIMAL sharpness
  * sum + a running min — all algebraic), stored by [[BatchStore]];
  * gates-to-date finalize by merging partials per image partition,
  * landing bit-identical rows to the batch query because decimal sums
  * merge exactly and every verdict is computed once, at finalize, from
  * the merged totals.
  *
  * Scale: state per (micro-batch, part) is one counter row; a 10^12-image
  * table gated as a stream of partition-sized micro-batches pays the same
  * single decode pass the batch gate would.
  */
object StreamingGates {

  import ImageSuiteQueries.{QgSharpMin, QgDarkMax, QgBrightMin,
    QgContrastMin, QgClipMax, QgBlurRateMax}

  /** One partial row per image part in the batch: gate counters + exact
    * decimal sharpness sum + min. Algebraic — merges by sum/sum/min. */
  def partials(batch: DataFrame): DataFrame =
    batch.filter(col("decode_ok"))
      .groupBy(col("part").as("img_part"))
      .agg(
        count(lit(1L)).as("n"),
        sum(when(col("sharpness") < QgSharpMin, 1L).otherwise(0L)).as("n_blur"),
        sum(when(col("brightness") < QgDarkMax, 1L).otherwise(0L)).as("n_dark"),
        sum(when(col("brightness") > QgBrightMin, 1L).otherwise(0L)).as("n_bright"),
        sum(when(col("contrast") < QgContrastMin, 1L).otherwise(0L)).as("n_flat"),
        sum(when(col("clip_lo") > QgClipMax || col("clip_hi") > QgClipMax,
          1L).otherwise(0L)).as("n_clipped"),
        sum(col("sharpness").cast("decimal(38,10)")).as("sharp_sum"),
        min(col("sharpness")).as("sharp_min"))

  /** Gate verdicts over everything streamed so far — identical rows to
    * `q_i_quality_gates` over the union of the micro-batches. */
  def gates(spark: SparkSession, partialsDir: String): DataFrame =
    BatchStore.read(spark, partialsDir)
      .groupBy(col("img_part").as("part"))
      .agg(sum("n").as("n"), sum("n_blur").as("n_blur"),
        sum("n_dark").as("n_dark"), sum("n_bright").as("n_bright"),
        sum("n_flat").as("n_flat"), sum("n_clipped").as("n_clipped"),
        sum("sharp_sum").as("sharp_sum"), min("sharp_min").as("sharp_min"))
      .select(col("part"), col("n"), col("n_blur"), col("n_dark"),
        col("n_bright"), col("n_flat"), col("n_clipped"),
        round(col("sharp_sum").cast("double") / col("n").cast("double"), 6)
          .as("sharpness_mean"),
        round(col("sharp_min"), 6).as("sharpness_min"))
      .withColumn("blur_rate",
        round(col("n_blur").cast("double") / col("n").cast("double"), 6))
      .withColumn("pass", col("blur_rate") <= QgBlurRateMax &&
        col("n_dark") === 0L && col("n_bright") === 0L &&
        col("n_flat") === 0L)
      .orderBy("part")
}
