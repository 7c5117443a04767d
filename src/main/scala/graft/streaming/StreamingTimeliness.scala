package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Continuous timeliness monitoring: the streaming twin of
  * [[graft.validation.Timeliness.freshness]] — and the operator that
  * makes freshness USEFUL, because staleness is a property you want
  * mid-stream, not at the end of tomorrow's batch. Each micro-batch
  * collapses to one partial row per segment (n, min_us, max_us,
  * max intra-batch gap) stored by [[BatchStore]]; verdicts-to-date
  * merge the partials with lag-over-batches BOUNDARY gaps, so a silence
  * that spans a micro-batch border is still seen.
  *
  * Contract: gap merging is exact when each segment's batch time-ranges
  * do not overlap (in-order append ingestion — the standard watermark
  * case, and what event-time-ordered sources deliver). Overlapping
  * ranges would need a full re-sort of raw timestamps; this store keeps
  * only partials, so that case is out of contract (the batch operator
  * covers it).
  *
  * Scale: state per micro-batch is one row per segment; finalize reads
  * #batches × #segments rows — never raw events.
  */
object StreamingTimeliness {

  /** One partial row per segment of this frame:
    * (segment, n_events, min_us, max_us, max_gap_us). */
  def partials(df: DataFrame, tsCol: String, segCol: String): DataFrame = {
    val ts = col(tsCol).cast("timestamp")
    val base = df.filter(ts.isNotNull)
      .select(col(segCol).cast("string").as("segment"),
        unix_micros(ts).as("us"))
    val w = Window.partitionBy("segment").orderBy("us")
    base.withColumn("_gap", col("us") - lag(col("us"), 1).over(w))
      .groupBy("segment").agg(
        count(lit(1L)).as("n_events"),
        min(col("us")).as("min_us"),
        max(col("us")).as("max_us"),
        coalesce(max(col("_gap")), lit(0L)).as("max_gap_us"))
  }

  /** Freshness verdicts over everything streamed so far — identical
    * rows to [[graft.validation.Timeliness.freshness]] over the union
    * of all micro-batches (under the non-overlapping-ranges contract). */
  def verdicts(spark: SparkSession, partialsDir: String, nowTs: String,
               maxLagHours: Double, maxGapHours: Double): DataFrame = {
    val p = BatchStore.read(spark, partialsDir)
    val w = Window.partitionBy("segment").orderBy("min_us")
    val boundary = col("min_us") - lag(col("max_us"), 1).over(w)
    val usPerHour = lit(3600000000.0)
    val nowUs = unix_micros(lit(nowTs).cast("timestamp"))
    p.withColumn("_bgap", coalesce(boundary, lit(0L)))
      .groupBy("segment").agg(
        sum(col("n_events")).as("n_events"),
        date_format(timestamp_micros(min(col("min_us"))), "yyyy-MM-dd HH:mm:ss")
          .as("first_ts"),
        date_format(timestamp_micros(max(col("max_us"))), "yyyy-MM-dd HH:mm:ss")
          .as("last_ts"),
        round((nowUs - max(col("max_us"))).cast("double") / usPerHour, 6)
          .as("staleness_hours"),
        round(greatest(max(col("max_gap_us")), max(col("_bgap")))
          .cast("double") / usPerHour, 6).as("max_gap_hours"))
      .withColumn("fresh", col("staleness_hours") <= lit(maxLagHours))
      .withColumn("no_gaps", col("max_gap_hours") <= lit(maxGapHours))
      .withColumn("pass", col("fresh") && col("no_gaps"))
      .orderBy("segment")
  }
}
