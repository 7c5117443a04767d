package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Continuous validity-interval monitoring: the streaming twin of
  * [[graft.validation.Intervals.validity]]. Each micro-batch runs the
  * same per-key sweep and collapses to ONE partial row per (batch, key)
  * — counts, maxima, and the batch's [min_from, max_to] envelope —
  * stored by [[BatchStore]]. Verdicts-to-date merge partials per key
  * with a running max of max_to over PRECEDING batches, so a timeline
  * hole that spans a micro-batch border is still a gap violation.
  *
  * Contract (same family as [[StreamingTimeliness]]): exact when, per
  * key, each batch's interval envelope starts at or after the running
  * max end of its predecessors (in-order append ingestion) and rows are
  * valid (to ≥ from). A batch whose envelope REACHES BACK over that
  * carry would need the raw rows to count its overlaps — partials
  * cannot reconstruct them — so [[contractViolations]] DETECTS the case
  * from the same partials and routes those keys to the batch operator
  * instead of silently under-counting.
  *
  * Scale: state is one row per (batch, key); finalize reads
  * #batches × #keys rows — never raw intervals.
  */
object StreamingIntervals {

  /** One partial row per key of this frame — the batch sweep's verdict
    * counters plus the envelope needed for boundary merging. */
  def partials(df: DataFrame, keySql: String, fromSql: String,
               toSql: String, idSql: String, gapTolUs: Long): DataFrame = {
    val base = df.select(
      expr(keySql).cast("string").as("k"),
      expr(fromSql).cast("long").as("from_us"),
      expr(toSql).cast("long").as("to_us"),
      expr(idSql).as("id"))
      .filter(col("k").isNotNull && col("from_us").isNotNull &&
        col("to_us").isNotNull)
    val w = Window.partitionBy("k").orderBy("from_us", "to_us", "id")
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("_prev_to", max(col("to_us")).over(w))
      .withColumn("_overlap_us",
        greatest(lit(0L), col("_prev_to") - col("from_us")))
      .withColumn("_gap_us",
        greatest(lit(0L), col("from_us") - col("_prev_to")))
      .groupBy("k").agg(
        count(lit(1L)).as("n_intervals"),
        sum(when(col("to_us") < col("from_us"), 1L).otherwise(0L))
          .as("n_invalid"),
        sum(when(col("_overlap_us") > 0L, 1L).otherwise(0L))
          .as("n_overlaps"),
        coalesce(max(col("_overlap_us")), lit(0L)).as("max_overlap_us"),
        sum(when(col("_gap_us") > gapTolUs, 1L).otherwise(0L)).as("n_gaps"),
        coalesce(max(col("_gap_us")), lit(0L)).as("max_gap_us"),
        min(col("from_us")).as("min_from_us"),
        max(col("to_us")).as("max_to_us"))
  }

  /** Per-partial boundary frame: carry = running max end of preceding
    * batches for the key, ordered by (min_from_us, batch_id). */
  private def withCarry(spark: SparkSession, partialsDir: String): DataFrame = {
    val p = BatchStore.read(spark, partialsDir)
    val w = Window.partitionBy("k").orderBy("min_from_us", "batch_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    p.withColumn("_carry", max(col("max_to_us")).over(w))
  }

  /** Validity verdicts over everything streamed so far — identical rows
    * to [[graft.validation.Intervals.validity]] over the union of all
    * micro-batches, under the in-order contract. */
  def verdicts(spark: SparkSession, partialsDir: String,
               gapTolUs: Long): DataFrame = {
    val bGap = greatest(lit(0L), col("min_from_us") - col("_carry"))
    withCarry(spark, partialsDir)
      .withColumn("_bgap", coalesce(bGap, lit(0L)))
      .groupBy("k").agg(
        sum(col("n_intervals")).as("n_intervals"),
        sum(col("n_invalid")).as("n_invalid"),
        sum(col("n_overlaps")).as("n_overlaps"),
        max(col("max_overlap_us")).as("max_overlap_us"),
        (sum(col("n_gaps")) +
          sum(when(col("_bgap") > gapTolUs, 1L).otherwise(0L))).as("n_gaps"),
        greatest(max(col("max_gap_us")), max(col("_bgap"))).as("max_gap_us"),
        min(col("min_from_us")).as("span_from_us"),
        max(col("max_to_us")).as("span_to_us"))
      .withColumn("pass",
        col("n_invalid") === 0L && col("n_overlaps") === 0L &&
          col("n_gaps") === 0L)
      .withColumnRenamed("k", "key")
      .orderBy("key")
  }

  /** Keys whose incoming batch envelope reached back over the carry —
    * out of the in-order contract, so their streamed overlap counts are
    * lower bounds: re-run the batch operator on those keys. Detected
    * from the SAME partials (no raw data needed). */
  def contractViolations(spark: SparkSession, partialsDir: String): DataFrame =
    withCarry(spark, partialsDir)
      .filter(col("_carry").isNotNull && col("_carry") > col("min_from_us"))
      .select(col("k").as("key"), col("batch_id"),
        (col("_carry") - col("min_from_us")).as("reachback_us"))
      .orderBy("key", "batch_id")
}
