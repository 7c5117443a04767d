package graft.validation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declarative constraint-suite API — the programmable face of the
  * validation engine (north rule: "schema + constraint validation
  * engine"). A user declares N constraints over a table; the suite
  * compiles ALL of them into ONE aggregation pass, so a 10^12-row scan
  * is paid once no matter how many checks ride it:
  *
  * {{{
  * val suite = CheckSuite(Seq(
  *   Complete("o_custkey", 1.0), Unique(Seq("o_orderkey")),
  *   InRange("o_totalprice", 0, 600000, 1.0), SizeBetween(100, 1e9.toLong)))
  * val verdicts = suite.run(ordersDf)          // (check, metric, pass)
  * val byStatus = suite.run(ordersDf, Seq("o_orderstatus"))
  * }}}
  *
  * Reference semantics: the per-record assessment loop accumulates all
  * its field checks in one traversal of each record batch
  * (`/root/reference/src/crawl_first/validation_agent.py:550-650`) and
  * emits named pass/fail verdict rows with an observed metric
  * (`validation_agent.py:355-364, 753-763`); this API is that contract
  * lifted to a declarative plan the optimizer can fuse.
  *
  * Scale shape (100 TB): every check is an algebraic aggregate —
  * map-side partials collapse each partition to one row of counters, the
  * exchange moves #partitions × one row, the final merge is trivial. The
  * grouped variant shuffles on the group key exactly once (hash
  * aggregate), never once per check. The one non-algebraic member is
  * exact `Unique`/`QuantileBetween`: a single exact-distinct (or exact
  * percentile) is planned as a two-stage aggregate (no row blowup), but
  * each ADDITIONAL exact-distinct column multiplies the scan through an
  * `Expand` node — `ChecksSpec` pins both plans. At 10^12 rows prefer
  * [[ApproxUnique]] (HLL, mergeable, no Expand) and accept the ±2%
  * sketch error, or run exact uniqueness standalone
  * ([[ValidationQueries.uniquenessVerdict]]'s salted two-stage shape).
  *
  * Every check carries its DuckDB aggregate twin (same aliases), and the
  * metric/pass formulas are ONE SQL string parsed by BOTH engines —
  * integer-ratio doubles, so the cross-engine hash compare is exact
  * (`q_v_checksuite`, `q_v_checksuite_grouped`).
  */
sealed trait Check {
  /** Verdict-row label; must be a SQL-identifier-safe literal. */
  def name: String
  /** Resolved label used in verdict rows (defaulted names filled in). */
  def label: String = name
  /** Spark aggregate columns (aliased; aliases shared with [[duckAggs]]). */
  def sparkAggs: Seq[Column]
  /** DuckDB "expr AS alias" fragments — identical aliases. */
  def duckAggs: Seq[String]
  /** Metric over the aliases (+ suite-provided `n` = count(*)); parsed by
    * both engines, so restrict to shared syntax (cast/CASE/arith). */
  def metricSql: String
  /** Pass predicate over the same aliases (unrounded values). */
  def passSql: String
  /** (alias, merge-fn) pairs for combining shard/micro-batch partial
    * counter rows ("sum" | "dsum" (decimal-exact money sum) | "min" |
    * "max"); None marks a check whose stored aggregate cannot be merged
    * from numbers alone (exact/approx distinct, exact quantiles). */
  def partialMerges: Option[Seq[(String, String)]] = None

  protected def a(suffix: String): String =
    name.replaceAll("[^A-Za-z0-9]", "_") + "_" + suffix
}

/** A check that also has a per-row predicate form (row passes ⇔ the
  * predicate holds) — the members [[CheckSuite.annotate]] can turn into
  * per-row violation labels (the reference's per-record assessment
  * output, `validation_agent.py:355-364`). Aggregate-only checks
  * (Unique, MeanBetween, quantiles, SizeBetween) have no row form. */
sealed trait RowCheck extends Check {
  /** Spark row-pass predicate (may be null on null inputs — annotate
    * coalesces to false, i.e. null ⇒ violation). */
  def sparkRowPred: Column
  /** DuckDB SQL twin of the row predicate. */
  def duckRowPredSql: String
}

/** Fraction of non-null values in `column` must be ≥ `minRatio`. */
final case class Complete(column: String, minRatio: Double,
                          override val name: String = "") extends RowCheck {
  private val nm = if (name.nonEmpty) name else s"complete_$column"
  override def label: String = nm
  private val al = nm.replaceAll("[^A-Za-z0-9]", "_") + "_nn"
  def sparkAggs = Seq(count(col(column)).as(al))
  def duckAggs = Seq(s"count($column) AS $al")
  def metricSql = s"cast($al as double) / n"
  def passSql = s"cast($al as double) / n >= $minRatio"
  def sparkRowPred = col(column).isNotNull
  def duckRowPredSql = s"$column IS NOT NULL"
  override def partialMerges = Some(Seq(al -> "sum"))
}

/** Exact distinct count of the key tuple must equal the row count.
  * Multi-column keys go through a struct on both engines so tuples with
  * null FIELDS still count (single-column nulls are excluded by both
  * engines' `count(DISTINCT)` — standard SQL). */
final case class Unique(columns: Seq[String],
                        override val name: String = "") extends Check {
  private val nm = if (name.nonEmpty) name else s"unique_${columns.mkString("_")}"
  override def label: String = nm
  private val al = nm.replaceAll("[^A-Za-z0-9]", "_") + "_ndv"
  def sparkAggs =
    if (columns.size == 1) Seq(countDistinct(col(columns.head)).as(al))
    else Seq(countDistinct(struct(columns.map(col): _*)).as(al))
  def duckAggs =
    if (columns.size == 1) Seq(s"count(DISTINCT ${columns.head}) AS $al")
    else Seq(s"count(DISTINCT (${columns.mkString(", ")})) AS $al")
  def metricSql = s"cast($al as double) / n"
  def passSql = s"$al = n"
}

/** HLL-sketch distinct ratio ≥ `minRatio` — the 10^12-row uniqueness
  * rung: mergeable, algebraic, never plans an Expand. NOT oracle-exact
  * (each engine's sketch differs); spec-verified within `rsd`. */
final case class ApproxUnique(column: String, minRatio: Double,
                              rsd: Double = 0.02,
                              override val name: String = "") extends Check {
  private val nm = if (name.nonEmpty) name else s"approx_unique_$column"
  override def label: String = nm
  private val al = nm.replaceAll("[^A-Za-z0-9]", "_") + "_andv"
  def sparkAggs = Seq(approx_count_distinct(col(column), rsd).as(al))
  def duckAggs = Seq(s"approx_count_distinct($column) AS $al")
  def metricSql = s"cast($al as double) / n"
  def passSql = s"cast($al as double) / n >= $minRatio"
}

/** Fraction of rows with `lo ≤ column ≤ hi` must be ≥ `minRatio`. */
final case class InRange(column: String, lo: Double, hi: Double,
                         minRatio: Double,
                         override val name: String = "") extends RowCheck {
  private val nm = if (name.nonEmpty) name else s"range_$column"
  override def label: String = nm
  private val al = nm.replaceAll("[^A-Za-z0-9]", "_") + "_ok"
  private val cond = s"$column >= $lo AND $column <= $hi"
  def sparkAggs = Seq(sum(when(expr(cond), 1L).otherwise(0L)).as(al))
  def duckAggs = Seq(s"sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS $al")
  def metricSql = s"cast($al as double) / n"
  def passSql = s"cast($al as double) / n >= $minRatio"
  def sparkRowPred = expr(cond)
  def duckRowPredSql = cond
  override def partialMerges = Some(Seq(al -> "sum"))
}

/** Fraction of rows whose `column` is in `values` must be ≥ `minRatio`. */
final case class InSet(column: String, values: Seq[String], minRatio: Double,
                       override val name: String = "") extends RowCheck {
  private val nm = if (name.nonEmpty) name else s"inset_$column"
  override def label: String = nm
  private val al = nm.replaceAll("[^A-Za-z0-9]", "_") + "_in"
  private val lst = values.map(v => s"'${v.replace("'", "''")}'").mkString(", ")
  private val cond = s"$column IN ($lst)"
  def sparkAggs = Seq(sum(when(expr(cond), 1L).otherwise(0L)).as(al))
  def duckAggs = Seq(s"sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS $al")
  def metricSql = s"cast($al as double) / n"
  def passSql = s"cast($al as double) / n >= $minRatio"
  def sparkRowPred = expr(cond)
  def duckRowPredSql = cond
  override def partialMerges = Some(Seq(al -> "sum"))
}

/** Fraction of rows matching `regex` (unanchored, both engines) ≥
  * `minRatio`. The regex must be valid Java AND RE2-ish DuckDB syntax —
  * stick to character classes/anchors/quantifiers. */
final case class Matches(column: String, regex: String, minRatio: Double,
                         override val name: String = "") extends RowCheck {
  private val nm = if (name.nonEmpty) name else s"matches_$column"
  override def label: String = nm
  private val al = nm.replaceAll("[^A-Za-z0-9]", "_") + "_m"
  def sparkAggs =
    Seq(sum(when(col(column).rlike(regex), 1L).otherwise(0L)).as(al))
  def duckAggs =
    Seq(s"sum(CASE WHEN regexp_matches($column, '${regex.replace("'", "''")}') THEN 1 ELSE 0 END) AS $al")
  def metricSql = s"cast($al as double) / n"
  def passSql = s"cast($al as double) / n >= $minRatio"
  def sparkRowPred = col(column).rlike(regex)
  def duckRowPredSql =
    s"regexp_matches($column, '${regex.replace("'", "''")}')"
  override def partialMerges = Some(Seq(al -> "sum"))
}

/** Mean of a 2-dp money column within [lo, hi]; the sum rides
  * decimal(18,2) so the cross-engine result is bit-exact (SparkEntry's
  * determinism discipline). */
final case class MeanBetween(column: String, lo: Double, hi: Double,
                             override val name: String = "") extends Check {
  private val nm = if (name.nonEmpty) name else s"mean_$column"
  override def label: String = nm
  private val al = nm.replaceAll("[^A-Za-z0-9]", "_") + "_sum"
  def sparkAggs =
    Seq(sum(col(column).cast("decimal(18,2)")).cast("double").as(al))
  def duckAggs =
    Seq(s"CAST(sum(CAST($column AS DECIMAL(18,2))) AS DOUBLE) AS $al")
  def metricSql = s"$al / n"
  def passSql = s"$al / n >= $lo AND $al / n <= $hi"
  // each partial is an exact multiple of 0.01 stored as double; the
  // decimal-exact merge recovers the true 2-dp sum (magnitudes < 2^45)
  override def partialMerges = Some(Seq(al -> "dsum"))
}

/** Exact interpolated quantile within [lo, hi] (4-dp rounded in the
  * aggregate — the `q_v_colstats` convention that hash-matches
  * `quantile_cont`). Exact percentile buffers per-group values: fine as
  * the ONE order statistic of a suite; at 10^12 rows use the t-digest
  * drift path ([[Drift]]) for quantile families. */
final case class QuantileBetween(column: String, q: Double, lo: Double,
                                 hi: Double,
                                 override val name: String = "") extends Check {
  private val nm = if (name.nonEmpty) name else s"p${(q * 100).toInt}_$column"
  override def label: String = nm
  private val al = nm.replaceAll("[^A-Za-z0-9]", "_") + "_q"
  def sparkAggs = Seq(round(expr(s"percentile($column, $q)"), 4).as(al))
  def duckAggs = Seq(s"round(quantile_cont($column, $q), 4) AS $al")
  def metricSql = al
  def passSql = s"$al >= $lo AND $al <= $hi"
}

/** Minimum value must be ≥ `bound` (numeric columns). */
final case class MinGte(column: String, bound: Double,
                        override val name: String = "") extends Check {
  private val nm = if (name.nonEmpty) name else s"min_$column"
  override def label: String = nm
  private val al = nm.replaceAll("[^A-Za-z0-9]", "_") + "_min"
  def sparkAggs = Seq(min(col(column)).cast("double").as(al))
  def duckAggs = Seq(s"CAST(min($column) AS DOUBLE) AS $al")
  def metricSql = al
  def passSql = s"$al >= $bound"
  override def partialMerges = Some(Seq(al -> "min"))
}

/** Maximum value must be ≤ `bound` (numeric columns). */
final case class MaxLte(column: String, bound: Double,
                        override val name: String = "") extends Check {
  private val nm = if (name.nonEmpty) name else s"max_$column"
  override def label: String = nm
  private val al = nm.replaceAll("[^A-Za-z0-9]", "_") + "_max"
  def sparkAggs = Seq(max(col(column)).cast("double").as(al))
  def duckAggs = Seq(s"CAST(max($column) AS DOUBLE) AS $al")
  def metricSql = al
  def passSql = s"$al <= $bound"
  override def partialMerges = Some(Seq(al -> "max"))
}

/** Row count within [lo, hi] — a partition-emptiness/explosion tripwire. */
final case class SizeBetween(lo: Long, hi: Long,
                             override val name: String = "size") extends Check {
  def sparkAggs = Seq.empty
  def duckAggs = Seq.empty
  def metricSql = "cast(n as double)"
  def passSql = s"n >= $lo AND n <= $hi"
  override def partialMerges = Some(Seq.empty)
}

/** Generic row predicate: fraction of rows satisfying `predicateSql`
  * (ONE string evaluated by both engines — shared syntax only) must be
  * ≥ `minRatio`. The escape hatch for cross-column invariants, e.g.
  * `"l_quantity > 0 OR l_extendedprice = 0"`. */
final case class Satisfies(override val name: String, predicateSql: String,
                           minRatio: Double) extends RowCheck {
  private val al = a("sat")
  def sparkAggs = Seq(sum(when(expr(predicateSql), 1L).otherwise(0L)).as(al))
  def duckAggs = Seq(s"sum(CASE WHEN $predicateSql THEN 1 ELSE 0 END) AS $al")
  def metricSql = s"cast($al as double) / n"
  def passSql = s"cast($al as double) / n >= $minRatio"
  def sparkRowPred = expr(predicateSql)
  def duckRowPredSql = predicateSql
  override def partialMerges = Some(Seq(al -> "sum"))
}

/** A named suite of checks compiled to one aggregation pass. */
final case class CheckSuite(checks: Seq[Check]) {
  require(checks.nonEmpty, "empty check suite")
  require(checks.map(_.label).distinct.size == checks.size,
    s"duplicate check names: ${checks.map(_.label)}")

  private def aggCols: Seq[Column] =
    count(lit(1L)).as("n") +: checks.flatMap(_.sparkAggs)

  private def verdictStructs: Seq[Column] = checks.map { c =>
    struct(
      lit(c.label).as("check"),
      round(expr(c.metricSql).cast("double"), 6).as("metric"),
      coalesce(expr(c.passSql), lit(false)).as("pass"))
  }

  /** Global verdicts: one row per check — (check, metric, pass). One scan,
    * algebraic partials, a single-row exchange. */
  def run(df: DataFrame): DataFrame = run(df, Seq.empty)

  /** Grouped verdicts: one row per (group, check) — the per-partition
    * pass/fail emission of the north rule when `groupCols` is the
    * partition key. One hash-aggregate shuffle total. */
  def run(df: DataFrame, groupCols: Seq[String]): DataFrame = {
    val agg =
      if (groupCols.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
      else df.groupBy(groupCols.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    val out = agg
      .select(groupCols.map(col) :+
        explode(array(verdictStructs: _*)).as("r"): _*)
      .select(groupCols.map(col) :+ col("r.check") :+ col("r.metric") :+
        col("r.pass"): _*)
    out.orderBy((groupCols :+ "check").map(col): _*)
  }

  /** The suite's row-expressible members, in declaration order. */
  def rowChecks: Seq[RowCheck] = checks.collect { case r: RowCheck => r }

  /** True iff every member's counters merge from stored numbers — the
    * precondition for [[partials]]/[[finalizeFrom]] (streaming or
    * shard-parallel validation). */
  def mergeablePartials: Boolean = checks.forall(_.partialMerges.isDefined)

  /** One partial-counter row for a shard/micro-batch: the suite's
    * aggregate WITHOUT the metric/pass finalize. Rows from many shards
    * merge exactly via [[finalizeFrom]]. Streamed through
    * [[graft.streaming.BatchStore]], state is one counter row per
    * micro-batch whatever its width, so validating a 10^12-row stream
    * costs the batch suite's single pass plus a #batches-row finalize. */
  def partials(df: DataFrame): DataFrame = {
    require(mergeablePartials,
      s"non-mergeable checks in suite: ${checks.filter(_.partialMerges.isEmpty).map(_.label)}")
    df.agg(aggCols.head, aggCols.tail: _*)
  }

  /** Merge partial-counter rows (any number of shards, any order) and
    * emit the same verdict rows [[run]] would produce over the union of
    * the shards — counts/sums add, money sums re-ride decimal(18,2),
    * mins/maxes combine. Exactly-once semantics come from how partials
    * are STORED (idempotent per shard id), not from this merge. */
  def finalizeFrom(partialRows: DataFrame): DataFrame = {
    require(mergeablePartials,
      s"non-mergeable checks in suite: ${checks.filter(_.partialMerges.isEmpty).map(_.label)}")
    def fn(alias: String, kind: String): Column = (kind match {
      case "sum" => sum(col(alias))
      case "dsum" => sum(col(alias).cast("decimal(18,2)")).cast("double")
      case "min" => min(col(alias))
      case "max" => max(col(alias))
    }).as(alias)
    val merges = ("n" -> "sum") +: checks.flatMap(_.partialMerges.get)
    val cols = merges.map { case (alias, kind) => fn(alias, kind) }
    partialRows.agg(cols.head, cols.tail: _*)
      .select(explode(array(verdictStructs: _*)).as("r"))
      .select(col("r.check"), col("r.metric"), col("r.pass"))
      .orderBy("check")
  }

  /** Row-level annotation: appends `violations` (comma-joined labels of
    * the failed row checks, declaration order; both engines' concat_ws
    * skips the NULL arms) and `row_pass`. Pure per-row column math —
    * narrow, codegen'd, no shuffle; the per-record assessment output of
    * the reference (`validation_agent.py:355-364`) as a projection. */
  def annotate(df: DataFrame): DataFrame = {
    val rcs = rowChecks
    require(rcs.nonEmpty, "no row-expressible checks in this suite")
    val marks = rcs.map(c =>
      when(!coalesce(c.sparkRowPred, lit(false)), lit(c.label)))
    df.withColumn("violations", concat_ws(",", marks: _*))
      .withColumn("row_pass", col("violations") === "")
  }

  /** One-pass routing: (clean rows — original schema, quarantined rows —
    * annotated with their violations). Both frames derive from the same
    * annotated projection, so writing clean + quarantine sinks costs one
    * scan each with only a codegen'd filter on top (or ONE scan total via
    * `partitionBy(row_pass)` on the annotated frame). */
  def split(df: DataFrame): (DataFrame, DataFrame) = {
    val ann = annotate(df)
    (ann.filter(col("row_pass")).drop("violations", "row_pass"),
      ann.filter(!col("row_pass")).drop("row_pass"))
  }

  /** DuckDB twin of the quarantine side of [[split]] (key columns +
    * violations, failing rows only) — generated from the same row
    * predicates. */
  def duckQuarantineSql(table: String, keyCols: Seq[String]): String = {
    val rcs = rowChecks
    val arms = rcs.map(c =>
      s"CASE WHEN NOT coalesce(${c.duckRowPredSql}, false) THEN '${c.label}' END")
      .mkString(",\n           ")
    val anyFail = rcs.map(c => s"NOT coalesce(${c.duckRowPredSql}, false)")
      .mkString("\n            OR ")
    s"""SELECT ${keyCols.mkString(", ")},
         concat_ws(',',
           $arms) AS violations
       FROM $table
       WHERE $anyFail
       ORDER BY ${keyCols.mkString(", ")}"""
  }

  /** Deterministic bounded violation EXAMPLES: for each row-expressible
    * check, the first `k` failing rows in key order — the triage surface
    * a validation report attaches to every red verdict (the reference
    * caps its per-record issue listings the same way,
    * `validation_agent.py:355-364`: named violations with identifying
    * fields, never the full failing set).
    *
    * Scale shape (10^12 rows): a naive `row_number() OVER (PARTITION BY
    * check ORDER BY key)` funnels EVERY failing row of a check through
    * one reducer — with a 10% violation rate that is a 10^11-row single
    * partition. This is the distributed two-stage top-k instead:
    * stage 1 takes the per-(check, input-partition) top-k (the window key
    * includes `spark_partition_id()`, so the shuffle spreads over
    * #checks × #partitions keys and emits ≤ k rows per key); stage 2
    * re-ranks the ≤ k·#partitions survivors per check — a frame small
    * enough that its single-reducer window is free. Any global top-k row
    * is necessarily in its partition's local top-k, so the two stages
    * lose nothing. `keyCols` must be a row-unique key or ranks are
    * nondeterministic (same contract as any ORDER BY LIMIT).
    */
  def exampleViolations(df: DataFrame, keyCols: Seq[String], k: Int): DataFrame = {
    val rcs = rowChecks
    require(rcs.nonEmpty, "no row-expressible checks in this suite")
    require(k >= 1, s"k must be >= 1, got $k")
    val marks = rcs.map(c =>
      when(!coalesce(c.sparkRowPred, lit(false)), lit(c.label)))
    val keyOrder = keyCols.map(col)
    val labeled = df
      .select(keyCols.map(col) :+ spark_partition_id().as("_pid") :+
        explode(array(marks: _*)).as("check"): _*)
      .filter(col("check").isNotNull)
    val local = Window.partitionBy(col("check"), col("_pid")).orderBy(keyOrder: _*)
    val global = Window.partitionBy(col("check")).orderBy(keyOrder: _*)
    labeled
      .withColumn("_rk", row_number().over(local)).filter(col("_rk") <= k)
      .withColumn("example_rank", row_number().over(global))
      .filter(col("example_rank") <= k)
      .select(col("check") +: keyCols.map(col) :+ col("example_rank"): _*)
      .orderBy(col("check") +: keyOrder: _*)
  }

  /** DuckDB twin of [[exampleViolations]] — generated from the same row
    * predicates: per check, the first `k` failing rows in key order. */
  def duckExamplesSql(table: String, keyCols: Seq[String], k: Int): String = {
    val rcs = rowChecks
    val keys = keyCols.mkString(", ")
    val arms = rcs.map { c =>
      s"""SELECT * FROM (
           SELECT '${c.label}' AS "check", $keys,
             CAST(row_number() OVER (ORDER BY $keys) AS INT) AS example_rank
           FROM $table
           WHERE NOT coalesce(${c.duckRowPredSql}, false)
         ) WHERE example_rank <= $k"""
    }.mkString("\n  UNION ALL\n  ")
    s"""$arms
       ORDER BY "check", $keys"""
  }

  /** Sample-based validation ESTIMATE — the 10^12-row triage pass: run
    * the row checks over a deterministic md5-prefix sample (the engine's
    * reproducible-sampling convention, shared with `q_s2_sample_hash`)
    * and bound each check's FULL-TABLE violation rate with a Wilson
    * 95% score interval. A full validation scan prices at the whole
    * table; this prices at `len(hexDigits)/16` of one scan and tells you
    * which checks even CAN pass (`ci_lo` above the budget ⇒ the full
    * scan is already known-red; `ci_hi` below ⇒ known-green) — only the
    * straddlers need the exact pass. Wilson (not normal approximation)
    * so the bounds stay honest at violation rates near 0, where
    * validation lives.
    *
    * Output: (check, n_sample, x_viol, viol_rate, ci_lo, ci_hi, pass)
    * with pass ⇔ ci_hi ≤ maxViolRate. One scan-stage predicate + one
    * single-row aggregate — no shuffle wider than the counter row.
    */
  def estimate(df: DataFrame, idSql: String, hexDigits: Seq[String],
               maxViolRate: Double = 0.1): DataFrame = {
    val rcs = rowChecks
    require(rcs.nonEmpty, "no row-expressible checks in this suite")
    val sampled = df.filter(
      substring(md5(expr(idSql).cast("string")), 1, 1).isin(hexDigits: _*))
    val aggs = count(lit(1L)).as("n_sample") +: rcs.map(c =>
      sum(when(!coalesce(c.sparkRowPred, lit(false)), 1L).otherwise(0L))
        .as(estAlias(c)))
    val one = sampled.agg(aggs.head, aggs.tail: _*)
    val structs = rcs.map(c =>
      struct(lit(c.label).as("check"), col(estAlias(c)).as("x_viol")))
    val n = col("n_sample").cast("double")
    val x = col("x_viol").cast("double")
    // Wilson score interval, z = 1.96 (z² inlined as 3.8416 in BOTH
    // engines so the doubles match bit-for-bit before round-6).
    val z = lit(1.96); val z2 = lit(3.8416)
    val phat = x / n
    val denom = lit(1.0) + z2 / n
    val center = (phat + z2 / (lit(2.0) * n)) / denom
    val half = z * sqrt(phat * (lit(1.0) - phat) / n +
      z2 / (lit(4.0) * n * n)) / denom
    one.select(col("n_sample"), explode(array(structs: _*)).as("r"))
      .select(col("r.check").as("check"), col("n_sample"),
        col("r.x_viol").as("x_viol"))
      .withColumn("viol_rate", round(phat, 6))
      .withColumn("ci_lo", round(greatest(lit(0.0), center - half), 6))
      .withColumn("ci_hi", round(least(lit(1.0), center + half), 6))
      .withColumn("pass", least(lit(1.0), center + half) <= lit(maxViolRate))
      .orderBy("check")
  }

  /** DuckDB twin of [[estimate]] — same sample predicate, same Wilson
    * formula with the same literals and association order. */
  def duckEstimateSql(table: String, idSql: String, hexDigits: Seq[String],
                      maxViolRate: Double = 0.1): String = {
    val rcs = rowChecks
    val hexIn = hexDigits.map(h => s"'$h'").mkString(", ")
    val aggArms = rcs.map(c =>
      s"CAST(sum(CASE WHEN NOT coalesce(${c.duckRowPredSql}, false) THEN 1 ELSE 0 END) AS BIGINT) AS ${estAlias(c)}")
      .mkString(",\n           ")
    val arms = rcs.map { c =>
      val nD = "CAST(n_sample AS DOUBLE)"
      val xD = s"CAST(${estAlias(c)} AS DOUBLE)"
      val phat = s"($xD / $nD)"
      val denom = s"(1.0 + 3.8416 / $nD)"
      val center = s"(($phat + 3.8416 / (2.0 * $nD)) / $denom)"
      val half = s"(1.96 * sqrt($phat * (1.0 - $phat) / $nD + 3.8416 / (4.0 * $nD * $nD)) / $denom)"
      s"""SELECT '${c.label}' AS "check", n_sample, ${estAlias(c)} AS x_viol,
           round($phat, 6) AS viol_rate,
           round(greatest(0.0, $center - $half), 6) AS ci_lo,
           round(least(1.0, $center + $half), 6) AS ci_hi,
           least(1.0, $center + $half) <= $maxViolRate AS pass
         FROM a"""
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH a AS (
         SELECT count(*) AS n_sample,
           $aggArms
         FROM $table
         WHERE substr(md5(CAST($idSql AS VARCHAR)), 1, 1) IN ($hexIn))
       $arms
       ORDER BY "check""""
  }

  /** Estimate-then-exact triage — the composition [[estimate]] exists
    * for, run end-to-end: (1) the Wilson sample pass prices each check's
    * violation rate at `len(hexDigits)/16` of one scan; (2) checks whose
    * 95% interval clears the budget on either side are DECIDED from the
    * sample (ci_hi ≤ budget ⇒ pass, ci_lo > budget ⇒ fail — wrong with
    * probability ≤ 2.5% per side, the price of not scanning); (3) only
    * the straddlers — typically none or one — pay a full scan, and that
    * scan evaluates ONLY the straddler predicates. At 10^12 rows this
    * turns "validate everything exactly" into "scan 1/8, then maybe
    * rescan for one check". If nothing straddles, the full table is
    * never read at all.
    *
    * Decisions use the ROUND-6 ci bounds (the exported columns), so the
    * branch taken is bit-reproducible cross-engine. The per-check
    * decision set is column-count-sized — the driver-side collect is
    * bounded by construction (same contract as Profiler suggestions).
    *
    * Output: (check, method ∈ 'sample'|'exact', viol_rate, pass),
    * ordered by check.
    */
  def triage(df: DataFrame, idSql: String, hexDigits: Seq[String],
             maxViolRate: Double = 0.1): DataFrame = {
    val rcs = rowChecks
    val est = estimate(df, idSql, hexDigits, maxViolRate)
    // column-count-sized: one row per check
    val rows = est.select("check", "viol_rate", "ci_lo", "ci_hi").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val straddle = rows.collect {
      case (c, _, lo, hi) if lo <= maxViolRate && hi > maxViolRate => c
    }.toSet
    val spark = df.sparkSession
    import spark.implicits._
    val sampleLeg = rows.toSeq.collect {
      case (c, rate, _, hi) if !straddle(c) =>
        (c, "sample", rate, hi <= maxViolRate)
    }.toDF("check", "method", "viol_rate", "pass")
    if (straddle.isEmpty) sampleLeg.orderBy("check")
    else {
      val scs = rcs.filter(c => straddle(c.label))
      val aggs = count(lit(1L)).as("n_all") +: scs.map(c =>
        sum(when(!coalesce(c.sparkRowPred, lit(false)), 1L).otherwise(0L))
          .as(estAlias(c)))
      val structs = scs.map(c =>
        struct(lit(c.label).as("check"), col(estAlias(c)).as("x_viol")))
      val rate = col("r.x_viol").cast("double") / col("n_all").cast("double")
      val exactLeg = df.agg(aggs.head, aggs.tail: _*)
        .select(col("n_all"), explode(array(structs: _*)).as("r"))
        .select(col("r.check").as("check"), lit("exact").as("method"),
          round(rate, 6).as("viol_rate"),
          (rate <= lit(maxViolRate)).as("pass"))
      sampleLeg.union(exactLeg).orderBy("check")
    }
  }

  /** DuckDB twin of [[triage]] — the same sample aggregate, the same
    * round-6 Wilson bounds deciding the same branch, the same exact
    * rates for straddlers (DuckDB evaluates both legs and selects;
    * cost is the oracle's problem, the decision logic is the twin). */
  def duckTriageSql(table: String, idSql: String, hexDigits: Seq[String],
                    maxViolRate: Double = 0.1): String = {
    val rcs = rowChecks
    val hexIn = hexDigits.map(h => s"'$h'").mkString(", ")
    val aggArms = rcs.map(c =>
      s"CAST(sum(CASE WHEN NOT coalesce(${c.duckRowPredSql}, false) THEN 1 ELSE 0 END) AS BIGINT) AS ${estAlias(c)}")
      .mkString(",\n           ")
    val arms = rcs.map { c =>
      val nD = "CAST(n_sample AS DOUBLE)"
      val xD = s"CAST(a.${estAlias(c)} AS DOUBLE)"
      val phat = s"($xD / $nD)"
      val denom = s"(1.0 + 3.8416 / $nD)"
      val center = s"(($phat + 3.8416 / (2.0 * $nD)) / $denom)"
      val half = s"(1.96 * sqrt($phat * (1.0 - $phat) / $nD + 3.8416 / (4.0 * $nD * $nD)) / $denom)"
      val ciLo = s"round(greatest(0.0, $center - $half), 6)"
      val ciHi = s"round(least(1.0, $center + $half), 6)"
      val straddle = s"($ciLo <= $maxViolRate AND $ciHi > $maxViolRate)"
      val exactRate = s"(CAST(f.${estAlias(c)} AS DOUBLE) / CAST(n_all AS DOUBLE))"
      s"""SELECT '${c.label}' AS "check",
           CASE WHEN $straddle THEN 'exact' ELSE 'sample' END AS method,
           CASE WHEN $straddle THEN round($exactRate, 6)
                ELSE round($phat, 6) END AS viol_rate,
           CASE WHEN $straddle THEN $exactRate <= $maxViolRate
                ELSE $ciHi <= $maxViolRate END AS pass
         FROM a, f"""
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH a AS (
         SELECT count(*) AS n_sample,
           $aggArms
         FROM $table
         WHERE substr(md5(CAST($idSql AS VARCHAR)), 1, 1) IN ($hexIn)),
       f AS (
         SELECT count(*) AS n_all,
           $aggArms
         FROM $table)
       $arms
       ORDER BY "check""""
  }

  private def estAlias(c: RowCheck): String =
    c.label.replaceAll("[^A-Za-z0-9]", "_") + "_x"

  /** The DuckDB twin of [[run]] over `table` — generated from the SAME
    * check definitions, so the oracle can never drift from the plan.
    * `where` restricts the scanned slice (shared-syntax predicate). */
  def duckSql(table: String, groupCols: Seq[String] = Seq.empty,
              where: String = ""): String = {
    val gsel = if (groupCols.isEmpty) "" else groupCols.mkString(", ") + ", "
    val gby = if (groupCols.isEmpty) "" else " GROUP BY " + groupCols.mkString(", ")
    val wh = if (where.isEmpty) "" else s" WHERE $where"
    val frags = ("count(*) AS n" +: checks.flatMap(_.duckAggs)).mkString(",\n    ")
    val arms = checks.map { c =>
      s"""SELECT $gsel'${c.label}' AS "check",
         round(CAST(${c.metricSql} AS DOUBLE), 6) AS metric,
         coalesce(${c.passSql}, false) AS pass FROM a"""
    }.mkString("\n  UNION ALL\n  ")
    val order = (groupCols :+ "\"check\"").mkString(", ")
    s"""WITH a AS (SELECT $gsel$frags FROM $table$wh$gby)
       $arms
       ORDER BY $order"""
  }
}

/** Run-over-run metric anomaly detection — the metric-level sibling of
  * the distribution-level [[Drift]] checks (reference: drift vs
  * peers/priors, `validation_agent.py:85-109, 258-305`). A metric is
  * anomalous when it moved more than `maxAbsDelta + maxRelDelta·|base|`
  * from the baseline run — the additive term absorbs noise near zero,
  * the relative term scales with the metric. */
object MetricAnomaly {

  /** Join two verdict frames of the SAME suite on check name and flag
    * movements. Output: (check, base_metric, metric, delta, anomalous).
    * All inputs are 6-dp verdict metrics, so the deltas are identical FP
    * ops in any engine. With `cur` finalized from a streamed partial
    * store, a live pipeline flags a regression mid-stream. */
  def vs(cur: DataFrame, baseline: DataFrame, maxAbsDelta: Double,
         maxRelDelta: Double): DataFrame = {
    val b = baseline.select(col("check"), col("metric").as("base_metric"))
    cur.select(col("check"), col("metric"))
      .join(b, Seq("check"))
      .withColumn("delta", round(col("metric") - col("base_metric"), 6))
      .withColumn("anomalous",
        abs(col("metric") - col("base_metric")) >
          lit(maxAbsDelta) + lit(maxRelDelta) * abs(col("base_metric")))
      .select(col("check"), col("base_metric"), col("metric"),
        col("delta"), col("anomalous"))
      .orderBy("check")
  }

  /** DuckDB twin: two generated suite aggregates (current slice vs
    * baseline slice of `table`) joined with the same delta math. */
  def duckSql(suite: CheckSuite, table: String, baselineWhere: String,
              maxAbsDelta: Double, maxRelDelta: Double): String =
    s"""WITH cur AS (${suite.duckSql(table)}),
       base AS (${suite.duckSql(table, where = baselineWhere)})
       SELECT cur."check", base.metric AS base_metric, cur.metric,
         round(cur.metric - base.metric, 6) AS delta,
         abs(cur.metric - base.metric) >
           $maxAbsDelta + $maxRelDelta * abs(base.metric) AS anomalous
       FROM cur JOIN base ON cur."check" = base."check"
       ORDER BY cur."check""""
}

/** Persisted per-run verdict history — the metrics repository the
  * anomaly checks read. One `part=<run_id>` partition per run, written
  * with the side-store discipline (dynamic partition overwrite ⇒ a
  * re-recorded run replaces itself; a 10^6-run history prunes to the two
  * partitions a comparison reads). */
object MetricsRepository {

  def record(verdicts: DataFrame, runId: String, dir: String): Unit =
    PartitionedStore.write(verdicts.withColumn("part", lit(runId)), dir)

  /** Full history: (run_id, check, metric, pass). */
  def history(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).withColumnRenamed("part", "run_id")

  /** Anomalies of `runId` vs `baselineId` straight from the store. */
  def anomalies(spark: org.apache.spark.sql.SparkSession, dir: String,
                runId: String, baselineId: String, maxAbsDelta: Double,
                maxRelDelta: Double): DataFrame = {
    val h = history(spark, dir)
    MetricAnomaly.vs(
      h.filter(col("run_id") === runId),
      h.filter(col("run_id") === baselineId),
      maxAbsDelta, maxRelDelta)
  }
}

/** Sequential trend monitoring over a verdict run HISTORY — the
  * many-run sibling of the pairwise [[MetricAnomaly]]: an EWMA control
  * chart (Roberts 1959; NIST/SEMATECH e-handbook §6.3.2.4) per check.
  * z_i = λ·m_i + (1−λ)·z_{i−1} with z_0 = μ0, flagged when |z_i − μ0|
  * exceeds L·σ·sqrt(λ/(2−λ)·(1−(1−λ)^{2i})) — small persistent shifts
  * accumulate in z long before any single run trips [[MetricAnomaly]]'s
  * per-pair delta (reference analogue: drift vs priors across runs,
  * validation_agent.py:258-305). μ0/σ follow Phase-I practice: estimated
  * from the first `baselineRuns` runs per check (an in-control prefix) —
  * estimating over the whole history would let the shift inflate σ and
  * recentre μ0 until the chart can't see it (self-masking).
  *
  * Scale shape: the input is RUN-level metadata (one row per
  * (run, check) — KB-sized at any table scale), so the closed-form
  * expansion z_i = λ·Σ_j (1−λ)^{i−j}·m_j + (1−λ)^i·μ0 is computed by an
  * O(runs²)-per-check self-join — runs², never rows². μ0/σ use
  * decimal-exact Σm/Σm² so both engines finalize from identical sums;
  * the weighted EWMA sum is the one FP-order-sensitive value — round-6
  * (same discipline as the suite score means).
  */
object MetricTrend {

  /** `history`: (run_id, check, metric, ...) — e.g. [[MetricsRepository
    * .history]] output or a grouped suite run keyed by run_id. Returns
    * (check, run_id, seq, metric, ewma, lcl, ucl, out_of_control)
    * ordered by (check, run_id). `baselineRuns` = Phase-I prefix length
    * (runs with seq ≤ baselineRuns estimate μ0/σ). */
  def ewma(history: DataFrame, lam: Double, l: Double,
           baselineRuns: Int): DataFrame = {
    require(lam > 0.0 && lam <= 1.0, s"lambda in (0,1], got $lam")
    require(baselineRuns >= 1, s"baselineRuns >= 1, got $baselineRuns")
    val w = Window.partitionBy("check").orderBy("run_id")
    val ranked = history
      .select(col("check"), col("run_id"), col("metric").cast("double").as("metric"))
      .withColumn("seq", row_number().over(w))
    val stats = ranked.filter(col("seq") <= baselineRuns)
      .groupBy(col("check").as("s_check")).agg(
      count(lit(1L)).as("n_runs"),
      sum(col("metric").cast("decimal(28,12)")).cast("double").as("sm"),
      sum((col("metric") * col("metric")).cast("decimal(28,12)"))
        .cast("double").as("sm2"))
    val a = ranked.as("a")
    val b = ranked.select(col("check").as("b_check"), col("metric").as("b_metric"),
      col("seq").as("b_seq"))
    val lamC = lit(lam); val oneMinus = lit(1.0) - lit(lam)
    val wsums = a.join(b, col("a.check") === col("b_check") &&
        col("b_seq") <= col("a.seq"))
      .groupBy(col("a.check"), col("a.run_id"), col("a.seq"), col("a.metric"))
      .agg(sum(pow(oneMinus, col("a.seq") - col("b_seq")) * col("b_metric"))
        .as("wsum"))
    val joined = wsums.join(stats, col("check") === col("s_check")).drop("s_check")
    val n = col("n_runs").cast("double")
    val mu0 = col("sm") / n
    val sigma = when(col("n_runs") > 1,
      sqrt(greatest(lit(0.0), (col("sm2") - col("sm") * col("sm") / n) / (n - lit(1.0)))))
      .otherwise(lit(0.0))
    val z = lamC * col("wsum") + pow(oneMinus, col("seq")) * mu0
    val half = lit(l) * sigma *
      sqrt(lamC / (lit(2.0) - lamC) *
        (lit(1.0) - pow(oneMinus, lit(2.0) * col("seq"))))
    joined
      .withColumn("ewma", round(z, 6))
      .withColumn("lcl", round(mu0 - half, 6))
      .withColumn("ucl", round(mu0 + half, 6))
      // compare at the round-6 discipline: a σ=0 baseline (half = 0)
      // must not alarm on the ~1e-16 FP residue of z − μ0 on a series
      // that is exactly in control.
      .withColumn("out_of_control", round(abs(z - mu0), 6) > round(half, 6))
      .select("check", "run_id", "seq", "metric", "ewma", "lcl", "ucl",
        "out_of_control")
      .orderBy("check", "run_id")
  }

  /** DuckDB twin of [[ewma]] over a history relation (same formulas,
    * same literals, same association order; `historySql` is any query
    * producing (run_id, check, metric, ...)). */
  def duckSql(historySql: String, lam: Double, l: Double,
              baselineRuns: Int): String = {
    val om = s"(1.0 - $lam)"
    val mu0 = "(sm / CAST(n_runs AS DOUBLE))"
    val sigma = s"""(CASE WHEN n_runs > 1 THEN sqrt(greatest(0.0,
               (sm2 - sm * sm / CAST(n_runs AS DOUBLE)) / (CAST(n_runs AS DOUBLE) - 1.0)))
             ELSE 0.0 END)"""
    val half = s"($l * $sigma * sqrt($lam / (2.0 - $lam) * (1.0 - pow($om, 2.0 * seq))))"
    val z = s"($lam * wsum + pow($om, seq) * $mu0)"
    s"""WITH h AS ($historySql),
       r AS (SELECT "check", run_id, CAST(metric AS DOUBLE) AS metric,
               CAST(row_number() OVER (PARTITION BY "check" ORDER BY run_id) AS INT) AS seq
             FROM h),
       s AS (SELECT "check" AS s_check, count(*) AS n_runs,
               CAST(sum(CAST(metric AS DECIMAL(28,12))) AS DOUBLE) AS sm,
               CAST(sum(CAST(metric * metric AS DECIMAL(28,12))) AS DOUBLE) AS sm2
             FROM r WHERE seq <= $baselineRuns GROUP BY 1),
       e AS (SELECT a."check", a.run_id, a.seq, a.metric,
               sum(pow($om, a.seq - b.seq) * b.metric) AS wsum
             FROM r a JOIN r b ON a."check" = b."check" AND b.seq <= a.seq
             GROUP BY 1, 2, 3, 4)
       SELECT "check", run_id, seq, metric,
         round($z, 6) AS ewma,
         round($mu0 - $half, 6) AS lcl,
         round($mu0 + $half, 6) AS ucl,
         round(abs($z - $mu0), 6) > round($half, 6) AS out_of_control
       FROM e JOIN s ON e."check" = s.s_check
       ORDER BY "check", run_id"""
  }

  /** Tabular CUSUM chart (Page 1954; NIST/SEMATECH §6.3.2.3) — the
    * other standard sequential chart, tuned for the OPPOSITE regime to
    * EWMA: a one-sided cumulative sum resets at zero while in control,
    * so a shift of ~kσ per run accumulates linearly and trips h·σ in
    * ~h/|shift/σ − k| runs. U_i = max(0, U_{i−1} + (m_i − μ0 − kσ)),
    * L_i = max(0, L_{i−1} + (μ0 − kσ − m_i)); alarm when either exceeds
    * h·σ. Phase-I μ0/σ from the first `baselineRuns` runs, as [[ewma]].
    *
    * Scale shape: the max(0,·) recursion has the closed form
    * U_i = P_i − min(0, P_1, …, P_i) with P the running sum of the
    * drift terms — two sequential-frame windows over run-level metadata
    * (KB-sized), no self-join at all. FP note: running sums are the one
    * association-order-sensitive value (DuckDB windows may tree-sum) —
    * round-6 on every exported column, same discipline as [[ewma]]. */
  def cusum(history: DataFrame, k: Double, h: Double,
            baselineRuns: Int): DataFrame = {
    require(k >= 0.0, s"k >= 0, got $k")
    require(h > 0.0, s"h > 0, got $h")
    require(baselineRuns >= 1, s"baselineRuns >= 1, got $baselineRuns")
    val w = Window.partitionBy("check").orderBy("run_id")
    val ranked = history
      .select(col("check"), col("run_id"), col("metric").cast("double").as("metric"))
      .withColumn("seq", row_number().over(w))
    val stats = ranked.filter(col("seq") <= baselineRuns)
      .groupBy(col("check").as("s_check")).agg(
        count(lit(1L)).as("n_runs"),
        sum(col("metric").cast("decimal(28,12)")).cast("double").as("sm"),
        sum((col("metric") * col("metric")).cast("decimal(28,12)"))
          .cast("double").as("sm2"))
    val joined = ranked.join(stats, col("check") === col("s_check")).drop("s_check")
    val n = col("n_runs").cast("double")
    val mu0 = col("sm") / n
    val sigma = when(col("n_runs") > 1,
      sqrt(greatest(lit(0.0), (col("sm2") - col("sm") * col("sm") / n) / (n - lit(1.0)))))
      .otherwise(lit(0.0))
    val run = Window.partitionBy("check").orderBy("seq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pHi = sum(col("metric") - mu0 - lit(k) * sigma).over(run)
    val pLo = sum(mu0 - lit(k) * sigma - col("metric")).over(run)
    val base = joined
      .withColumn("_phi", pHi).withColumn("_plo", pLo)
      .withColumn("_uhi", col("_phi") - least(lit(0.0), min(col("_phi")).over(run)))
      .withColumn("_ulo", col("_plo") - least(lit(0.0), min(col("_plo")).over(run)))
      .withColumn("_thr", lit(h) * sigma)
    base
      .withColumn("cusum_hi", round(col("_uhi"), 6))
      .withColumn("cusum_lo", round(col("_ulo"), 6))
      .withColumn("threshold", round(col("_thr"), 6))
      .withColumn("out_of_control",
        round(col("_uhi"), 6) > round(col("_thr"), 6) ||
        round(col("_ulo"), 6) > round(col("_thr"), 6))
      .select("check", "run_id", "seq", "metric", "cusum_hi", "cusum_lo",
        "threshold", "out_of_control")
      .orderBy("check", "run_id")
  }

  /** DuckDB twin of [[cusum]] — same Phase-I stats, same prefix-min
    * closed form, same round-6 exports. */
  def duckCusumSql(historySql: String, k: Double, h: Double,
                   baselineRuns: Int): String = {
    val mu0 = "(sm / CAST(n_runs AS DOUBLE))"
    val sigma = s"""(CASE WHEN n_runs > 1 THEN sqrt(greatest(0.0,
               (sm2 - sm * sm / CAST(n_runs AS DOUBLE)) / (CAST(n_runs AS DOUBLE) - 1.0)))
             ELSE 0.0 END)"""
    val run = s"""OVER (PARTITION BY r."check" ORDER BY seq ROWS UNBOUNDED PRECEDING)"""
    s"""WITH h AS ($historySql),
       r AS (SELECT "check", run_id, CAST(metric AS DOUBLE) AS metric,
               CAST(row_number() OVER (PARTITION BY "check" ORDER BY run_id) AS INT) AS seq
             FROM h),
       s AS (SELECT "check" AS s_check, count(*) AS n_runs,
               CAST(sum(CAST(metric AS DECIMAL(28,12))) AS DOUBLE) AS sm,
               CAST(sum(CAST(metric * metric AS DECIMAL(28,12))) AS DOUBLE) AS sm2
             FROM r WHERE seq <= $baselineRuns GROUP BY 1),
       p AS (SELECT r."check", run_id, seq, metric,
               sum(metric - $mu0 - $k * $sigma) $run AS phi,
               sum($mu0 - $k * $sigma - metric) $run AS plo,
               $h * $sigma AS thr
             FROM r JOIN s ON r."check" = s.s_check),
       u AS (SELECT "check", run_id, seq, metric, thr,
               phi - least(0.0, min(phi) OVER (PARTITION BY "check" ORDER BY seq ROWS UNBOUNDED PRECEDING)) AS uhi,
               plo - least(0.0, min(plo) OVER (PARTITION BY "check" ORDER BY seq ROWS UNBOUNDED PRECEDING)) AS ulo
             FROM p)
       SELECT "check", run_id, seq, metric,
         round(uhi, 6) AS cusum_hi,
         round(ulo, 6) AS cusum_lo,
         round(thr, 6) AS threshold,
         (round(uhi, 6) > round(thr, 6) OR round(ulo, 6) > round(thr, 6)) AS out_of_control
       FROM u
       ORDER BY "check", run_id"""
  }

  /** Theil–Sen robust trend ESTIMATE per check (Theil 1950; Sen, JASA
    * 1968): slope = median of all pairwise slopes over the run history,
    * intercept = median of (metric − slope·seq). The ESTIMATOR sibling
    * of the [[ewma]]/[[cusum]] DETECTORS: charts answer "did this metric
    * shift?", Theil–Sen answers "how fast is it moving?" with a 29.3%
    * breakdown point — a single corrupted run (the exact thing a
    * validation history accumulates: one run against a half-written
    * snapshot) tilts an OLS slope arbitrarily but cannot move the
    * pairwise-slope median. `trending` flags |slope| > slopeTol per run
    * step, in metric units.
    *
    * Scale shape: the pairwise self-join is over RUN-LEVEL metadata
    * (runs² rows per check, KB at any table scale — same frame the EWMA
    * weight join uses), never data rows; both medians are exact
    * percentiles on that bounded frame.
    *
    * Output: (check, n_runs, n_pairs, slope, intercept, trending),
    * ordered by check. Checks with a single run emit nothing (no pair —
    * a slope needs two points by definition). */
  def theilSen(history: DataFrame, slopeTol: Double): DataFrame = {
    require(slopeTol >= 0.0, s"slopeTol >= 0, got $slopeTol")
    val w = Window.partitionBy("check").orderBy("run_id")
    val ranked = history
      .select(col("check"), col("run_id"), col("metric").cast("double").as("metric"))
      .withColumn("seq", row_number().over(w))
    val b = ranked.select(col("check").as("b_check"),
      col("metric").as("b_metric"), col("seq").as("b_seq"))
    val slopes = ranked.join(b, col("check") === col("b_check") &&
        col("b_seq") < col("seq"))
      .select(col("check"), ((col("metric") - col("b_metric")) /
        (col("seq") - col("b_seq")).cast("double")).as("slope"))
    val perCheck = slopes.groupBy(col("check").as("s_check")).agg(
      count(lit(1L)).as("n_pairs"),
      expr("percentile(slope, 0.5)").as("slope"))
    ranked.join(perCheck, col("check") === col("s_check")).drop("s_check")
      .withColumn("_icpt", col("metric") - col("slope") * col("seq").cast("double"))
      .groupBy("check").agg(
        count(lit(1L)).as("n_runs"),
        max(col("n_pairs")).as("n_pairs"),
        round(max(col("slope")), 6).as("slope"),
        round(expr("percentile(_icpt, 0.5)"), 6).as("intercept"))
      .withColumn("trending", abs(col("slope")) > lit(slopeTol))
      .select("check", "n_runs", "n_pairs", "slope", "intercept", "trending")
      .orderBy("check")
  }

  /** DuckDB twin of [[theilSen]] — same pairwise construction,
    * quantile_cont is the same linearly-interpolated exact median as
    * Spark's `percentile`, same round-6 exports. */
  def duckTheilSenSql(historySql: String, slopeTol: Double): String =
    s"""WITH h AS ($historySql),
       r AS (SELECT "check", run_id, CAST(metric AS DOUBLE) AS metric,
               CAST(row_number() OVER (PARTITION BY "check" ORDER BY run_id) AS INT) AS seq
             FROM h),
       p AS (SELECT a."check" AS s_check,
               (a.metric - b.metric) / CAST(a.seq - b.seq AS DOUBLE) AS slope
             FROM r a JOIN r b ON a."check" = b."check" AND b.seq < a.seq),
       sl AS (SELECT s_check, count(*) AS n_pairs,
                quantile_cont(slope, 0.5) AS slope
              FROM p GROUP BY 1),
       ic AS (SELECT r."check", count(*) AS n_runs,
                max(sl.n_pairs) AS n_pairs,
                round(max(sl.slope), 6) AS slope,
                round(quantile_cont(r.metric - sl.slope * CAST(r.seq AS DOUBLE), 0.5), 6) AS intercept
              FROM r JOIN sl ON r."check" = sl.s_check GROUP BY 1)
       SELECT "check", n_runs, n_pairs, slope, intercept,
         abs(slope) > $slopeTol AS trending
       FROM ic
       ORDER BY "check""""
}

object CheckSuite {

  /** Schema assertion report: verdict rows for expected (column, type)
    * pairs, computed from `df.schema` — metadata only, no scan. The
    * "schema" half of "schema + constraint validation engine"; typed
    * like the data verdicts so callers can union the two. */
  def schemaReport(df: DataFrame,
                   expected: Seq[(String, String)]): DataFrame = {
    val actual = df.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val rows = expected.map { case (cname, tpe) =>
      val present = actual.contains(cname)
      val actualTpe = actual.getOrElse(cname, "")
      (cname, tpe, actualTpe, present, present && actualTpe == tpe)
    }
    df.sparkSession.createDataFrame(rows)
      .toDF("column", "expected_type", "actual_type", "present", "pass")
  }
}
