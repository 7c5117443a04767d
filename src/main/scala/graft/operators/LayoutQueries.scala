package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table-layout and planner-statistics operators — the metadata layer an
  * Iceberg deployment runs BEFORE any scan: zone-map (file-stats) pruning
  * estimation, clustering-layout comparison (linear vs z-order), and
  * sketch-based join-cardinality estimation. Reference analogues: the
  * reference prunes work with cheap precomputed keys before expensive
  * fetches (content-keyed cache checks, `/root/reference/src/crawl_first/
  * cache.py:27-29`, and the bounded bbox pre-filter before per-feature
  * distance math, `osm.py:606-637`) and sizes batches from cheap counts
  * before running them (`Makefile:124`).
  *
  * Why this belongs in a validation engine at 10^12 rows: the north-star
  * table is Iceberg, and Iceberg's manifest stats (per-file min/max/null
  * counts) are exactly a zone map. Whether a drift or key-check scan
  * touches 1% or 100% of 100 TB is decided by these stats and by how the
  * table is clustered — so the engine ships (a) an estimator that
  * replays the pruning decision from the stats alone, (b) a measured
  * comparison of ingest-order vs z-order clustering for the same
  * predicate, and (c) a histogram-sketch join-cardinality estimator (the
  * input a planner needs to pick broadcast vs sort-merge for the
  * referential checks).
  *
  * Everything is integer/md5-deterministic and builtins-only, so every
  * operator is DuckDB-oracle-able bit-for-bit and stays in whole-stage
  * codegen.
  *
  * Scale notes (100 TB):
  *  - zone stats are ONE narrow groupBy per layout on the zone key —
  *    map-side partial min/max/count, output rows = zone count (~file
  *    count), orders of magnitude smaller than the data;
  *  - the pruning estimate then runs on the STATS ONLY (zone-count-sized
  *    input) — this is the whole point: the decision costs nothing;
  *  - z-values are pure per-row bit math (no shuffle); the comparison
  *    aggregates by zone key — same single-shuffle shape;
  *  - the join-cardinality sketch is two narrow aggregations (bucket →
  *    count) + a bucket-count-sized merge join; the sketch (≤ 65,536
  *    rows) broadcasts. No full join is needed to DECIDE — the exact
  *    count here exists only to grade the estimate.
  *
  * Algorithms from the public literature: z-order / bit-interleaved
  * clustering (Morton 1966; Orenstein & Merrett, PODS 1984), small-
  * materialized-aggregates zone maps (Moerkotte, VLDB 1998), histogram
  * join-size estimation (Ioannidis & Christodoulakis, SIGMOD 1991).
  */
object LayoutQueries {

  private def li(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")

  // ---------------------------------------------------------------------
  // Zone maps: per-zone min/max stats + scan-pruning estimate
  // ---------------------------------------------------------------------

  /** Rows per ingest-order zone (a stand-in for "rows per data file"). */
  val IngestZoneOrders = 1000L

  /** Pruning-demo predicate: ship year 1997, half-open. */
  val PredLo = "1997-01-01"
  val PredHi = "1998-01-01"

  /** Per-zone min/max/count of `l_shipdate` under a zone key — the
    * Iceberg manifest row for that file. One narrow groupBy; stats output
    * is zone-count-sized.
    */
  def zoneStats(d: DataFrame, zone: Column): DataFrame =
    d.groupBy(zone.as("zone"))
      .agg(min(col("l_shipdate")).as("z_min"),
        max(col("l_shipdate")).as("z_max"),
        count(lit(1)).as("z_rows"))

  /** Replay the scanner's pruning decision from stats alone: a zone is
    * scanned iff its [min, max] intersects [lo, hi). Runs on the
    * zone-count-sized stats frame, NOT the data.
    */
  def pruningEstimate(stats: DataFrame, layout: String): DataFrame = {
    val lo = to_timestamp(lit(PredLo))
    val hi = to_timestamp(lit(PredHi))
    val scanned = (col("z_max") >= lo) && (col("z_min") < hi)
    stats.agg(
      lit(layout).as("layout"),
      count(lit(1)).as("zones_total"),
      sum(scanned.cast("long")).as("zones_scanned"),
      sum(col("z_rows")).as("rows_total"),
      sum(when(scanned, col("z_rows")).otherwise(lit(0L))).as("rows_scanned"))
  }

  /** Two layouts of the SAME rows, same predicate, same stats model:
    * 'ingest' zones by arrival order (l_orderkey ranges — shipdate is
    * uncorrelated with it, so min/max straddle the predicate in every
    * zone and nothing prunes) vs 'clustered' zones keyed by ship month
    * (what a re-cluster on the predicate column produces — only the 12
    * matching months scan). rows_matching and amplification quantify the
    * win: scan_amp = rows the scanner must read per row the predicate
    * actually wants.
    */
  def zoneMapCompare(s: SparkSession, dir: String): DataFrame = {
    val d = li(s, dir)
    val ingest = pruningEstimate(
      zoneStats(d, floor(col("l_orderkey") / IngestZoneOrders).cast("string")),
      "ingest")
    val clustered = pruningEstimate(
      zoneStats(d, date_format(col("l_shipdate"), "yyyy-MM")),
      "clustered")
    val lo = to_timestamp(lit(PredLo))
    val hi = to_timestamp(lit(PredHi))
    val matching = d.agg(
      sum((col("l_shipdate") >= lo && col("l_shipdate") < hi).cast("long"))
        .as("rows_matching"))
    ingest.unionAll(clustered)
      .crossJoin(broadcast(matching)) // 2 × 1 rows — a literal attach
      .withColumn("scan_amp",
        round(col("rows_scanned").cast("double") / col("rows_matching"), 4))
      .orderBy("layout")
  }

  // ---------------------------------------------------------------------
  // Z-order clustering: bit-interleaved layout vs ingest order
  // ---------------------------------------------------------------------

  /** Box predicate bounds in QUANTIZED (0..255) space — scale-invariant:
    * qx/qy are quantized relative to each column's max, so the same box
    * selects the same ~2% fraction at every scale factor. */
  val QxLo = 51L
  val QxHi = 76L
  val QyLo = 51L
  val QyHi = 101L

  /** 16-bit Morton code of two 8-bit values: x bits at even positions,
    * y bits at odd. Pure integer column math — unrolled, codegen'd, no
    * shuffle, and replayed bit-for-bit by the oracle SQL.
    */
  def morton8(qx: Column, qy: Column): Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(qx, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(qy, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** For each layout, how many zones hold at least one row matching the
    * 2-D box predicate? 'linear' zones by l_orderkey range spread a 2%
    * selectivity box over essentially every zone; 'zorder' zones by
    * z-value prefix (z >> 6 — how a z-ordered rewrite range-partitions
    * files) confine it to the zones whose bit-prefix intersects the box.
    * touch_frac is the fraction of files a scan must open.
    */
  def zorderCompare(s: SparkSession, dir: String): DataFrame = {
    val raw = li(s, dir).select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    // 8-bit quantization relative to each dimension's max — one tiny agg,
    // broadcast back (the layout rewriter would know these bounds anyway).
    // floor is cross-engine exact here: quotients sit ≥ 1/denominator from
    // any integer boundary, far beyond double rounding.
    val bounds = raw.agg(max(col("l_partkey")).as("max_pk"),
      max(col("l_suppkey")).as("max_sk"))
    val d = raw.crossJoin(broadcast(bounds))
      .withColumn("qx", floor(col("l_partkey") * 256 / (col("max_pk") + 1)))
      .withColumn("qy", floor(col("l_suppkey") * 256 / (col("max_sk") + 1)))
      .withColumn("matches",
        (col("qx").between(QxLo, QxHi) && col("qy").between(QyLo, QyHi))
          .cast("long"))

    def layout(name: String, zone: Column): DataFrame =
      d.groupBy(zone.as("zone"))
        .agg(count(lit(1)).as("z_rows"), sum(col("matches")).as("z_hits"))
        .agg(lit(name).as("layout"),
          count(lit(1)).as("zones_total"),
          sum((col("z_hits") > 0).cast("long")).as("zones_touched"),
          sum(col("z_rows")).as("rows_total"),
          sum(col("z_hits")).as("rows_matching"))
        .withColumn("touch_frac",
          round(col("zones_touched").cast("double") / col("zones_total"), 4))

    layout("linear", floor(col("l_orderkey") / IngestZoneOrders))
      .unionAll(layout("zorder", shiftright(morton8(col("qx"), col("qy")), 6)))
      .orderBy("layout")
  }

  // ---------------------------------------------------------------------
  // Clustering advisor: (cluster-by K × predicate-on P) scan matrix
  // ---------------------------------------------------------------------

  /** Candidate clustering columns (numeric views; shipdate as epoch
    * seconds). Buckets per hypothetical sort order, and the canonical
    * workload predicate: the middle 20% of each column's domain. */
  val AdvisorCols: Seq[String] = Seq("l_shipdate", "l_partkey", "l_suppkey", "l_quantity")
  val AdvisorBuckets = 16
  val PredBandLo = 0.4
  val PredBandHi = 0.6

  /** For every pair (cluster-by K, predicate-on P): if the table were
    * rewritten sorted by K (approximated by `AdvisorBuckets` equal-width
    * value zones of K), what fraction of rows must a scan with the
    * canonical range predicate on P read, judged from per-zone min/max
    * stats alone? The full matrix is the artifact a table owner reads to
    * pick a sort order for their workload: the K = P diagonal prunes
    * hard, off-diagonal pairs prune only where the columns are
    * correlated.
    *
    * One exploded pass builds the whole stats cube — each row fans out
    * to its (K, bucket) pair for all K, ONE shuffle on (K, bucket)
    * computes min/max of every P per zone AND the per-zone matching
    * counts (stats output: |K| × `AdvisorBuckets` rows). Bounds are 8
    * doubles collected to the driver first (plan-audited: keeping them
    * as a crossJoined frame made Catalyst rescan the table 5×) — in an
    * Iceberg deployment they come free from table-level column stats.
    * Two narrow scans total for a 4×4 advisor over any table size, and
    * everything after the stats shuffle is zone-count-sized.
    */
  def clusteringAdvisor(s: SparkSession, dir: String): DataFrame = {
    val d = li(s, dir)
    def v(c: String): Column = c match {
      case "l_shipdate" => unix_seconds(col(c).cast("timestamp")).cast("double")
      case _            => col(c).cast("double")
    }
    val base = d.select(AdvisorCols.map(c => v(c).as(s"v_$c")): _*)

    // 8 doubles — KB-scale by construction (one min/max per candidate)
    val boundCols = AdvisorCols.flatMap(c => Seq(
      min(col(s"v_$c")).as(s"min_$c"), max(col(s"v_$c")).as(s"max_$c")))
    val bRow = base.agg(boundCols.head, boundCols.tail: _*).collect()(0)
    val mn = AdvisorCols.map(c => c -> bRow.getAs[Double](s"min_$c")).toMap
    val mx = AdvisorCols.map(c => c -> bRow.getAs[Double](s"max_$c")).toMap
    // literal arithmetic mirrors the oracle SQL's association exactly:
    // lo = min + band*(max-min), bucket = floor((v-min)*B/(max-min+1))
    def pLo(c: String): Double = mn(c) + PredBandLo * (mx(c) - mn(c))
    def pHi(c: String): Double = mn(c) + PredBandHi * (mx(c) - mn(c))
    def bucketOfK(k: String): Column =
      floor((col(s"v_$k") - lit(mn(k))) * AdvisorBuckets
        / lit(mx(k) - mn(k) + 1))

    // fan each row out to its zone under every hypothetical sort order;
    // match flags ride along so truth needs no second pass
    val expl = base.select(
      explode(array(AdvisorCols.map(k =>
        struct(lit(k).as("cluster_col"), bucketOfK(k).as("bucket"))): _*)).as("kb")
        +: AdvisorCols.map(c => col(s"v_$c")): _*)
      .select(Seq(col("kb.cluster_col").as("cluster_col"),
        col("kb.bucket").as("bucket")) ++
        AdvisorCols.map(c => col(s"v_$c")) ++
        AdvisorCols.map(p => (col(s"v_$p") >= pLo(p) && col(s"v_$p") < pHi(p))
          .cast("long").as(s"m_$p")): _*)
    val stats = expl.groupBy("cluster_col", "bucket")
      .agg(count(lit(1)).as("z_rows"),
        AdvisorCols.flatMap(p => Seq(
          min(col(s"v_$p")).as(s"zmin_$p"), max(col(s"v_$p")).as(s"zmax_$p"),
          sum(col(s"m_$p")).as(s"zmatch_$p"))): _*)

    // fan each zone-stats row out per predicate column, decide scanned;
    // every cluster partitioning covers all rows exactly once, so
    // sum(zmatch_P) within any cluster_col IS the corpus matching count
    val cube = stats.select(
      col("cluster_col"), col("z_rows"),
      explode(array(AdvisorCols.map(p =>
        struct(lit(p).as("pred_col"),
          (col(s"zmax_$p") >= pLo(p) && col(s"zmin_$p") < pHi(p)).as("scanned"),
          col(s"zmatch_$p").as("zmatch"))): _*)).as("ps"))
      .select(col("cluster_col"), col("z_rows"),
        col("ps.pred_col").as("pred_col"), col("ps.scanned").as("scanned"),
        col("ps.zmatch").as("zmatch"))
      .groupBy("cluster_col", "pred_col")
      .agg(count(lit(1)).as("zones_total"),
        sum(col("scanned").cast("long")).as("zones_scanned"),
        sum(col("z_rows")).as("rows_total"),
        sum(when(col("scanned"), col("z_rows")).otherwise(lit(0L)))
          .as("rows_scanned"),
        sum(col("zmatch")).as("rows_matching"))

    cube
      .withColumn("scan_frac",
        round(col("rows_scanned").cast("double") / col("rows_total"), 4))
      .select("cluster_col", "pred_col", "zones_scanned", "zones_total",
        "rows_scanned", "rows_total", "rows_matching", "scan_frac")
      .orderBy("cluster_col", "pred_col")
  }

  // ---------------------------------------------------------------------
  // Sketch-based join-cardinality estimation
  // ---------------------------------------------------------------------

  /** est(|A ⋈ B|) = Σ_b nA(b)·nB(b) over md5 hash buckets — the
    * equi-width hash-histogram estimator. Always ≥ truth (bucket
    * collisions only add cross products); converges to truth as buckets
    * grow past the key count. Emitted at 256 and 65,536 buckets so the
    * sketch-size/accuracy tradeoff is part of the contract.
    */
  def bucketOf(k: Column, hexDigits: Int): Column =
    conv(substring(md5(k.cast("string")), 1, hexDigits), 16, 10).cast("long")

  def joinCardEstimate(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val l = li(s, dir)
    // graded against the exact count — a real planner would never run this
    val truth = o.join(l, o("o_orderkey") === l("l_orderkey"))
      .agg(count(lit(1)).as("true_rows"))

    def estimate(hexDigits: Int): DataFrame = {
      val oSketch = o.groupBy(bucketOf(col("o_orderkey"), hexDigits).as("b"))
        .agg(count(lit(1)).as("n_o"))
      val lSketch = l.groupBy(bucketOf(col("l_orderkey"), hexDigits).as("b"))
        .agg(count(lit(1)).as("n_l"))
      // sketch sizes are bucket-bounded — broadcast the smaller one
      oSketch.join(broadcast(lSketch), "b")
        .agg(lit(math.pow(16, hexDigits).toLong).as("n_buckets"),
          sum(col("n_o") * col("n_l")).as("est_rows"))
    }

    estimate(2).unionAll(estimate(4))
      .crossJoin(broadcast(truth)) // 2 × 1 rows
      .withColumn("rel_err",
        round((col("est_rows") - col("true_rows")).cast("double")
          / col("true_rows"), 4))
      .orderBy("n_buckets")
  }

  // ---------------------------------------------------------------------
  // Per-zone Bloom data-skipping index for point lookups
  // ---------------------------------------------------------------------

  /** Bloom geometry: 8 words × 63 bits = 504 bits per zone (63 so every
    * mask stays a positive BIGINT shift in both engines), k = 2
    * md5-derived positions per key, zones of 20 orders (~80 rows) — sized
    * so the filter holds a zone's key NDV at ~25% fill (fp ≈ 7%), the
    * regime a real per-row-group Bloom is provisioned for. */
  val BloomBits = 63
  val BloomWords = 8
  val BloomZoneOrders = 20L

  /** Probe keys as tenths of the key-space max (scale-invariant). */
  val ProbeTenths: Seq[Int] = Seq(1, 3, 5, 7, 9)

  /** A per-zone Bloom index over `l_partkey` — the per-file Bloom a
    * format like Parquet/Iceberg stores for point-lookup skipping on a
    * column the table is NOT clustered by (min/max zones are useless for
    * an uncorrelated point key; the Bloom is what prunes). The index is
    * relational: one (zone, word, bloom) row per non-empty 63-bit word,
    * built by ONE narrow groupBy (bit_or partial-aggregates map-side).
    * For each probe key: zones the index cannot rule out (`zones_maybe`)
    * vs zones that truly hold the key (`zones_actual`), and the realized
    * false-positive rate among prunable zones. Probes run on the
    * zone-count-sized index, never the data. All bit positions derive
    * from md5 so the DuckDB oracle replays the index word-for-word.
    */
  def bloomSkipping(s: SparkSession, dir: String): DataFrame = {
    val raw = li(s, dir).select(col("l_orderkey"), col("l_partkey"))
    val totalBits = (BloomWords * BloomBits).toLong

    // two positions per key: 3 hex digits each from disjoint md5 spans
    def positions(key: Column): Column = array(
      pmod(conv(substring(md5(key.cast("string")), 1, 3), 16, 10).cast("long"),
        lit(totalBits)),
      pmod(conv(substring(md5(key.cast("string")), 4, 3), 16, 10).cast("long"),
        lit(totalBits)))

    def toWordMasks(df: DataFrame, keyCol: String): DataFrame = df
      .withColumn("pos", explode(positions(col(keyCol))))
      .withColumn("word", expr(s"pos div $BloomBits"))
      .withColumn("mask",
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pos % $BloomBits AS INT))"))

    val idx = toWordMasks(
        raw.withColumn("zone", floor(col("l_orderkey") / BloomZoneOrders)),
        "l_partkey")
      .groupBy("zone", "word").agg(expr("bit_or(mask)").as("bloom"))

    val zones = idx.select("zone").distinct()

    val probes = raw.agg(max(col("l_partkey")).as("max_pk"))
      .select(explode(array(ProbeTenths.map(t =>
        floor(col("max_pk") * t / 10).as(s"t$t")): _*)).as("probe_key"))
    val pm = toWordMasks(probes, "probe_key")
      .groupBy("probe_key", "word").agg(expr("bit_or(mask)").as("pmask"))

    // a zone passes iff EVERY probe word is covered by the zone's word
    // (a missing index word means no key ever touched it → not covered)
    val candidate = broadcast(pm).crossJoin(zones)
      .join(idx, Seq("zone", "word"), "left")
      .groupBy("probe_key", "zone")
      .agg(min(coalesce((col("bloom").bitwiseAND(col("pmask")) === col("pmask"))
        .cast("int"), lit(0))).as("covered"))

    // ground truth, only to grade the index
    val actual = raw.withColumn("zone", floor(col("l_orderkey") / BloomZoneOrders))
      .groupBy("zone").agg(collect_set(col("l_partkey")).as("keys_in_zone"))

    candidate.join(actual, Seq("zone"))
      .groupBy("probe_key")
      .agg(count(lit(1)).as("zones_total"),
        sum(col("covered").cast("long")).as("zones_maybe"),
        sum(array_contains(col("keys_in_zone"), col("probe_key")).cast("long"))
          .as("zones_actual"))
      .withColumn("fp_rate",
        round((col("zones_maybe") - col("zones_actual")).cast("double")
          / greatest(col("zones_total") - col("zones_actual"), lit(1L)), 4))
      .orderBy("probe_key")
  }

  // ---------------------------------------------------------------------
  // Incremental manifest-stats maintenance (append without rescan)
  // ---------------------------------------------------------------------

  /** Append-path stats merge: the table is the union of a base and a
    * newly appended batch (split here by `l_orderkey % 10`), and the
    * engine computes per-zone stats by aggregating EACH PART SEPARATELY
    * and merging partials (min of mins, max of maxes, sums of counts) —
    * the Iceberg manifest-update path, where an append to a 10^12-row
    * table touches only the new files' stats. The DuckDB oracle computes
    * the same stats DIRECTLY over the whole table, so the hash match IS
    * the proof that merge ≡ rescan. Only order-independent exact stats
    * (min/max/count/integer sum) participate.
    */
  /** Per-zone stats partials of one table part — the manifest rows the
    * writer of that part emits. Algebraic only, so partials merge.
    * Streamed through [[graft.streaming.BatchStore]], state per batch is
    * one row per zone that batch touches: an append costs stats
    * proportional to the new files, never a rescan. */
  def zonePartials(part: DataFrame): DataFrame =
    part.groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("zone"))
      .agg(min(col("l_shipdate")).as("z_min"),
        max(col("l_shipdate")).as("z_max"),
        count(lit(1)).as("z_rows"),
        sum(col("l_partkey")).as("z_sum_pk"))

  /** Merge stats partials: min-of-mins, max-of-maxes, sums. Associative
    * and commutative — any grouping of parts yields the same stats. */
  def mergeZonePartials(partials: DataFrame): DataFrame =
    partials.groupBy("zone")
      .agg(min(col("z_min")).as("z_min"),
        max(col("z_max")).as("z_max"),
        sum(col("z_rows")).as("z_rows"),
        sum(col("z_sum_pk")).as("z_sum_pk"))

  def statsMerge(s: SparkSession, dir: String): DataFrame = {
    val d = li(s, dir)
    val base = d.filter(pmod(col("l_orderkey"), lit(10)) =!= 0)
    val batch = d.filter(pmod(col("l_orderkey"), lit(10)) === 0)
    mergeZonePartials(zonePartials(base).unionAll(zonePartials(batch)))
      .orderBy("zone")
  }

  // ---------------------------------------------------------------------
  // Compaction advisor (small-file bin-packing from manifest stats)
  // ---------------------------------------------------------------------

  /** Target compacted-file size (synthetic bytes). */
  val CompactTarget = 256000L

  /** Small-file compaction plan — the other standing Iceberg maintenance
    * job: streaming ingest leaves many sub-target files per partition;
    * the advisor bin-packs them into ≥target-size rewrite groups, NEVER
    * across partitions (a rewrite that merged partitions would break
    * partition pruning — the invariant real compactors keep).
    *
    * The manifest is synthesized from lineitem: partition = ship month,
    * file = (month, l_orderkey % 8) — eight small ingest batches per
    * month — with deterministic integer byte sizes. The plan itself runs
    * ON THE MANIFEST ONLY (file-count-sized): first-fit by file id within
    * the partition, group = floor(prev_cum / target). Windows partition
    * by month, so at 10^6 files this is still a per-partition streaming
    * sum, not a global sort. Emits one row per rewrite group: the job
    * list a compaction scheduler would execute.
    */
  def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val manifest = li(s, dir)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("part"),
        pmod(col("l_orderkey"), lit(8)).as("batch"))
      .agg(count(lit(1)).as("f_rows"),
        // per-row term cast to long BEFORE the sum: integer aggregation is
        // order-independent, so the bytes figure is engine/partitioning-proof
        sum((col("l_quantity") * 17 + col("l_linenumber") * 5 + 83)
          .cast("long")).as("f_bytes"))
    val w = Window.partitionBy("part").orderBy("batch")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    manifest
      .withColumn("cum", sum("f_bytes").over(w))
      .withColumn("grp",
        floor((col("cum") - col("f_bytes")).cast("double") / CompactTarget))
      .groupBy("part", "grp")
      .agg(count(lit(1)).as("n_files"), sum("f_rows").as("g_rows"),
        sum("f_bytes").as("g_bytes"),
        round(sum("f_bytes").cast("double") / CompactTarget, 6).as("fill"))
      .orderBy("part", "grp")
  }

  // ---------------------------------------------------------------------
  // Skew advisor (heavy-key detection + salt-factor sizing)
  // ---------------------------------------------------------------------

  /** Reducer-task model for the advisor: how many tasks share a shuffle. */
  val SkewTasks = 32L

  /** Heavy-key multiple: a key is "hot" above this × the fair share. */
  val SkewHotFactor = 2L

  /** Skew advisor — detect the hot keys of a prospective shuffle and size
    * the salt that fixes them, BEFORE running the join/agg. The north
    * star names exactly this hazard ("skew on fmt/phash hot keys …
    * explicit salting"); the existing `SaltedAggregate` rule and AQE
    * skew-join splitting APPLY the fix — this advisor is the missing
    * first step that DECIDES it from one narrow stats pass:
    *
    *   - per-key counts (one map-combinable groupBy on the key — the
    *     same pass any shuffle would do, but output is key-count-sized);
    *   - fair share = ceil(total / tasks): the rows one reducer task
    *     owns under perfect hashing;
    *   - a key is hot above [[SkewHotFactor]]× fair share; its salt
    *     factor = ceil(count / share) — the number of subkeys that
    *     restores the fair share per task (the `repartition(salt)`/
    *     two-phase-agg fan-out to request);
    *   - non-hot keys report salt 1 and collapse into one 'OTHER' row,
    *     so the advisor's OUTPUT is hot-key-sized, never key-sized.
    *
    * Integer math throughout — DuckDB replays it bit-for-bit. Scale: the
    * stats pass is the only data scan; everything after runs on the
    * key histogram. Demonstrated on lineitem's return flag — three
    * values across the whole table, so every key is hot at 32 tasks:
    * the shape a status/fmt-keyed shuffle of a 10^12-row fact table
    * actually has (the north star's fmt hot keys).
    */
  def skewAdvisor(s: SparkSession, dir: String): DataFrame = {
    val counts = li(s, dir).groupBy(col("l_returnflag").as("key"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy()
    val share = greatest(ceil(sum(col("n")).over(w) / SkewTasks), lit(1L))
    counts
      .withColumn("fair_share", share.cast("long"))
      .withColumn("is_hot", col("n") > lit(SkewHotFactor) * col("fair_share"))
      .withColumn("grp_key",
        when(col("is_hot"), col("key").cast("string")).otherwise(lit("OTHER")))
      .groupBy("grp_key")
      .agg(sum(col("n")).as("n_rows"), count(lit(1)).as("n_keys"),
        max(col("fair_share")).as("fair_share"),
        max(when(col("is_hot"),
          ceil(col("n").cast("double") / col("fair_share")).cast("long"))
          .otherwise(lit(1L))).as("salt"))
      .withColumn("share_pct",
        round(col("n_rows").cast("double") * 100 /
          sum(col("n_rows")).over(Window.partitionBy()), 4))
      .orderBy(col("grp_key"))
  }

  // ---------------------------------------------------------------------
  // Wiring
  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_layout_compaction" -> ((s, dir) => compactionPlan(s, dir)),
    "q_layout_skew_advisor" -> ((s, dir) => skewAdvisor(s, dir)),
    "q_layout_zonemap" -> ((s, dir) => zoneMapCompare(s, dir)),
    "q_layout_zorder" -> ((s, dir) => zorderCompare(s, dir)),
    "q_layout_joincard" -> ((s, dir) => joinCardEstimate(s, dir)),
    "q_layout_bloom" -> ((s, dir) => bloomSkipping(s, dir)),
    "q_layout_advisor" -> ((s, dir) => clusteringAdvisor(s, dir)),
    "q_layout_stats_merge" -> ((s, dir) => statsMerge(s, dir)
      .withColumn("z_min", date_format(col("z_min"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("z_max", date_format(col("z_max"), "yyyy-MM-dd HH:mm:ss")))
  )

  /** DuckDB morton-code twin of [[morton8]], unrolled. */
  private def mortonSql(qx: String, qy: String): String =
    (0 until 8).map { i =>
      s"((($qx >> $i) & 1) << ${2 * i}) + ((($qy >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  def oracleSql: Map[String, String] = Map(
    "q_layout_skew_advisor" ->
      s"""WITH counts AS (
            SELECT l_returnflag AS key, count(*) AS n FROM lineitem GROUP BY 1),
          shared AS (
            SELECT key, n,
              greatest(CAST(ceil(CAST(sum(n) OVER () AS DOUBLE) / $SkewTasks)
                AS BIGINT), 1) AS fair_share
            FROM counts),
          grouped AS (
            SELECT CASE WHEN n > $SkewHotFactor * fair_share
                        THEN CAST(key AS VARCHAR) ELSE 'OTHER' END AS grp_key,
              n, fair_share,
              CASE WHEN n > $SkewHotFactor * fair_share
                   THEN CAST(ceil(CAST(n AS DOUBLE) / fair_share) AS BIGINT)
                   ELSE 1 END AS salt
            FROM shared),
          agged AS (
            SELECT grp_key, CAST(sum(n) AS BIGINT) AS n_rows,
              count(*) AS n_keys, max(fair_share) AS fair_share,
              max(salt) AS salt
            FROM grouped GROUP BY 1)
          SELECT grp_key, n_rows, n_keys, fair_share, salt,
            round(CAST(n_rows AS DOUBLE) * 100 / sum(n_rows) OVER (), 4)
              AS share_pct
          FROM agged ORDER BY grp_key""",
    "q_layout_compaction" ->
      s"""WITH manifest AS (
            SELECT strftime(l_shipdate, '%Y-%m') AS part,
              l_orderkey % 8 AS batch, count(*) AS f_rows,
              CAST(sum(CAST(l_quantity * 17 + l_linenumber * 5 + 83 AS BIGINT))
                AS BIGINT) AS f_bytes
            FROM lineitem GROUP BY 1, 2),
          packed AS (
            SELECT part, batch, f_rows, f_bytes,
              CAST(floor(CAST(sum(f_bytes) OVER (PARTITION BY part ORDER BY batch
                  ROWS UNBOUNDED PRECEDING) - f_bytes AS DOUBLE)
                / $CompactTarget) AS BIGINT) AS grp
            FROM manifest)
          SELECT part, grp, count(*) AS n_files,
            CAST(sum(f_rows) AS BIGINT) AS g_rows,
            CAST(sum(f_bytes) AS BIGINT) AS g_bytes,
            round(CAST(sum(f_bytes) AS DOUBLE) / $CompactTarget, 6) AS fill
          FROM packed GROUP BY 1, 2
          ORDER BY 1, 2""",
    "q_layout_zonemap" ->
      s"""WITH ingest_stats AS (
            SELECT CAST(floor(l_orderkey / $IngestZoneOrders) AS VARCHAR) AS zone,
                   min(l_shipdate) AS z_min, max(l_shipdate) AS z_max,
                   count(*) AS z_rows
            FROM lineitem GROUP BY 1),
          clustered_stats AS (
            SELECT strftime(l_shipdate, '%Y-%m') AS zone,
                   min(l_shipdate) AS z_min, max(l_shipdate) AS z_max,
                   count(*) AS z_rows
            FROM lineitem GROUP BY 1),
          m AS (
            SELECT CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '$PredLo'
                   AND l_shipdate < TIMESTAMP '$PredHi' THEN 1 ELSE 0 END) AS BIGINT)
                   AS rows_matching
            FROM lineitem),
          est AS (
            SELECT 'ingest' AS layout, count(*) AS zones_total,
              CAST(sum(CASE WHEN z_max >= TIMESTAMP '$PredLo'
                   AND z_min < TIMESTAMP '$PredHi' THEN 1 ELSE 0 END) AS BIGINT)
                AS zones_scanned,
              CAST(sum(z_rows) AS BIGINT) AS rows_total,
              CAST(sum(CASE WHEN z_max >= TIMESTAMP '$PredLo'
                   AND z_min < TIMESTAMP '$PredHi' THEN z_rows ELSE 0 END) AS BIGINT)
                AS rows_scanned
            FROM ingest_stats
            UNION ALL
            SELECT 'clustered', count(*),
              CAST(sum(CASE WHEN z_max >= TIMESTAMP '$PredLo'
                   AND z_min < TIMESTAMP '$PredHi' THEN 1 ELSE 0 END) AS BIGINT),
              CAST(sum(z_rows) AS BIGINT),
              CAST(sum(CASE WHEN z_max >= TIMESTAMP '$PredLo'
                   AND z_min < TIMESTAMP '$PredHi' THEN z_rows ELSE 0 END) AS BIGINT)
            FROM clustered_stats)
          SELECT layout, zones_total, zones_scanned, rows_total, rows_scanned,
            rows_matching,
            round(CAST(rows_scanned AS DOUBLE) / rows_matching, 4) AS scan_amp
          FROM est CROSS JOIN m""",
    "q_layout_zorder" -> {
      val z = mortonSql("qx", "qy")
      s"""WITH b AS (
            SELECT max(l_partkey) AS max_pk, max(l_suppkey) AS max_sk
            FROM lineitem),
          quant AS (
            SELECT l_orderkey,
              CAST(floor(l_partkey * 256.0 / (max_pk + 1)) AS BIGINT) AS qx,
              CAST(floor(l_suppkey * 256.0 / (max_sk + 1)) AS BIGINT) AS qy
            FROM lineitem CROSS JOIN b),
          base AS (
            SELECT l_orderkey,
              CASE WHEN qx BETWEEN $QxLo AND $QxHi
                   AND qy BETWEEN $QyLo AND $QyHi
                   THEN 1 ELSE 0 END AS matches,
              ($z) AS zval
            FROM quant),
          per_zone AS (
            SELECT 'linear' AS layout, floor(l_orderkey / $IngestZoneOrders) AS zone,
                   count(*) AS z_rows, sum(matches) AS z_hits
            FROM base GROUP BY 1, 2
            UNION ALL
            SELECT 'zorder', zval // 64, count(*), sum(matches)
            FROM base GROUP BY 1, 2)
          SELECT layout, count(*) AS zones_total,
            CAST(sum(CASE WHEN z_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS zones_touched,
            CAST(sum(z_rows) AS BIGINT) AS rows_total,
            CAST(sum(z_hits) AS BIGINT) AS rows_matching,
            round(CAST(sum(CASE WHEN z_hits > 0 THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*), 4) AS touch_frac
          FROM per_zone GROUP BY layout"""
    },
    "q_layout_joincard" ->
      s"""WITH truth AS (
            SELECT count(*) AS true_rows
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          est AS (
            SELECT 256 AS n_buckets,
              CAST(sum(n_o * n_l) AS BIGINT) AS est_rows
            FROM (SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)) AS INT)
                    AS b, count(*) AS n_o FROM orders GROUP BY 1) os
            JOIN (SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 2)) AS INT)
                    AS b, count(*) AS n_l FROM lineitem GROUP BY 1) ls USING (b)
            UNION ALL
            SELECT 65536,
              CAST(sum(n_o * n_l) AS BIGINT)
            FROM (SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)) AS INT)
                    AS b, count(*) AS n_o FROM orders GROUP BY 1) os
            JOIN (SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 4)) AS INT)
                    AS b, count(*) AS n_l FROM lineitem GROUP BY 1) ls USING (b))
          SELECT CAST(n_buckets AS BIGINT) AS n_buckets, est_rows, true_rows,
            round(CAST(est_rows - true_rows AS DOUBLE) / true_rows, 4) AS rel_err
          FROM est CROSS JOIN truth""",
    "q_layout_bloom" -> {
      val totalBits = BloomWords * BloomBits
      def posPair(key: String): String =
        s"""unnest([CAST(('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 3)) AS INT) % $totalBits,
                    CAST(('0x' || substr(md5(CAST($key AS VARCHAR)), 4, 3)) AS INT) % $totalBits]) AS pos"""
      s"""WITH b AS (SELECT max(l_partkey) AS max_pk FROM lineitem),
          probes AS (
            SELECT CAST(floor(max_pk * t / 10) AS BIGINT) AS probe_key
            FROM b CROSS JOIN (VALUES ${ProbeTenths.map(t => s"($t)").mkString(", ")}) v(t)),
          rowpos AS (
            SELECT CAST(floor(l_orderkey / $BloomZoneOrders) AS BIGINT) AS zone,
              l_partkey, ${posPair("l_partkey")}
            FROM lineitem),
          idx AS (
            SELECT zone, pos // $BloomBits AS word,
              bit_or(CAST(1 AS BIGINT) << CAST(pos % $BloomBits AS INT)) AS bloom
            FROM rowpos GROUP BY 1, 2),
          zones AS (SELECT DISTINCT zone FROM idx),
          probepos AS (SELECT probe_key, ${posPair("probe_key")} FROM probes),
          pm AS (
            SELECT probe_key, pos // $BloomBits AS word,
              bit_or(CAST(1 AS BIGINT) << CAST(pos % $BloomBits AS INT)) AS pmask
            FROM probepos GROUP BY 1, 2),
          candidate AS (
            SELECT probe_key, zone,
              min(CASE WHEN (bloom & pmask) = pmask THEN 1 ELSE 0 END) AS covered
            FROM pm CROSS JOIN zones LEFT JOIN idx USING (zone, word)
            GROUP BY 1, 2),
          actual AS (
            SELECT probe_key, count(DISTINCT zone) AS zones_actual
            FROM probes JOIN (
              SELECT DISTINCT CAST(floor(l_orderkey / $BloomZoneOrders) AS BIGINT)
                AS zone, l_partkey FROM lineitem) d
              ON d.l_partkey = probe_key GROUP BY 1),
          agg AS (
            SELECT probe_key, count(*) AS zones_total,
              CAST(sum(covered) AS BIGINT) AS zones_maybe
            FROM candidate GROUP BY 1)
          SELECT agg.probe_key, zones_total, zones_maybe,
            CAST(coalesce(zones_actual, 0) AS BIGINT) AS zones_actual,
            round(CAST(zones_maybe - coalesce(zones_actual, 0) AS DOUBLE)
              / greatest(zones_total - coalesce(zones_actual, 0), 1), 4) AS fp_rate
          FROM agg LEFT JOIN actual USING (probe_key)"""
    },
    "q_layout_advisor" -> {
      def vSql(c: String): String =
        if (c == "l_shipdate") s"CAST(epoch($c) AS DOUBLE)" else s"CAST($c AS DOUBLE)"
      def lo(p: String) = s"(min_$p + $PredBandLo * (max_$p - min_$p))"
      def hi(p: String) = s"(min_$p + $PredBandHi * (max_$p - min_$p))"
      val baseCols = AdvisorCols.map(c => s"${vSql(c)} AS v_$c").mkString(", ")
      val boundCols = AdvisorCols.map(c =>
        s"min(v_$c) AS min_$c, max(v_$c) AS max_$c").mkString(", ")
      val explArms = AdvisorCols.map { k =>
        s"""SELECT '$k' AS cluster_col,
              floor((v_$k - min_$k) * $AdvisorBuckets / (max_$k - min_$k + 1)) AS bucket,
              ${AdvisorCols.map(c => s"v_$c").mkString(", ")}
            FROM base CROSS JOIN b"""
      }.mkString(" UNION ALL ")
      val statCols = AdvisorCols.map(p =>
        s"min(v_$p) AS zmin_$p, max(v_$p) AS zmax_$p").mkString(", ")
      val matchCols = AdvisorCols.map(p =>
        s"""CAST(sum(CASE WHEN v_$p >= ${lo(p)} AND v_$p < ${hi(p)}
              THEN 1 ELSE 0 END) AS BIGINT) AS match_$p""").mkString(", ")
      val cubeArms = AdvisorCols.map { p =>
        s"""SELECT cluster_col, '$p' AS pred_col,
              CAST(sum(CASE WHEN zmax_$p >= ${lo(p)} AND zmin_$p < ${hi(p)}
                THEN 1 ELSE 0 END) AS BIGINT) AS zones_scanned,
              count(*) AS zones_total,
              CAST(sum(CASE WHEN zmax_$p >= ${lo(p)} AND zmin_$p < ${hi(p)}
                THEN z_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
              CAST(sum(z_rows) AS BIGINT) AS rows_total
            FROM stats CROSS JOIN b GROUP BY 1"""
      }.mkString(" UNION ALL ")
      val matchArms = AdvisorCols.map(p =>
        s"SELECT '$p' AS pred_col, match_$p AS rows_matching FROM matching")
        .mkString(" UNION ALL ")
      s"""WITH base AS (SELECT $baseCols FROM lineitem),
          b AS (SELECT $boundCols FROM base),
          expl AS ($explArms),
          stats AS (
            SELECT cluster_col, bucket, count(*) AS z_rows, $statCols
            FROM expl GROUP BY 1, 2),
          matching AS (SELECT $matchCols FROM base CROSS JOIN b),
          cube AS ($cubeArms),
          m2 AS ($matchArms)
          SELECT cluster_col, pred_col, zones_scanned, zones_total,
            rows_scanned, rows_total, rows_matching,
            round(CAST(rows_scanned AS DOUBLE) / rows_total, 4) AS scan_frac
          FROM cube JOIN m2 USING (pred_col)"""
    },
    "q_layout_stats_merge" ->
      // the DIRECT full-table stats: hash-matching the Spark side's
      // merge-of-partials result is the mergeability proof
      """SELECT strftime(l_shipdate, '%Y-%m') AS zone,
           strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS z_min,
           strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS z_max,
           count(*) AS z_rows,
           CAST(sum(l_partkey) AS BIGINT) AS z_sum_pk
         FROM lineitem GROUP BY 1"""
  )
}
