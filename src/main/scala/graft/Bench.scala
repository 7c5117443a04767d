package graft

import graft.images.ImageGen
import graft.validation.{ImageSuite, ImageSuiteQueries}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark main (driver contract): one JSON line on stdout AND written to
  * `BENCH.json` (sbt log prefixes otherwise bury the stdout line).
  *
  *   - the north-rule metric: full constraint-suite throughput (validated
  *     images/s) over the synthesized image+caption tier, measured at TWO
  *     parallelism levels (local[N] vs local[4N]) on identical input →
  *     scaling efficiency = throughput_4N / (4 × throughput_N)
  *     (BASELINE.md scaling criterion; reference floor 0.102 rec/s);
  *   - headline operator queries at local[CPUS] over SPARK_GRAFT_SF_DIR.
  *
  * Measurement protocol: every suite level runs in a FRESH forked JVM
  * (warmup pass on a smaller tier, then the measured pass). A single
  * long-lived JVM ages — old-gen growth and code-cache churn degrade levels
  * measured late by 2–6×, which corrupted the round-1 recorded efficiency
  * (0.57 recorded vs 0.93–0.95 clean). Forking isolates each level the way
  * separate executors would be isolated on a real cluster.
  *
  * Modes (every one runs under the `Sessions.bench` profile):
  *   - no args: the full protocol above;
  *   - `suite <cpus> <imageDir> <warmDir>`: one forked suite leg;
  *   - `queries <cpus> <sfDir> [name…]`: times the named queries (default:
  *     the headline list) in this JVM, min-of-2 over two interleaved
  *     rounds — the forked query phase, and the A/B loop for plan work;
  *   - `explain <sfDir> <outDir> name…`: writes each query's formatted
  *     plan to `<outDir>/<name>.txt` — the plan `queries` times;
  *   - `skewstress [n]`: uniform vs skew-adversarial tier through
  *     `runAndCheckpoint`.
  */
object Bench {

  /** FROZEN round-4 headline list (`suite_v4`, VERDICT r4 #1a): this exact
    * set defines the round-over-round comparable per-query sum
    * (`suite_v4_query_sec_total`). Append new queries to [[headlineNew]],
    * NEVER here — changing this list breaks comparability with every
    * earlier round's artifact.
    */
  private val suiteV4 = Seq(
    "q_a1_groupcount", "q_a2_condcounts", "q_j1_join_agg", "q_j6_asof_nearest",
    "q_w1_topk_per_brand", "q_w5_running_sum",
    "q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_simhash64_prod",
    "q_dedup_simhash64_expr", "q_dedup_simhash64_banded",
    "q_dedup_simhash64_banded_l2", "q_dedup_cc", "q_dedup_cc_star",
    "q_text_tokens", "q_text_quality", "q_text_fingerprint",
    "q_ann_topk_bruteforce", "q_ann_topk_lsh", "q_ann_topk_ivf_trained",
    "q_ann_topk_pq", "q_ann_topk_ivfpq_residual", "q_sim_lsh_buckets",
    "q_v_uniqueness", "q_v_referential", "q_v_colstats", "q_v_scores",
    "q_v_drift_chisq", "q_v_drift_ks", "q_v_drift_segmented",
    "q_dedup_incr_bloom", "q_pack_sequences", "q_curate_source_cap",
    "q_curate_decontaminate", "q_text_repetition", "q_dedup_substring",
    "q_layout_zonemap", "q_layout_zorder", "q_layout_bloom",
    "q_layout_stats_merge", "q_layout_advisor", "q_layout_joincard",
    "q_sess_assign", "q_sess_stats", "q_sess_funnel",
    "q_snap_dirty_parts", "q_snap_diff", "q_snap_diff_pruned",
    "q_curate_token_budget", "q_layout_compaction")

  /** suite_v4 members whose WORK was redefined after r4 (training moved
    * out of the query into the per-tier ANN store): their r4→r5 deltas
    * measure re-pricing, not engine speed, so the CONSTANT-WORK sum
    * excludes them. Freezing names does not freeze work — any future
    * re-priced query must be added here with the round it changed.
    */
  private val suiteV4Repriced = Set(
    "q_ann_topk_pq", "q_ann_topk_ivfpq_residual") // r5: store-amortized training

  /** Round-5 additions (reported in the full sweep, excluded from the
    * suite_v4 comparable sum). */
  private val headlineNew = Seq(
    "q_ann_topk_ivfpq", "q_ann_train_pq", "q_text_bpe_tokens",
    "q_pack_sequences_bpe", "q_curate_classifier", "q_dedup_phash_banded",
    "q_dedup_phash_cc", "q_i_drift_emd_baseline",
    "q_v_examples", "q_v_estimate", "q_i_examples", "q_i_estimate",
    "q_v_triage", "q_i_triage", "q_v_trend", "q_v_cusum",
    "q_v_corr_matrix", "q_v_benford", "q_v_independence",
    "q_v_mi", "q_v_ks_exact", "q_v_outliers_mad", "q_v_freshness",
    "q_v_spearman",
    // late-round-5: exact similarity joins, record linkage, intervals,
    // ECF drift, embedding sanity, weighted sampling, interval join
    "q_dedup_jaccard_prefix", "q_dedup_editdist",
    "q_link_fs_pairs", "q_link_fs_eval", "q_link_blocking_audit",
    "q_link_em_fit", "q_curate_weighted_sample", "q_v_intervals",
    "q_v_drift_ecf", "q_v_embeddings",
    "q_j11_interval_join", "q_j11_interval_stats", "q_link_jw_pairs",
    "q_link_snm_pairs", "q_link_snm_audit", "q_graph_pagerank",
    // perceptual gates, JSD drift leg, partial-crop tile dedup
    "q_i_quality_gates", "q_i_drift_jsd_baseline", "q_dedup_phash_tiles",
    "q_v_outliers_mahalanobis", "q_i_container", "q_i_cfd",
    "q_i_drift_sharpness", "q_dedup_phash_tiles_cc",
    // structure/trend/ECDF-outlier additions
    "q_v_masks", "q_v_theilsen", "q_v_outliers_ecod",
    "q_v_outliers_ecod_grid",
    // dihedral multi-probe mirror dedup + orientation-free clusters
    "q_dedup_phash_mirror", "q_dedup_phash_mirror_cc")

  private val headline = suiteV4 ++ headlineNew

  /** Execute a DataFrame fully without collecting (noop sink). */
  private def exhaust(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Full suite wall time over the image tier (verdicts+violations+metrics
    * all materialized). Cache is cleared before the timer and after the
    * run: the CacheManager matches plans across invocations, so a prior
    * (warmup) run's cached decode stage would otherwise be silently reused
    * and the measurement would skip the decode entirely.
    */
  private def suiteSeconds(spark: SparkSession, dataDir: String, runId: String): Double = {
    spark.catalog.clearCache()
    val sec = time {
      val (v, viol, m) = ImageSuite.run(spark, dataDir, runId)
      exhaust(v); exhaust(viol); exhaust(m)
    }
    spark.catalog.clearCache()
    sec
  }

  /** Child mode: run warmup + one measured suite pass at local[cpus] in
    * THIS (fresh) JVM; print the machine-readable marker line.
    */
  private def suiteChild(cpus: Int, imageDir: String, warmDir: String): Unit = {
    val spark = Sessions.bench(cpus)
    suiteSeconds(spark, warmDir, s"warmup-$cpus") // JIT/codegen warm, untimed
    val sec = suiteSeconds(spark, imageDir, s"bench-$cpus")
    spark.stop()
    println(f"SUITE_SEC=$sec%.3f")
  }

  /** Child mode for the headline-query phase: times each of `names` in
    * THIS (fresh) JVM and prints one marker line per query. Forked for the
    * same reason as the suite legs: by the time phase 3 starts the
    * parent JVM has hosted 30+ minutes of generation sessions and the
    * measured times were carrying its old-gen/code-cache age (the r4
    * in-parent run recorded the simhash fallback rung 1.6× above the
    * same binary on a fresh JVM).
    */
  private def queriesChild(cpus: Int, sfDir: String, names: Seq[String]): Unit = {
    val spark = Sessions.bench(cpus)
    try exhaust(Tables(spark, sfDir, "lineitem").groupBy("l_returnflag").count())
    catch { case _: Throwable => }
    // MIN-OF-2 per query, the two passes INTERLEAVED as full rounds
    // (VERDICT r4 #1b): a host-load window must now cover the whole sweep
    // twice to bias a query's minimum, and the raw pair is emitted so
    // drift is visible per query in the artifact.
    val rounds = Array.fill(2)(scala.collection.mutable.Map[String, Double]())
    for (r <- 0 to 1; name <- names) {
      var failed = false
      // catalog cache AND RDD-level blocks: localCheckpoint()ed frames
      // (CC rounds, snapshot pins, decontamination's benchmark table) are
      // NOT catalog-managed, and 50+ queries of leaked blocks measurably
      // poison late queries (q_curate_decontaminate read 22 s in-sweep vs
      // 8.3 s isolated before this line existed)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
      val t = time {
        try exhaust(SparkEntry.queries(name)(spark, sfDir))
        catch { case e: Throwable =>
          failed = true
          System.err.println(s"[bench] $name: ${e.getMessage}")
        }
      }
      rounds(r)(name) = if (failed) -1.0 else t
    }
    names.foreach { name =>
      val (a, b) = (rounds(0)(name), rounds(1)(name))
      println(f"QTIME=$name=$a%.3f,$b%.3f")
    }
    spark.stop()
  }

  /** Fork the query phase; returns (name → (run1, run2) raw pair, failed
    * names). Per-query time = min of the pair (any failed run poisons the
    * query to −1). */
  private def forkQueries(cpus: Int, sfDir: String)
      : (Seq[(String, (Double, Double))], List[String]) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.Bench", "queries", cpus.toString, sfDir)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val rc = p.waitFor()
    require(rc == 0, s"bench queries child exited $rc")
    val got = out.linesIterator.filter(_.startsWith("QTIME=")).map { l =>
      val Array(name, secs) = l.stripPrefix("QTIME=").split("=", 2)
      val Array(a, b) = secs.split(",", 2).map(_.toDouble)
      name -> (a, b)
    }.toMap
    val pairs = headline.map(n => n -> got.getOrElse(n, (-1.0, -1.0)))
    (pairs, pairs.filter(p => p._2._1 < 0 || p._2._2 < 0).map(_._1).toList)
  }

  /** Fork a fresh JVM running `Bench suite <cpus> ...`; returns seconds.
    * Re-uses this JVM's flags (−Xmx, JDK17 add-opens) and classpath, so the
    * child sees the same runtime environment minus the accumulated heap.
    */
  private def forkSuite(cpus: Int, imageDir: String, warmDir: String): Double = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.Bench", "suite", cpus.toString, imageDir, warmDir)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(false)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val rc = p.waitFor()
    out.linesIterator.foreach(l => System.err.println(s"[bench-child-$cpus] $l"))
    require(rc == 0, s"bench child local[$cpus] exited $rc")
    val marker = out.linesIterator.find(_.startsWith("SUITE_SEC="))
      .getOrElse(sys.error(s"bench child local[$cpus]: no SUITE_SEC marker"))
    marker.stripPrefix("SUITE_SEC=").toDouble
  }

  /** `explain` mode: each query's formatted plan under the bench profile,
    * so a dump is the plan [[queriesChild]] times. */
  private def explainChild(sfDir: String, outDir: String, names: Seq[String]): Unit = {
    val spark = Sessions.bench()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
        println(s"[explain] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** Skew stress row (VERDICT r4 #8): uniform vs skew-adversarial tier
    * (30% duplicate ids on 2 hot keys in p0) through the FULL
    * runAndCheckpoint engine at local[cpus]; prints one BENCH.md row. */
  private def skewStress(n: Long): Unit = {
    val cpus = Sessions.cpus
    val spark = Sessions.bench(cpus)
    val uniDir = ImageGen.ensure(spark, n)
    val skewDir = graft.validation.SkewStress.ensureSkewedTier(spark, n)
    def wall(dataDir: String, tag: String): Double = {
      val out = Files.createTempDirectory(s"skewbench-$tag").toString
      spark.catalog.clearCache()
      time(graft.validation.ImageSuite.runAndCheckpoint(spark, dataDir, out, tag))
    }
    wall(uniDir, "warm-u"); wall(skewDir, "warm-s") // symmetric JIT warm
    val tU = wall(uniDir, "uni"); val tS = wall(skewDir, "skew")
    println(f"SKEWSTRESS n=$n cpus=$cpus uniform_sec=$tU%.1f skewed_sec=$tS%.1f ratio=${tS / tU}%.2f")
    spark.stop()
  }

  def main(args: Array[String]): Unit = args.toList match {
    case Nil => fullProtocol()
    case "suite" :: cpus :: imageDir :: warmDir :: _ => suiteChild(cpus.toInt, imageDir, warmDir)
    case "queries" :: cpus :: sfDir :: names =>
      queriesChild(cpus.toInt, sfDir, if (names.isEmpty) headline else names)
    case "explain" :: sfDir :: outDir :: names if names.nonEmpty =>
      explainChild(sfDir, outDir, names)
    case "skewstress" :: n => skewStress(n.headOption.fold(100000L)(_.toLong))
    case _ => sys.error("usage: graft.Bench [suite <cpus> <imageDir> <warmDir> | " +
      "queries <cpus> <sfDir> [name...] | explain <sfDir> <outDir> name... | skewstress [n]]")
  }

  private def fullProtocol(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    val nImages = ImageSuiteQueries.rowsFor(sfDir)
    // Scaling pair N → 4N at local[1] vs local[4]: in this single-JVM
    // sandbox the executor pool shares cores and memory bandwidth with
    // GC/JIT (per-core throughput measurably sags as thread count grows,
    // ~1800/core at 1-2 → ~1450/core at 8), so low thread counts are the
    // faithful analogy to real executors that each own a JVM; local[cpus]
    // is additionally reported as peak.
    val loN = 1; val hiN = math.min(4, cpus)

    // ---- phase 0: generate inputs once (untimed), in the parent ----
    val spark = Sessions.bench(cpus)
    val imageDir = ImageGen.ensure(spark, nImages)
    // JIT tier: ~20k rows ≈ 2× the C2 compile threshold per hot kernel —
    // enough to warm decode/codegen paths without inflating low-core legs
    val warmDir = ImageGen.ensure(spark, math.min(nImages, 20000L))
    // One-time per-tier index/vocab publication (write-once no-op when
    // already on disk): the PQ-family queries SERVE from the ANN store and
    // the BPE queries read the published vocab, so the sweep prices the
    // query phase — the deployment reality (an index is trained once and
    // served for months). Build costs are emitted separately below so the
    // one-time work is visible, not hidden.
    val annBuildSec = time { AnnStore.ensure(spark, sfDir) }
    val bpeTrainSec = time { BpeTokenizer.mergesFor(spark, sfDir) }
    // facts bridge for the image near-dup query (same write-once pattern)
    graft.validation.ImageSuiteQueries.ensureFacts(spark, sfDir)
    spark.stop()

    // ---- phase 1: peak suite throughput at local[cpus] — FIRST (before
    // the N/4N pair so it cannot inherit their load/page-cache state) and
    // as the MIN of 3 forked runs, the same estimator the scaling legs use:
    // shared-host noise only ever ADDS time, so min is the least-biased
    // latency estimator (the r3 median read 205/123/52 s host-load spread
    // as a 2× regression the min correctly ignored). All three raw times
    // are emitted so a noisy host is visible in the artifact.
    val peakRuns: Seq[Double] =
      if (cpus == hiN) Seq.empty // peak aliases the 4N leg below
      else (1 to 3).map(_ => forkSuite(cpus, imageDir, warmDir))

    // ---- phase 2: the N→4N pair, each level in a fresh JVM, MIN of 3
    // runs per level (the standard least-noise latency estimator — noise
    // from a shared host only ever ADDS time; all raw times are emitted).
    // Levels interleave (N, 4N, N, 4N, …) so a host-load drift hits both
    // levels symmetrically instead of biasing the ratio; three rounds
    // (was two) because a load window that covers BOTH runs of one level
    // defeats min-of-2 — the r4 driver artifact recorded the 4N leg at
    // [117.7, 128.3] s under load vs 74 s idle and the ratio sagged to
    // 0.78; a third interleaved round widens the time span the load must
    // cover to bias the minimum.
    val lowRuns = Seq.newBuilder[Double]; val highRuns = Seq.newBuilder[Double]
    for (_ <- 1 to 3) {
      lowRuns += forkSuite(loN, imageDir, warmDir)
      highRuns += forkSuite(hiN, imageDir, warmDir)
    }
    val tLow = lowRuns.result().min
    val tHigh = highRuns.result().min
    val tPeak = if (cpus == hiN) tHigh else peakRuns.min
    // the emitted protocol string must describe the estimator actually
    // used: on hosts where peak aliases the 4N leg there were no dedicated
    // peak runs (suite_sec_peak_runs is empty)
    val peakProtocol =
      if (cpus == hiN) s"aliased to the local[$hiN] scaling leg (min of 3 interleaved fresh-JVM runs)"
      else "min of 3 fresh-JVM runs, before the scaling pair"

    // ---- phase 3: headline operator queries (relative numbers), in a
    // FRESH forked JVM like every other measured phase; min-of-2 with the
    // raw pair emitted per query (VERDICT r4 #1b) ----
    val (qPairs, qErrors) = forkQueries(cpus, sfDir)
    val qTimes: Seq[(String, Double)] = qPairs.map { case (k, (a, b)) =>
      k -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }
    val qMap = qTimes.toMap

    val thrPeak = nImages / tPeak
    val thrHigh = nImages / tHigh
    val thrLow = nImages / tLow
    val efficiency = thrHigh / (thrLow * (hiN.toDouble / loN))

    // the frozen-NAME comparable: sum of min times over the suite_v4 list
    // (r4's un-attributable drift hid in a growing list and
    // single-execution times) — and the stricter frozen-WORK sum, which
    // additionally excludes queries whose internal work was redefined
    // (suiteV4Repriced): only the latter isolates engine speed
    val v4Times = suiteV4.map(n => qMap.getOrElse(n, -1.0)).filter(_ >= 0)
    val v4Total = v4Times.sum
    val v4ConstTotal = suiteV4.filterNot(suiteV4Repriced)
      .map(n => qMap.getOrElse(n, -1.0)).filter(_ >= 0).sum

    val qs = qTimes.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString("{", ",", "}")
    val qRuns = qPairs.map { case (k, (a, b)) =>
      s""""$k":[${f"$a%.3f"},${f"$b%.3f"}]""" }.mkString("{", ",", "}")
    val errs = qErrors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // exclude failure sentinels (-1.0) and don't double-count the peak legs
    // when they were aliased to the 4N leg on small hosts
    val total = qPairs.flatMap(p => Seq(p._2._1, p._2._2)).filter(_ >= 0).sum +
      peakRuns.sum + lowRuns.result().sum + highRuns.result().sum +
      annBuildSec + bpeTrainSec
    val peakRunsJson = peakRuns.map(t => f"$t%.2f").mkString("[", ",", "]")
    def runsJson(xs: Seq[Double]) = xs.map(t => f"$t%.2f").mkString("[", ",", "]")
    val json =
      s"""{"metric":"validated images/sec (full constraint suite)","value":${f"$thrPeak%.1f"},"unit":"images/sec",""" +
      s""""suite_version":"v4","images_per_sec_suite_v4":${f"$thrPeak%.1f"},""" +
      s""""suite_v4_query_sec_total":${f"$v4Total%.1f"},"suite_v4_query_count":${v4Times.length},""" +
      s""""suite_v4_constant_work_sec_total":${f"$v4ConstTotal%.1f"},""" +
      s""""suite_v4_repriced":${suiteV4Repriced.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""query_runs":$qRuns,"query_protocol":"min of 2, two interleaved full rounds, fresh JVM",""" +
      s""""ann_store_build_sec":${f"$annBuildSec%.1f"},"bpe_train_sec":${f"$bpeTrainSec%.1f"},""" +
      s""""queries":$qs,"query_errors":$errs,"sf":"$sfDir","total_sec":${f"$total%.1f"},""" +
      s""""n_images":$nImages,"peak_cpus":$cpus,"suite_sec_peak":${f"$tPeak%.2f"},""" +
      s""""suite_sec_peak_runs":$peakRunsJson,"peak_protocol":"$peakProtocol",""" +
      s""""suite_sec_local$hiN":${f"$tHigh%.2f"},"suite_sec_local$loN":${f"$tLow%.2f"},""" +
      s""""suite_sec_local${hiN}_runs":${runsJson(highRuns.result())},""" +
      s""""suite_sec_local${loN}_runs":${runsJson(lowRuns.result())},""" +
      s""""scaling_protocol":"min of 3 interleaved fresh-JVM runs per level",""" +
      s""""images_per_sec_peak":${f"$thrPeak%.1f"},""" +
      s""""images_per_sec_local$hiN":${f"$thrHigh%.1f"},"images_per_sec_local$loN":${f"$thrLow%.1f"},""" +
      s""""scaling_levels":[$loN,$hiN],"fresh_jvm_per_level":true,""" +
      s""""scaling_efficiency_${loN}to$hiN":${f"$efficiency%.3f"},""" +
      s""""scaling_efficiency":${f"$efficiency%.3f"}}"""
    // Emitted on three channels so the driver's sbt-stdout parser finds at
    // least one un-mangled copy ([info]/[error] prefixes buried the r2
    // line): bare stdout, bare stderr, and a prefix-proof BENCHJSON= line.
    println(json)
    System.err.println(json)
    println("BENCHJSON=" + json)
    Files.writeString(Paths.get("BENCH.json"), json + "\n")
  }
}
