package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** Benchmark harness. One process, one Spark session at `local[cores]`, a
  * closed loop with one client: each timed operation starts after the
  * previous one returns. A run times as many operations as fill
  * `--seconds` at the workload's typical operation time.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   [--work <dir>] [--inputs 1]
  *
  * `--inputs 1` only generates the workload's tier, if it is not cached,
  * and exits. The runner does that in a JVM of its own: generating in the
  * measuring JVM leaves it measurably slower and noisier for the rest of
  * its life, and a run would then depend on whether its tier was cached.
  * Generation needs no Spark session.
  *
  * Untraced runs (`--trace 0`) measure the end-to-end metrics. Traced runs
  * (`--trace 1`) do a fixed amount of work per workload and attribute it
  * to the engine's layers. The last stdout line is the JSON result.
  */
object Main {

  /** End-to-end metrics: (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "images_per_s" -> "1/s", "batch_p50_s" -> "s", "batch_tail_s" -> "s",
    "setup_s" -> "s", "peak_rss_mb" -> "MB")

  /** Layer spans; each reports [[SpanStats]] under these suffixes. */
  val Spans: Seq[String] = Seq("functions.image_facts", "validation.row_checks",
    "validation.key_checks", "validation.drift", "validation.suite",
    "validation.checkpoint", "operators.phash_pairs",
    "operators.tile_pairs", "operators.dihedral_pairs", "operators.cc_star")
  val SpanStatUnits: Seq[(String, String)] = Seq("wall_s" -> "s", "task_s" -> "s",
    "gc_s" -> "s", "driver_s" -> "s", "jobs" -> "count", "shuffle_mb" -> "MB",
    "spill_mb" -> "MB", "task_skew" -> "ratio")
  val Extras: Seq[(String, String)] = Seq(
    "validation.row_checks.self_s" -> "s",
    "validation.key_checks.index_rows" -> "count",
    "validation.checkpoint.files" -> "count",
    "validation.checkpoint.written_mb" -> "MB",
    "validation.commit.residual_s" -> "s",
    "trace.overhead_frac" -> "ratio",
    "trace.unattributed_s" -> "s",
    "images.gen_s" -> "s",
    "out_bytes_per_row" -> "count")
  val PerLayer: Seq[(String, String)] =
    Spans.flatMap(s => SpanStatUnits.map { case (st, u) => s"$s.$st" -> u }) ++ Extras

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, inputsOnly: Boolean)

  /** `local[k]`: the benchmark is sized for 4 cores; fewer where there are fewer. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Opts(need("workload"), m.get("seed").map(_.toLong).getOrElse(Tiers.DefaultSeed),
      need("seconds").toInt, trace == "1",
      m.getOrElse("work", ".bench_work"), m.get("inputs").contains("1"))
  }

  def session(cores: Int, work: Path): SparkSession = {
    // the confs graft.Bench measures the suite under
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", math.max(cores, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", (1 << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Sum of the heap pools' peak committed sizes, in MB: an upper bound
    * on the heap this JVM committed at any one time.
    */
  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getCommitted).sum / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.byName(o.workload).getOrElse(
      sys.error(s"unknown workload ${o.workload}; one of ${Workloads.all.map(_.name).mkString(", ")}"))
    val work = Paths.get(o.work).toAbsolutePath
    Files.createDirectories(work)
    val tiers = work.resolve("tiers").toString
    val (dir, genS) = Tiers.ensure(tiers, wl.tier(o.seed))
    if (o.inputsOnly) return
    Work.delete(work.resolve("out"))
    val t0 = System.nanoTime()
    val spark = session(wl.cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try run(o, wl, spark, work, sessionS, dir, genS)
    finally spark.stop()
  }

  private def log(s: String): Unit = Console.err.println(s"[graftbench] $s")

  def run(o: Opts, wl: Workload, spark: SparkSession, work: Path, sessionS: Double,
          dir: String, genS: Double): Unit = {
    val tier = wl.tier(o.seed)
    val expect = new Expect(tier, Tiers.truth(dir), Tiers.captions(tier))
    val c = new Ctx(spark, work, tier, dir, expect)
    log(f"${wl.name} seed=${o.seed} rows=${tier.rows} parts=${tier.parts} cores=${wl.cores} " +
      f"session=$sessionS%.2fs inputs=$genS%.2fs")
    val (_, warmS) = Workloads.timed(wl.warm(c))
    Workloads.clearAll(spark)
    val (_, prepareS) = Workloads.timed(wl.prepare(c))

    if (o.trace) {
      val tr = new Tracer(spark, s"${wl.name}-s${o.seed}")
      val t = wl.traced(c, tr)
      val stats = tr.stats()
      writeSpans(work, tr.runId, stats)
      val failed = report(wl, c, t.ops.map(_.k))
      val outPerRow = t.ops.map(_.bytes).sum.toDouble / t.ops.map(_.rows).sum
      emit(t.ops.size, failed, traceMetrics(t, stats, genS, outPerRow))
      return
    }

    // start the timed loop from a collected heap, whatever set-up allocated
    System.gc()
    val lat = ArrayBuffer[Double]()
    val preps = ArrayBuffer[Double]()
    val ops = ArrayBuffer[Op]()
    var thrown = 0
    val n = math.max(1, math.round(o.seconds / wl.opSeconds).toInt)
    for (k <- 0 until n) {
      preps += Workloads.timed(wl.prep(c, k))._2
      try {
        val (rows, s) = Workloads.timed(wl.call(c, k))
        lat += s
        ops += Op(k, rows, wl.outBytes(c, k))
      } catch {
        case e: Exception => log(s"op $k failed: threw $e"); thrown += 1
      }
    }
    val failed = thrown + report(wl, c, ops.map(_.k).toSeq)
    val (tailP, tailV, tailN) = Stats.tail(lat.toSeq)
    log(lat.map(x => f"$x%.3f").mkString("latencies: ", " ", " s"))
    log(f"batch_tail is p$tailP%.1f of ${lat.size} operations, $tailN beyond it; " +
      f"out_bytes_per_row=${ops.map(_.bytes).sum.toDouble / ops.map(_.rows).sum}%.1f")
    log(f"heap: peak committed at most ${heapPeakMb()}%.0f MB of a ${
      Runtime.getRuntime.maxMemory / 1048576.0}%.0f MB cap")
    emit(n, failed, Seq(
      ("images_per_s", ops.map(_.rows).sum / lat.sum, "1/s"),
      ("batch_p50_s", Stats.median(lat.toSeq), "s"),
      ("batch_tail_s", tailV, "s"),
      ("setup_s", sessionS + warmS + prepareS + Stats.median(preps.toSeq), "s"),
      ("peak_rss_mb", peakRssMb(), "MB")))
  }

  /** Check every operation's outputs; returns how many failed. */
  private def report(wl: Workload, c: Ctx, ks: Seq[Int]): Int = {
    val problems = ks.map { k =>
      k -> (try wl.check(c, k) catch { case e: Exception => Seq(s"check threw $e") })
    }.filter(_._2.nonEmpty)
    problems.take(5).foreach { case (k, ps) => log(s"op $k failed: ${ps.take(5).mkString("; ")}") }
    log(f"ops=${ks.size} failed=${problems.size} failed_frac=${problems.size.toDouble / ks.size}%.4f")
    problems.size
  }

  /** Print every metric readably to stderr and the result line to stdout. */
  private def emit(attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): Unit = {
    metrics.foreach { case (n, v, u) => log(f"$n%-44s $v%14.6f $u") }
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Fold a traced run into every per-layer metric; spans a workload
    * does not exercise report 0.
    */
  def traceMetrics(t: Traced, stats: Seq[SpanStats], inputS: Double,
                   outBytesPerRow: Double): Seq[(String, Double, String)] = {
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val spanVals = stats.groupBy(_.span.name).toSeq.flatMap { case (n, ss) => Seq(
      s"$n.wall_s" -> mean(ss.map(_.span.wallS)),
      s"$n.task_s" -> mean(ss.map(_.taskS)),
      s"$n.gc_s" -> mean(ss.map(_.gcS)),
      s"$n.driver_s" -> mean(ss.map(_.driverS)),
      s"$n.jobs" -> mean(ss.map(_.jobs.toDouble)),
      s"$n.shuffle_mb" -> mean(ss.map(_.shuffleMb)),
      s"$n.spill_mb" -> mean(ss.map(_.spillMb)),
      s"$n.task_skew" -> Stats.median(ss.map(_.taskSkew)),
      s"$n.self_s" -> mean(ss.map(_.selfS)))
    }.toMap
    val vals = spanVals ++ t.extras ++ Map(
      "trace.overhead_frac" -> (t.tracedS - t.untracedS) / t.untracedS,
      "trace.unattributed_s" -> (t.untracedS - t.attributedS),
      "images.gen_s" -> inputS,
      "out_bytes_per_row" -> outBytesPerRow)
    PerLayer.map { case (n, u) => (n, vals.getOrElse(n, 0.0), u) }
  }

  /** Spans and their counters, one JSON object a line, for later reading. */
  private def writeSpans(work: Path, runId: String, stats: Seq[SpanStats]): Unit = {
    val dir = work.resolve("trace")
    Files.createDirectories(dir)
    val lines = stats.map { s =>
      val sp = s.span
      f"""{"id": ${sp.id}, "name": "${sp.name}", "parent": ${sp.parent}, "run_id": "${sp.runId}", """ +
        f""""start_us": ${sp.start}, "end_us": ${sp.end}, "task_s": ${s.taskS}%.3f, """ +
        f""""gc_s": ${s.gcS}%.3f, "driver_s": ${s.driverS}%.6f, "jobs": ${s.jobs}, """ +
        f""""shuffle_mb": ${s.shuffleMb}%.6f, "spill_mb": ${s.spillMb}%.6f, """ +
        f""""task_skew": ${s.taskSkew}%.3f, "self_s": ${s.selfS}%.6f}"""
    }
    Files.write(dir.resolve(s"$runId.jsonl"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
