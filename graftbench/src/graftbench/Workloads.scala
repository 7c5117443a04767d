package graftbench

import graft.DedupQueries
import graft.validation.{Drift, ImageSuite, Scoring}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** Everything a workload needs once its tier exists. */
final class Ctx(val spark: SparkSession, val work: Path, val tier: Tier, val dir: String,
                val expect: Expect) {
  lazy val images: DataFrame = spark.read.parquet(s"$dir/images")
  lazy val captions: DataFrame = spark.read.parquet(s"$dir/captions")
  def out(name: String): Path = work.resolve("out").resolve(name)
}

/** One operation a run performed: its index, the rows it validated or
  * deduplicated, and the bytes it wrote.
  */
final case class Op(k: Int, rows: Long, bytes: Long)

/** What a traced run measured besides its spans: the untraced and traced
  * wall of one operation, the part of the untraced wall the layer spans
  * account for, extra per-layer values, and the operations it ran.
  */
final case class Traced(untracedS: Double, tracedS: Double, attributedS: Double,
                        extras: Map[String, Double], ops: Seq[Op])

/** A workload: inputs, one timed operation, its output check, and the
  * traced decomposition of that operation into layer spans. Operation
  * indices `k ≥ 0` are the measured ones; warm and traced passes use
  * negative indices so their outputs never mix.
  */
trait Workload {
  def name: String
  def tier(seed: Long): Tier
  /** Typical seconds of one operation on a 4-core host. A run times
    * max(1, round(seconds / opSeconds)) operations, so every run of a
    * workload times the same operations, however fast they are.
    */
  def opSeconds: Double
  /** Executor threads: `local[cores]`. */
  def cores: Int = Main.Cores
  /** Untimed warm pass (counted in set-up). */
  def warm(c: Ctx): Unit
  /** Per-run preparation after the warm pass (counted in set-up). */
  def prepare(c: Ctx): Unit = ()
  /** Untimed preparation before operation `k` (counted in set-up). */
  def prep(c: Ctx, k: Int): Unit
  /** The timed operation; returns the rows it validated or deduplicated. */
  def call(c: Ctx, k: Int): Long
  /** Bytes operation `k` added to its output dir; read right after it. */
  def outBytes(c: Ctx, k: Int): Long
  /** Problems with operation `k`'s outputs; empty when correct. */
  def check(c: Ctx, k: Int): Seq[String]
  def traced(c: Ctx, tr: Tracer): Traced

  /** Prepare, run and measure the bytes of operation `k`, untimed. */
  def op(c: Ctx, k: Int): Op = { prep(c, k); val n = call(c, k); Op(k, n, outBytes(c, k)) }
}

object Workloads {
  /** The workloads BENCHMARK.json lists. */
  val all: Seq[Workload] = Seq(CheckpointFull, NearDup)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  val LightCols: Seq[String] = Seq("image_id", "part", "w", "h", "caption")

  def exhaust(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Drop every cached plan and persisted RDD: the CacheManager matches
    * plans across calls, so without this a later span would reuse an
    * earlier span's cached decode.
    */
  def clearAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Total wall of the spans named `n`. */
  def wall(tr: Tracer, n: String): Double = tr.spans.filter(_.name == n).map(_.wallS).sum

  /** Total self time of the spans named `n`. */
  def self(tr: Tracer, n: String): Double = {
    val kids = tr.spans.groupBy(_.parent)
    tr.spans.filter(_.name == n).map { s =>
      Stats.selfTime(s.start, s.end, kids.getOrElse(s.id, Nil).map(x => (x.start, x.end))) / 1e6
    }.sum
  }

  /** (part, check) → n_violations of one run id's verdicts. */
  def verdicts(spark: SparkSession, out: Path, runId: String): Map[(String, String), Long] =
    spark.read.parquet(out.resolve("verdicts").toString)
      .filter(col("run_id") === runId)
      .select("part", "check", "n_violations").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  def state(spark: SparkSession, out: Path): Seq[(String, Long, String)] =
    spark.read.parquet(out.resolve("state").toString)
      .filter(col("status") === "done")
      .select("part", "n_rows", "run_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq

  /** The first half of the tier's partitions: warm passes run over them,
    * so per-row code is compiled before the timed calls, at half a call's
    * cost.
    */
  def warmParts(c: Ctx): Seq[String] = c.expect.parts.take((c.expect.parts.size + 1) / 2)

  /** A data dir holding the [[warmParts]] of the tier. */
  def warmSlice(c: Ctx): String = {
    val d = c.work.resolve("warm").resolve(c.tier.key)
    Work.delete(d)
    for (t <- Seq("images", "captions"); p <- warmParts(c))
      Work.copy(java.nio.file.Paths.get(c.dir, t, s"part=$p"), d.resolve(t).resolve(s"part=$p"))
    d.toString
  }

  /** The decode span and the row-check span around it, over `images`. */
  def tracedRowChecks(c: Ctx, tr: Tracer, images: DataFrame, runId: String): Unit = {
    tr.span("validation.row_checks") {
      val facts = tr.span("functions.image_facts") {
        val f = ImageSuite.decodeFactsExpr(images).cache()
        f.count()
        f
      }
      val rv = ImageSuite.rowViolations(facts)
      exhaust(rv)
      exhaust(ImageSuite.rowVerdicts(facts, rv, runId))
      exhaust(ImageSuite.coverageVerdicts(facts, runId))
      exhaust(Scoring.qualityVerdicts(facts, runId))
      exhaust(ImageSuite.metricsOf(facts, runId))
    }
    clearAll(c.spark)
  }
}

import Workloads._

/** First run of a deployed validator: `runAndCheckpoint` into an empty
  * output dir. Decoding and row checks are the work that grows with the
  * tier; on a 4-core host the call's fixed cost (tens of Spark jobs and
  * eight store writes) is still the larger share at an affordable tier.
  */
object CheckpointFull extends Workload {
  val name = "checkpoint_full"
  val opSeconds = 7.0
  def tier(seed: Long): Tier = Tier(seed, 1200, 8)
  private def out(c: Ctx, k: Int): Path = c.out(s"full-$k")
  private def runId(k: Int) = s"full-$k"

  /** One call over half the tier's partitions, then one over all of it. */
  def warm(c: Ctx): Unit = {
    ImageSuite.runAndCheckpoint(c.spark, warmSlice(c), c.out("full-warm").toString, "warm")
    op(c, -1)
  }

  def prep(c: Ctx, k: Int): Unit = Work.delete(out(c, k))

  def call(c: Ctx, k: Int): Long = {
    ImageSuite.runAndCheckpoint(c.spark, c.dir, out(c, k).toString, runId(k))
    c.tier.rows
  }

  def outBytes(c: Ctx, k: Int): Long = Work.du(out(c, k))._2

  def check(c: Ctx, k: Int): Seq[String] = {
    val all = c.expect.parts.toSet
    val got = verdicts(c.spark, out(c, k), runId(k))
    c.expect.diff(c.expect.rowFamily(all) ++ c.expect.keyFamily(all), got) ++
      c.expect.stateDiff(c.expect.parts, state(c.spark, out(c, k)).map(s => (s._1, s._2)))
  }

  def traced(c: Ctx, tr: Tracer): Traced = {
    val (before, u1) = timed(op(c, -2))
    clearAll(c.spark)
    prep(c, -3)
    val n = tr.span("validation.checkpoint")(call(c, -3))
    val (files, bytes) = Work.du(out(c, -3))
    clearAll(c.spark)
    val (after, u2) = timed(op(c, -4))
    clearAll(c.spark)
    val id = "full-traced"
    tr.span("validation.suite") {
      val (v, viol, m) = ImageSuite.run(c.spark, c.dir, id)
      exhaust(v); exhaust(viol); exhaust(m)
    }
    clearAll(c.spark)
    tracedRowChecks(c, tr, c.images, id)
    tracedKeyDrift(c, tr, id)
    val commit = wall(tr, "validation.checkpoint") - wall(tr, "validation.suite")
    Traced((u1 + u2) / 2, wall(tr, "validation.checkpoint"),
      Seq("functions.image_facts", "validation.key_checks", "validation.drift")
        .map(wall(tr, _)).sum + self(tr, "validation.row_checks") + commit,
      // an empty dir stores no keys, so the index the key checks join is
      // the tier's own light rows
      Map("validation.key_checks.index_rows" -> n.toDouble,
        "validation.checkpoint.files" -> files.toDouble,
        "validation.checkpoint.written_mb" -> bytes / 1048576.0,
        "validation.commit.residual_s" -> commit),
      Seq(before, Op(-3, n, bytes), after))
  }

  /** The key-check and drift spans of the step `runAndCheckpoint` takes
    * into an empty dir (`ImageSuite.keyDriftIncrement`): the incremental
    * key checks and drift partials over every light row, against no done
    * partitions, stored keys, prior orphans or stored partials.
    */
  private def tracedKeyDrift(c: Ctx, tr: Tracer, id: String): Unit = {
    import c.spark.implicits._
    val light = c.images.select(LightCols.map(col): _*)
    tr.span("validation.key_checks") {
      val (v, viol) = ImageSuite.incrementalKeyChecks(light.cache(),
        Seq.empty[(String, String)].toDF("image_id", "part"), c.captions, id,
        Seq.empty[String].toDF("part"), Seq.empty[(String, String)].toDF("part", "image_id"))
      exhaust(v); exhaust(viol)
    }
    clearAll(c.spark)
    tr.span("validation.drift") {
      val stored = Drift.readPartialsDS(c.spark, c.out("empty").resolve("drift_partials").toString)
      val (v, viol) = Drift.verdictsAuto(c.spark, stored.union(Drift.partials(light.cache())), id)
      exhaust(v); exhaust(viol)
    }
    clearAll(c.spark)
  }
}

/** The image near-duplicate operators over facts decoded in set-up: banded
  * pHash pairs, quadrant-tile pairs and dihedral mirror pairs, then
  * star-contraction components over their union. Reads no parquet images
  * and writes nothing.
  */
object NearDup extends Workload {
  val name = "near_dup"
  val opSeconds = 6.0
  /** One core fewer than the host's four: each call is ~80 small Spark
    * jobs, whose latency the driver, JIT and GC threads disturb when they
    * compete with four executor threads for four cores. Five runs on one
    * seed spread 0.14 (IQR over median) at local[4], 0.10 at local[3],
    * for ~5% less throughput.
    */
  override val cores: Int = math.min(3, Main.Cores)
  def tier(seed: Long): Tier = Tier(seed, 1500, 8)
  private var facts: DataFrame = _
  private val labels = scala.collection.mutable.Map[Int, Array[(String, String)]]()

  /** One operation over the facts of half the tier's partitions. */
  def warm(c: Ctx): Unit = components(pairs(ImageSuite.decodeFactsExpr(
    c.images.filter(col("part").isin(warmParts(c): _*)))).reduce(_ union _))

  /** Decode the facts, then one untimed operation over all of them. */
  override def prepare(c: Ctx): Unit = {
    facts = ImageSuite.decodeFactsExpr(c.images).persist()
    facts.count()
    call(c, -1)
    labels.remove(-1)
  }

  def prep(c: Ctx, k: Int): Unit = ()

  /** The three pair families over one signature row per image id, built
    * as the `q_dedup_phash_*` queries build them: the first decodable row
    * by (recomputed pHash, size).
    */
  private def pairs(f: DataFrame): Seq[DataFrame] = {
    val first = f.filter(col("decode_ok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("image_id").orderBy("phash_rec", "n_bytes")))
      .filter(col("rn") === 1)
    Seq(
      DedupQueries.bandedSimhashPairsL2(
        first.select(col("image_id").as("doc_id"),
          col("phash_rec").bitwiseAND(lit(4294967295L)).as("simhash_lo"),
          shiftright(col("phash_rec"), 32).bitwiseAND(lit(4294967295L)).as("simhash_hi")),
        blocks = 4, maxHamming = 4, maxBucket = 4, runWidth = 4),
      DedupQueries.bandedTilePairs(
        first.select(col("image_id").as("doc_id"), col("phash_rec").as("phash"),
          posexplode(col("phash_tiles")).as(Seq("q", "tile"))).filter(col("tile") =!= 0L),
        maxTileHamming = 6, minFullHamming = 8, maxBucket = 4, runWidth = 4),
      DedupQueries.bandedDihedralPairs(
        first.select(col("image_id").as("doc_id"), col("phash_rec").as("phash"),
          posexplode(col("phash_d4")).as(Seq("kind", "hash"))).filter(col("hash") =!= 0L),
        maxDihHamming = 6, minFullHamming = 12, maxBucket = 4, runWidth = 4)
    ).map(_.select("a_id", "b_id"))
  }

  private def components(union: DataFrame): Array[(String, String)] =
    DedupQueries.connectedComponentsStar(union.distinct()).collect()
      .map(r => (r.getString(0), r.getString(1)))

  def call(c: Ctx, k: Int): Long = {
    labels(k) = components(pairs(facts).reduce(_ union _))
    c.tier.rows
  }

  def outBytes(c: Ctx, k: Int): Long = 0L

  def check(c: Ctx, k: Int): Seq[String] = {
    val lab = labels.remove(k).getOrElse(Array.empty).toMap
    val notLeast = lab.collect { case (d, comp) if comp > d || lab.get(comp).exists(_ != comp) =>
      s"$d labelled $comp, not its component's least id" }.toSeq
    val planted = c.expect.plantedPairs.groupBy(_._1)
    val recall = Expect.MinPlantedRecall.toSeq.sorted.flatMap { case (kind, floor) =>
      val ps = planted.getOrElse(kind, Nil)
      val found = ps.count { case (_, a, i) => lab.contains(a) && lab.get(a) == lab.get(i) }
      val share = found.toDouble / math.max(ps.size, 1)
      Console.err.println(
        f"[graftbench] op $k: planted $kind pairs co-clustered $found of ${ps.size} ($share%.3f)")
      if (ps.nonEmpty && share >= floor) None
      else Some(f"$kind pairs co-clustered: $found of ${ps.size} ($share%.3f < $floor)")
    }
    // over-merging (a looser cut-off, components that collapse) passes the
    // recall floors, so the clustered ids and the largest component have
    // ceilings too
    val clustered = lab.size.toDouble / c.tier.rows
    val largest = lab.values.groupBy(identity).values.map(_.size).maxOption.getOrElse(0)
      .toDouble / c.tier.rows
    Console.err.println(f"[graftbench] op $k: clustered $clustered%.3f of the rows, " +
      f"largest component $largest%.3f")
    val merged =
      (if (clustered <= Expect.MaxClustered) Nil
       else Seq(f"clustered $clustered%.3f of the rows > ${Expect.MaxClustered}")) ++
      (if (largest <= Expect.MaxComponent) Nil
       else Seq(f"largest component $largest%.3f of the rows > ${Expect.MaxComponent}"))
    notLeast.take(5) ++ recall ++ merged
  }

  /** One traced operation between two untraced ones. In the traced one
    * each pair family is materialized in its own span before the
    * components span reads them.
    */
  def traced(c: Ctx, tr: Tracer): Traced = {
    val (before, u1) = timed(op(c, -2))
    val names = Seq("operators.phash_pairs", "operators.tile_pairs", "operators.dihedral_pairs")
    val materialized = names.zip(pairs(facts)).map { case (n, df) =>
      tr.span(n)(df.localCheckpoint())
    }
    labels(-3) = tr.span("operators.cc_star")(components(materialized.reduce(_ union _)))
    val (after, u2) = timed(op(c, -4))
    val total = (names :+ "operators.cc_star").map(wall(tr, _)).sum
    Traced((u1 + u2) / 2, total, total, Map.empty, Seq(before, Op(-3, c.tier.rows, 0L), after))
  }
}
