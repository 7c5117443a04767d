package graftbench

import graft.images.ImageGen
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

import java.nio.file.{Files, Path, Paths}

/** A seeded input tier: `rows` image ordinals starting at the seed's
  * offset, bucketed into `parts` partitions.
  */
final case class Tier(seed: Long, rows: Int, parts: Int) {
  val first: Long = Tiers.offset(seed)
  val until: Long = first + rows
  /** Orphan captions: ids beyond the last ordinal, 0.5% of the rows. */
  val orphans: Int = math.max(1, rows / 200)
  def key: String = s"g${ImageGen.GenVersion}-s$seed-n$rows-p$parts"
}

/** One generated image row's light columns, keyed by the ordinal that
  * produced it (duplicate-id rows carry a neighbour's id).
  */
final case class TruthRow(ord: Long, image_id: String, part: String, w: Int, h: Int,
                          caption: String)

/** Builds tiers from ImageGen's public per-ordinal functions only, in the
  * layout the engine reads (`images/` and `captions/`, partitioned by
  * `part`), plus `truth.tsv`, the generated rows' light columns that the
  * output checks read. Tiers are cached per (generator version, seed,
  * rows, partitions).
  */
object Tiers {

  /** Seed used when none is given; a second seed is reserved for
    * confirming a claimed gain on inputs it was not tuned on.
    */
  val DefaultSeed = 1L
  val ConfirmSeed = 7L

  /** Ordinal offset of a seed. Ordinals stay below 10^12, the width of
    * `ImageGen.idStr`; `ImageFactsExpr` derives PSNR truth from the id's
    * ordinal, so offset ids stay valid. The `+ 1` keeps ordinal 0 (whose
    * duplicate-id row borrows ordinal 1's id) out of every tier.
    */
  def offset(seed: Long): Long = (Math.floorMod(seed, 9999L) + 1L) * 100000000L

  def captions(t: Tier): Seq[ImageGen.CapRow] =
    (t.first until t.until).flatMap(ImageGen.genCaption(_, t.parts)) ++
      (t.until until t.until + t.orphans).map(i =>
        ImageGen.CapRow(ImageGen.idStr(i), ImageGen.caption(i), s"p${ImageGen.partOf(i, t.parts)}"))

  def dir(root: String, t: Tier): Path = Paths.get(root, t.key)

  /** Seconds the tier took to generate, once it has been. */
  def genSeconds(root: String, t: Tier): Option[Double] = {
    val done = dir(root, t).resolve("_DONE")
    if (Files.exists(done)) Some(Files.readString(done).trim.toDouble) else None
  }

  /** Generate the tier under `root` unless it is already there; returns the
    * tier dir and the seconds its generation took.
    */
  def ensure(root: String, t: Tier): (String, Double) = {
    val d = dir(root, t)
    genSeconds(root, t).foreach(s => return (d.toString, s))
    val t0 = System.nanoTime()
    val tmp = Paths.get(root, t.key + ".tmp")
    Work.delete(tmp)
    write(t, tmp)
    val s = (System.nanoTime() - t0) / 1e9
    Files.writeString(tmp.resolve("_DONE"), s.toString)
    Work.delete(d)
    Files.move(tmp, d)
    (d.toString, s)
  }

  // the schemas Spark writes for ImageGen's GenRow and CapRow, minus the
  // `part` partition column
  private val ImageSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary image_id (STRING);
      |  optional binary bytes;
      |  required int32 w;
      |  required int32 h;
      |  optional binary fmt (STRING);
      |  optional binary caption (STRING);
      |  required int64 phash;
      |}""".stripMargin)
  private val CaptionSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary image_id (STRING);
      |  optional binary caption (STRING);
      |}""".stripMargin)

  /** Plain parquet-mr, no Spark: the layout `ImageGen.write` gives the
    * engine's own tiers (one file per `part=` dir, 1 MB row groups,
    * snappy), rows in ordinal order.
    */
  private def write(t: Tier, out: Path): Unit = {
    val rows = java.util.stream.LongStream.range(t.first, t.until).parallel()
      .mapToObj[(Long, ImageGen.GenRow)](i => (i, ImageGen.genRow(i, t.parts)))
      .toArray.map(_.asInstanceOf[(Long, ImageGen.GenRow)])
    val img = new SimpleGroupFactory(ImageSchema)
    for ((part, rs) <- rows.groupBy(_._2.part))
      writeParquet(out.resolve("images").resolve(s"part=$part"), ImageSchema, rs.map { case (_, r) =>
        val g = img.newGroup()
        Option(r.image_id).foreach(g.add("image_id", _))
        Option(r.bytes).foreach(b => g.add("bytes", Binary.fromConstantByteArray(b)))
        g.add("w", r.w)
        g.add("h", r.h)
        Option(r.fmt).foreach(g.add("fmt", _))
        Option(r.caption).foreach(g.add("caption", _))
        g.add("phash", r.phash)
        g
      })
    val cap = new SimpleGroupFactory(CaptionSchema)
    for ((part, cs) <- captions(t).groupBy(_.part))
      writeParquet(out.resolve("captions").resolve(s"part=$part"), CaptionSchema, cs.map { c =>
        val g = cap.newGroup()
        g.add("image_id", c.image_id)
        Option(c.caption).foreach(g.add("caption", _))
        g
      })
    Files.write(out.resolve("truth.tsv"), rows.map { case (i, r) =>
      Seq(i, r.image_id, r.part, r.w, r.h, Option(r.caption).getOrElse(NullField)).mkString("\t")
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private val NullField = "\\N"

  private def writeParquet(dir: Path, schema: MessageType, rows: Iterable[Group]): Unit = {
    Files.createDirectories(dir)
    val w = ExampleParquetWriter.builder(new HPath(dir.resolve("part-00000.snappy.parquet").toString))
      .withType(schema).withConf(new Configuration())
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(1L << 20)
      .build()
    try rows.foreach(w.write) finally w.close()
  }

  def truth(dir: String): Array[TruthRow] =
    Files.readAllLines(Paths.get(dir, "truth.tsv")).toArray(Array.empty[String]).map { l =>
      val f = l.split("\t", -1)
      TruthRow(f(0).toLong, f(1), f(2), f(3).toInt, f(4).toInt,
        if (f(5) == NullField) null else f(5))
    }
}

/** File-system helpers for the benchmark's work dir. */
object Work {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { x =>
      val dst = to.resolve(from.relativize(x))
      if (Files.isDirectory(x)) Files.createDirectories(dst) else Files.copy(x, dst)
    } finally s.close()
  }

  /** (files, bytes) under `p`, hidden checksum files included. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var files = 0L; var bytes = 0L
        s.filter(Files.isRegularFile(_)).forEach { x => files += 1; bytes += Files.size(x) }
        (files, bytes)
      } finally s.close()
    }
}
