package graftbench

import graft.images.ImageGen

/** Expected outputs, computed in plain Scala from the generated rows' light
  * columns (the tier's `truth/` table), the generated captions and
  * `ImageGen.defectOf` — never from the engine's own code.
  *
  * Expectations are per (part, check) ranges of violation counts. Every
  * check is exact except `phash_consistent`: whether heavy noise moves a
  * row's perceptual hash past the threshold depends on the pixels, so a
  * low-PSNR or duplicate-id row may or may not count there.
  */
final class Expect(val tier: Tier, val rows: Array[TruthRow], val caps: Seq[ImageGen.CapRow]) {
  import Expect._

  val rowsByPart: Map[String, Array[TruthRow]] = rows.groupBy(_.part)
  /** Partitions that hold image rows, in order (p0, p1, …). */
  val parts: Seq[String] = rowsByPart.keys.toSeq.sortBy(_.stripPrefix("p").toInt)
  def nRows(part: String): Long = rowsByPart.get(part).map(_.length.toLong).getOrElse(0L)

  private val capsById: Map[String, Seq[String]] =
    caps.groupBy(_.image_id).map { case (id, cs) => id -> cs.map(_.caption) }
  private val capsByPart: Map[String, Seq[ImageGen.CapRow]] = caps.groupBy(_.part)

  /** Row-invariant and coverage checks over the rows of `batch`. */
  def rowFamily(batch: Set[String]): Counts = {
    val out = Map.newBuilder[(String, String), (Long, Long)]
    for (p <- batch.toSeq; rs = rowsByPart.getOrElse(p, Array.empty[TruthRow])) {
      val cls = rs.map(r => ImageGen.defectOf(r.ord))
      def n(f: Int => Boolean): Long = rs.indices.count(f).toLong
      def exact(check: String, f: Int => Boolean): Unit = { val c = n(f); out += (p, check) -> (c, c) }
      exact("bytes_present", i => cls(i) == "null_bytes" || cls(i) == "sentinel")
      exact("decodable", i => cls(i) == "corrupt")
      exact("dims_positive", i => rs(i).w <= 0 || rs(i).h <= 0)
      exact("dims_match_decoded", i => cls(i) == "bad_dims")
      exact("sentinel_row", i => cls(i) == "sentinel")
      // a duplicate-id row carries its own pixels under a neighbour's id,
      // so the id-derived ground truth rejects it as well
      exact("psnr_allclose", i => cls(i) == "low_psnr" || cls(i) == "dup_id")
      exact("fmt_matches_magic", i => cls(i) == "bad_fmt")
      exact("caption_equality", i => rs(i).caption != null &&
        rs(i).caption != ImageGen.caption(ordinal(rs(i).image_id)))
      val lo = n(i => cls(i) == "bad_phash")
      out += (p, "phash_consistent") ->
        (lo, lo + n(i => cls(i) == "low_psnr" || cls(i) == "dup_id"))
      exact("null_rate_caption", i => rs(i).caption == null)
      exact("null_rate_bytes", i => cls(i) == "null_bytes" || cls(i) == "sentinel")
    }
    out.result()
  }

  /** Key checks for the rows of `batch` validated into an empty output
    * dir, following `ImageSuite.incrementalKeyChecks` with nothing done:
    *   - a row is a duplicate when its id occurs more than once in the batch;
    *   - a row lacks a caption when no caption row anywhere has its id;
    *   - a batch partition's caption is an orphan when no batch row has
    *     its id;
    *   - every (image row, caption row) pair on one id with two non-null,
    *     different captions is a mismatch.
    */
  def keyFamily(batch: Set[String]): Counts = {
    val batchRows = batch.toSeq.flatMap(p => rowsByPart.getOrElse(p, Array.empty[TruthRow]))
    val idCount = batchRows.groupBy(_.image_id).map { case (k, v) => k -> v.size }
    val out = Map.newBuilder[(String, String), (Long, Long)]
    for (p <- batch.toSeq; rs = rowsByPart.getOrElse(p, Array.empty[TruthRow]) if rs.nonEmpty) {
      def put(check: String, c: Long): Unit = out += (p, check) -> (c, c)
      put("uniqueness_image_id", rs.count(r => idCount(r.image_id) > 1).toLong)
      put("referential_caption_exists", rs.count(r => !capsById.contains(r.image_id)).toLong)
      put("referential_image_exists", capsByPart.getOrElse(p, Nil)
        .count(c => !idCount.contains(c.image_id)).toLong)
      put("caption_consistent", rs.map { r =>
        if (r.caption == null) 0L
        else capsById.getOrElse(r.image_id, Nil).count(c => c != null && c != r.caption).toLong
      }.sum)
    }
    out.result()
  }

  /** Differences between expected ranges and the counts an op wrote. A
    * missing verdict counts as a difference; verdicts of checks the
    * expectation does not cover are ignored.
    */
  def diff(expected: Counts, got: Map[(String, String), Long]): Seq[String] =
    expected.toSeq.sorted.flatMap { case (k @ (p, c), (lo, hi)) =>
      got.get(k) match {
        case None => Some(s"$p/$c: no verdict")
        case Some(v) if v < lo || v > hi => Some(s"$p/$c: $v violations, expected [$lo, $hi]")
        case _ => None
      }
    }

  /** State rows must cover each of `parts` exactly once with its row count. */
  def stateDiff(parts: Seq[String], state: Seq[(String, Long)]): Seq[String] = {
    val byPart = state.groupBy(_._1)
    val extra = byPart.keySet -- parts
    parts.flatMap { p =>
      byPart.getOrElse(p, Nil) match {
        case Seq((_, n)) if n == nRows(p) => None
        case Seq((_, n)) => Some(s"state $p: n_rows $n, expected ${nRows(p)}")
        case rs => Some(s"state $p: ${rs.size} rows, expected 1")
      }
    } ++ extra.toSeq.sorted.map(p => s"state $p: not validated by this op")
  }

  /** Planted near-duplicates whose two rows both decode to their generated
    * pattern under their own id: (kind, anchor id, duplicate id). Excluded
    * are anchors outside the tier, anchors that are themselves planted
    * composites or defect rows, and ids that a neighbouring duplicate-id
    * row also carries.
    */
  lazy val plantedPairs: Seq[(String, String, String)] = {
    def clean(i: Long): Boolean = i >= tier.first && i < tier.until &&
      ImageGen.defectOf(i) == "clean" && !ImageGen.isTileDup(i) && !ImageGen.isMirrorDup(i)
    def ownsId(i: Long): Boolean = i + 1 >= tier.until || ImageGen.defectOf(i + 1) != "dup_id"
    (tier.first until tier.until).flatMap { i =>
      val planted =
        if (ImageGen.isMirrorDup(i)) Some(("mirror", ImageGen.mirrorAnchor(i)))
        else if (ImageGen.isTileDup(i)) Some(("tile", ImageGen.tileAnchor(i)))
        else None
      planted.collect { case (kind, a) if clean(a) && ownsId(a) && ownsId(i) =>
        (kind, ImageGen.idStr(a), ImageGen.idStr(i))
      }
    }
  }
}

object Expect {
  type Counts = Map[(String, String), (Long, Long)]

  def ordinal(id: String): Long = id.stripPrefix("img-").toLong

  /** Share of each kind of planted near-duplicate pair that must land in
    * one component. Banding is approximate by design (bounded runs in hot
    * buckets, hamming cut-offs across resolutions), so recall is partial:
    * across 74 seeds the lowest shares were 0.645 (mirror) and 0.333
    * (tile). The floors sit at about 60% of those; with the tile family
    * left out of the union, tile recall is 0.
    */
  val MinPlantedRecall: Map[String, Double] = Map("mirror" -> 0.4, "tile" -> 0.2)

  /** Ceilings on the share of the rows placed in non-singleton components,
    * and on the share in the largest one. The synthetic patterns are close
    * enough that about half the rows pair with some other row; across
    * seeds the shares were 0.50–0.59 and 0.035–0.26. Lumping every paired
    * row into one component, or pairing most rows, crosses them.
    */
  val MaxClustered: Double = 0.7
  val MaxComponent: Double = 0.45
}
