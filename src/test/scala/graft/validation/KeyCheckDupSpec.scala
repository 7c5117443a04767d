package graft.validation

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Uniqueness must count IMAGE rows, never full-outer-join rows: an
  * image_id with one image row but several caption rows is unique, and a
  * genuinely duplicated image row must yield exactly one violation row
  * per offending image row (not multiplied by its matching captions).
  * The generated corpus never plants duplicate caption ids, so this
  * planted input is the only thing keeping the full-outer twin, the
  * incremental twin, and the q_i_keychecks DuckDB oracle in agreement on
  * caption-multiplicity inputs.
  */
class KeyCheckDupSpec extends SparkTestBase {

  test("duplicate caption ids do not inflate uniqueness; twins agree") {
    import spark.implicits._
    val light = Seq(
      ("i1", "p0", 8, 8, "cap one"),
      ("i2", "p0", 8, 8, "cap two"),
      ("i3", "p1", 8, 8, "cap three"),
      ("i3", "p1", 8, 8, "cap three") // genuine duplicate image id
    ).toDF("image_id", "part", "w", "h", "caption")
    val caps = Seq(
      ("i1", "p0", "cap one"),
      ("i1", "p0", "cap one"), // duplicated caption row for a unique image
      ("i2", "p0", "cap two"),
      ("i3", "p1", "cap three")
    ).toDF("image_id", "part", "caption")

    val (verd, viol) = ImageSuite.keyChecks(light, caps, "t")
    val uniq = verd.filter(col("check") === "uniqueness_image_id")
      .select("part", "n_violations").as[(String, Long)].collect().toMap
    assert(uniq == Map("p0" -> 0L, "p1" -> 2L), s"full-outer twin got $uniq")
    assert(viol.filter(col("check") === "uniqueness_image_id").count() == 2L,
      "expected one violation row per duplicate IMAGE row")

    val empty = Seq.empty[(String, String)].toDF("image_id", "part")
    val (iv, _) = ImageSuite.incrementalKeyChecks(light, empty, caps, "t",
      Seq.empty[String].toDF("part"), Seq.empty[(String, String)].toDF("part", "image_id"))
    val iuniq = iv.filter(col("check") === "uniqueness_image_id")
      .select("part", "n_violations").as[(String, Long)].collect().toMap
    assert(iuniq == uniq, s"incremental twin $iuniq != full-outer twin $uniq")
  }
}
