package graftbench

import graft.images.ImageGen

import java.nio.file.{Files, Paths}

/** Tests of the benchmark's own arithmetic and of its seeded generator:
  *
  *   python3 graftbench/run.py --self-test
  *
  * Exits non-zero on the first failed check.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => Console.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    check("median of odd and even samples") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }
    check("union of job intervals counts overlaps and nesting once") {
      Stats.unionLength(Seq((10L, 30L), (20L, 40L), (25L, 35L), (50L, 60L)), 0L, 100L) == 40L
    }
    check("union of job intervals clips to the span") {
      Stats.unionLength(Seq((-10L, 5L), (90L, 120L), (200L, 300L)), 0L, 100L) == 15L &&
        Stats.unionLength(Nil, 0L, 100L) == 0L
    }
    check("driver time is wall minus the union of job intervals") {
      Stats.driverTime(0L, 100L, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60L &&
        Stats.driverTime(0L, 100L, Seq((0L, 100L), (10L, 20L))) == 0L
    }
    check("self time is wall minus the children's cover") {
      Stats.selfTime(100L, 200L, Seq((110L, 150L), (140L, 160L))) == 50L &&
        Stats.selfTime(100L, 200L, Nil) == 100L
    }
    check("tail: the highest percentile with ten samples beyond it") {
      val xs = (1 to 100).map(_.toDouble)
      val (p, v, n) = Stats.tail(xs)
      close(p, 90.0) && v == 90.0 && n == 10 && xs.count(_ > v) == 10
    }
    check("tail: eleven samples put the tail at the smallest") {
      val (p, v, n) = Stats.tail((1 to 11).map(_.toDouble).reverse)
      close(p, 100.0 / 11) && v == 1.0 && n == 10
    }
    check("tail: too few samples report the maximum with none beyond") {
      Stats.tail(Seq(2.0, 5.0, 3.0)) == ((100.0, 5.0, 0))
    }
    check("task skew is max over median, floored at 1 ms") {
      close(Stats.skew(Seq(10L, 10L, 40L)), 4.0) && Stats.skew(Nil) == 1.0 &&
        Stats.skew(Seq(0L, 0L)) == 1.0 && close(Stats.skew(Seq(0L, 0L, 3L)), 3.0)
    }
    check("seed offsets are deterministic, distinct and keep ids 12 digits wide") {
      val offs = (0L until 50L).map(Tiers.offset)
      offs == (0L until 50L).map(Tiers.offset) && offs.distinct.size == 50 &&
        offs.forall(o => o > 0 && ImageGen.idStr(o + 1000000).length == 16)
    }
    check("per-ordinal generation repeats exactly for one seed") {
      val t = Tier(Tiers.DefaultSeed, 300, 8)
      val a = (t.first until t.until).map(ImageGen.genRow(_, t.parts))
      val b = (t.first until t.until).map(ImageGen.genRow(_, t.parts))
      a.zip(b).forall { case (x, y) =>
        x.copy(bytes = null) == y.copy(bytes = null) &&
          java.util.Arrays.equals(x.bytes, y.bytes)
      } && Tiers.captions(t) == Tiers.captions(t)
    }
    check("a tier written twice for one seed is the same, file for file") {
      val root = Files.createTempDirectory("graftbench-selftest")
      try {
        val t = Tier(Tiers.DefaultSeed, 400, 4)
        val a = Paths.get(Tiers.ensure(root.resolve("a").toString, t)._1)
        val b = Paths.get(Tiers.ensure(root.resolve("b").toString, t)._1)
        def files(d: java.nio.file.Path) = {
          val s = Files.walk(d)
          try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
            .map(d.relativize(_).toString).filter(_ != "_DONE").sorted.toSeq
          finally s.close()
        }
        files(a).nonEmpty && files(a) == files(b) && files(a).forall(f =>
          java.util.Arrays.equals(Files.readAllBytes(a.resolve(f)), Files.readAllBytes(b.resolve(f))))
      } finally Work.delete(root)
    }
    check("two seeds give disjoint ids") {
      val a = Tier(Tiers.DefaultSeed, 300, 8)
      val b = Tier(Tiers.ConfirmSeed, 300, 8)
      (Tiers.captions(a).map(_.image_id).toSet & Tiers.captions(b).map(_.image_id).toSet).isEmpty
    }
    check("expectations are the same for the same seed") {
      val t = Tier(Tiers.DefaultSeed, 3000, 8)
      val e1 = new Expect(t, Array.empty, Tiers.captions(t))
      val e2 = new Expect(t, Array.empty, Tiers.captions(t))
      e1.plantedPairs.nonEmpty && e1.plantedPairs == e2.plantedPairs
    }
    check("BENCHMARK.json lists exactly the harness's metrics") {
      val p = Paths.get("BENCHMARK.json")
      val names = "\"name\":\\s*\"([^\"]+)\"".r
        .findAllMatchIn(Files.readString(p)).map(_.group(1)).toSeq
      val workloads = Workloads.all.map(_.name)
      names == workloads ++ Main.EndToEnd.map(_._1) ++ Main.PerLayer.map(_._1)
    }
    if (failures > 0) {
      println(s"$failures self-test(s) failed")
      sys.exit(1)
    }
    println("all self-tests passed")
  }
}
