package graft.operators

import graft.{DedupQueries, SparkTestBase}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col

/** Large-star/small-star connected components (Kiveris et al., SoCC
  * 2014) vs min-id flooding: identical labels on planted and seeded
  * random graphs, both rungs equal to a plain-Scala union-find, O(log n)
  * rounds on a chain whose diameter defeats a round-bounded flooding,
  * unconverged (`strict = false`) output equal to a plain-Scala round
  * reference, the round's plan shape, and graceful handling of the
  * degenerate shapes (empty graph, single edge, many singleton pairs).
  */
class StarCCSpec extends SparkTestBase {

  private def pairsDf(ps: Seq[(Long, Long)]) = {
    import spark.implicits._
    ps.toDF("a_id", "b_id")
  }

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Every node of `ps` → the min id of its component, by union-find
    * that always hangs the larger root under the smaller. */
  private def unionFind(ps: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    ps.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  /** One large-star then small-star round over a directed edge set, as
    * Kiveris et al. state it. */
  private def starRoundRef(es: Set[(Long, Long)]): Set[(Long, Long)] = {
    val sym = es ++ es.map(_.swap)
    val nbrMin = sym.groupMapReduce(_._1)(_._2)(math.min)
    val large = sym.collect { case (u, v) if v > u => (v, math.min(u, nbrMin(u))) }
    large.groupMap(_._1)(_._2).toSet[(Long, Set[Long])].flatMap { case (u, vs) =>
      val m = vs.min
      vs.map(v => (v, m)) + ((u, m))
    }.filter { case (u, v) => u != v }
  }

  private val rnd = new scala.util.Random(7)
  /** `n` distinct ids in random order, so the component minimum sits
    * anywhere in a shape, not at its start. */
  private def ids(n: Int): IndexedSeq[Long] =
    rnd.shuffle((0L until 100000L).toIndexedSeq).take(n)
  private def randomGraph(v: IndexedSeq[Long], m: Int): Seq[(Long, Long)] =
    Seq.fill(m)((v(rnd.nextInt(v.size)), v(rnd.nextInt(v.size)))).filter(p => p._1 != p._2)

  private val shapes: Seq[(String, Seq[(Long, Long)])] = Seq(
    "chain" -> { val v = ids(30); v.zip(v.tail) },
    "star" -> { val v = ids(40); v.tail.map(v.head -> _) },
    "dense graph" -> randomGraph(ids(25), 200),
    "multi-component graph" -> (1 to 6).flatMap(_ => randomGraph(ids(12), 14)),
    "graph with reversed and duplicate pairs" -> {
      val g = randomGraph(ids(50), 60)
      g ++ g.take(20).map(_.swap) ++ g.take(15)
    })

  for ((name, ps) <- shapes)
    test(s"both rungs equal a union-find reference on a seeded $name") {
      val expected = unionFind(ps)
      val df = pairsDf(ps)
      assert(labels(DedupQueries.connectedComponents(df)) == expected, "flooding")
      assert(labels(DedupQueries.connectedComponentsStar(df)) == expected, "star")
    }

  test("unconverged star output (strict = false) equals the plain-Scala rounds") {
    val chain = (0L until 200L).map(i => (i, i + 1))
    val df = pairsDf(chain)
    for (k <- 1 to 3) {
      val edges = Iterator.iterate(chain.toSet)(starRoundRef).drop(k).next()
      val centers = edges.map(_._2) -- edges.map(_._1)
      val expected = (edges ++ centers.map(c => (c, c))).toSeq.sorted
      val got = DedupQueries.connectedComponentsStar(df, maxIters = k, strict = false)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == expected, s"maxIters = $k")
    }
  }

  test("a star round plans at most three exchanges and no join") {
    val edges = pairsDf(Seq((1L, 2L), (2L, 3L), (5L, 4L)))
      .select(col("a_id").as("u"), col("b_id").as("v")).localCheckpoint()
    val round = DedupQueries.starRound(edges)
    assert(round.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      starRoundRef(Set((1L, 2L), (2L, 3L), (5L, 4L))))
    // operators of the executed plan, through AQE wrappers and stages
    def ops(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => ops(a.executedPlan)
      case q: QueryStageExec => ops(q.plan)
      case other => other.children.flatMap(ops)
    })
    val plan = ops(round.queryExecution.executedPlan)
    assert(!plan.exists(_.isInstanceOf[BaseJoinExec]), plan.head)
    assert(plan.count(_.isInstanceOf[Exchange]) <= 3, plan.head)
  }

  test("star equals flooding on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300) {
      val a = rnd.nextInt(100).toLong; val b = rnd.nextInt(100).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val df = pairsDf(edges)
    val flood = labels(DedupQueries.connectedComponents(df))
    val star = labels(DedupQueries.connectedComponentsStar(df))
    assert(star == flood, "star labels must equal flooding labels exactly")
  }

  test("chain of diameter 200: star converges where round-bounded flooding cannot") {
    val chain = (0L until 200L).map(i => (i, i + 1))
    val df = pairsDf(chain)
    // flooding needs O(diameter) rounds — at maxIters=8 it MUST refuse
    intercept[IllegalArgumentException] {
      DedupQueries.connectedComponents(df, maxIters = 8).collect()
    }
    // star contraction: strict convergence well inside 15 rounds
    val star = labels(DedupQueries.connectedComponentsStar(df, maxIters = 15))
    assert(star.keySet == (0L to 200L).toSet)
    assert(star.values.toSet == Set(0L), "one component rooted at the min id")
  }

  test("multiple components, single edge, and empty graph") {
    val df = pairsDf(Seq((10L, 20L), (20L, 30L), (5L, 7L), (100L, 101L)))
    val star = labels(DedupQueries.connectedComponentsStar(df))
    assert(star == Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      5L -> 5L, 7L -> 5L, 100L -> 100L, 101L -> 100L))
    assert(DedupQueries.connectedComponentsStar(pairsDf(Seq.empty)).count() == 0)
  }

  test("star components over the real banded pair graph match flooding") {
    val sh = DedupQueries.queries("q_dedup_simhash64_expr")(spark, "/root/testdata/sf0.001")
    val pairs = DedupQueries.bandedSimhashPairs(sh, blocks = 4, maxHamming = 16)
      .localCheckpoint()
    val flood = labels(DedupQueries.connectedComponents(pairs))
    val star = labels(DedupQueries.connectedComponentsStar(pairs))
    assert(star == flood)
  }
}
