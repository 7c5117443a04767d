package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed call into a layer. Times are microseconds on an epoch-aligned
  * monotonic clock, so they compare with Spark's job event times.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Long, end: Long) {
  def wallS: Double = (end - start) / 1e6
}

/** Per-span-instance Spark work, inclusive of child spans. */
final case class SpanStats(span: Span, taskS: Double, gcS: Double, driverS: Double,
                           jobs: Int, shuffleMb: Double, spillMb: Double,
                           taskSkew: Double, selfS: Double)

/** Spark listener that folds job, stage and task metrics into the span that
  * launched them. A span is identified by a local property set on the
  * driver thread while it is open; Spark copies local properties into every
  * job and stage event, so attribution does not depend on when the
  * listener bus delivers the event.
  */
final class SpanListener extends SparkListener {
  import SpanListener._

  final class Acc {
    var taskMs = 0L; var gcMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  }

  // all mutation happens on the listener-bus thread; read after drain
  val jobs = mutable.Map[Int, (Int, Long, Long)]() // job → (span, start µs, end µs)
  val stageSpan = mutable.Map[Int, Int]()
  val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val acc = mutable.Map[Int, Acc]()

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(Prop))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      jobs(e.jobId) = (s, e.time * 1000L, Long.MaxValue)
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (s, a, _) => jobs(e.jobId) = (s, a, e.time * 1000L) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach(stageSpan(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageSpan.get(e.stageId).foreach { s =>
      val a = acc.getOrElseUpdate(s, new Acc)
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }
}

object SpanListener {
  val Prop = "graftbench.span"
}

/** Records spans around calls into the engine's layers. Spans are kept in
  * memory; [[stats]] folds the listener's counters into them once the run
  * is over, and [[Main]] writes both out.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  val listener = new SpanListener
  sc.addSparkListener(listener)

  private val baseMicros = System.currentTimeMillis() * 1000L
  private val baseNanos = System.nanoTime()
  def now: Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L

  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def spans: Seq[Span] = done.toSeq

  /** Time `f` as one span named `name`, nested under the open span. */
  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val outer = sc.getLocalProperty(SpanListener.Prop)
    sc.setLocalProperty(SpanListener.Prop, id.toString)
    stack = id :: stack
    val start = now
    try f
    finally {
      val end = now
      stack = stack.tail
      sc.setLocalProperty(SpanListener.Prop, outer)
      done += Span(id, name, parent, runId, start, end)
    }
  }

  /** Drain the listener bus, detach, and fold counters into every span. */
  def stats(): Seq[SpanStats] = {
    org.apache.spark.GraftBenchBus.drain(sc)
    sc.removeSparkListener(listener)
    val l = listener
    l.synchronized {
      val children = done.groupBy(_.parent)
      def subtree(id: Int): Seq[Int] =
        id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id)).toSeq
      done.toSeq.map { s =>
        val ids = subtree(s.id).toSet
        val accs = ids.toSeq.flatMap(l.acc.get)
        val jobIv = l.jobs.values.collect {
          case (sp, a, b) if ids.contains(sp) => (a, math.min(b, s.end))
        }.toSeq
        val stages = l.stageSpan.collect { case (st, sp) if ids.contains(sp) => st }
        val largest = stages.flatMap(l.stageTasks.get).toSeq
          .sortBy(ts => -ts.sum).headOption.map(_.toSeq).getOrElse(Nil)
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
        SpanStats(s,
          taskS = accs.map(_.taskMs).sum / 1e3,
          gcS = accs.map(_.gcMs).sum / 1e3,
          driverS = Stats.driverTime(s.start, s.end, jobIv) / 1e6,
          jobs = jobIv.size,
          shuffleMb = accs.map(_.shuffleBytes).sum / 1048576.0,
          spillMb = accs.map(_.spillBytes).sum / 1048576.0,
          taskSkew = Stats.skew(largest),
          selfS = Stats.selfTime(s.start, s.end, kids) / 1e6)
      }
    }
  }
}
