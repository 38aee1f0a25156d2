package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced call into a layer: name, wall interval, the span that
  * caused it and the request it served (-1 when it served none). */
final case class Span(id: Int, name: String, parent: Int, req: Long,
                      startMs: Long, endMs: Long, nanos: Long) {
  def wallS: Double = nanos / 1e9
}

/** What Spark ran for a set of spans, from the listener's stage and task
  * records. `skew` is max/median task time of the heaviest stage;
  * `gapS` is span wall time that no stage interval covers (driver work,
  * planning, scheduling barriers). */
final case class SpanStats(wallS: Double, jobs: Int, stages: Int, tasks: Int,
                           skew: Double, shuffleWriteB: Long,
                           shuffleReadB: Long, spillB: Long, gapS: Double)

/** Outside-in tracing. Every span runs its calls under its own Spark job
  * group; a listener registered on each SparkContext files stage and task
  * records under the group that submitted them. Spans are kept in memory
  * and written out when the run ends. With `on = false` a span only runs
  * its body: timed runs carry no listener and set no job groups. */
final class Tracer(val on: Boolean) {
  private final class StageRec {
    var submittedMs = 0L
    var completedMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }
  private final class GroupRec {
    var jobs = 0
    val stages = mutable.ArrayBuffer.empty[StageRec]
  }

  private val Prefix = "perfbench-"
  // the local property setJobGroup writes
  private val JobGroup = "spark.jobGroup.id"
  private val lock = new Object
  private val groups = mutable.HashMap.empty[Int, GroupRec]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var sc: SparkContext = _
  private var listener: Listener = _

  /** Records stage and task events of this context's perfbench groups.
    * Stage ids restart with every context, hence one listener each. */
  private final class Listener extends SparkListener {
    private val stageGroup = mutable.HashMap.empty[Int, Int]
    private val live = mutable.HashMap.empty[Int, StageRec]

    private def groupOf(p: java.util.Properties): Option[Int] =
      Option(p).flatMap(x => Option(x.getProperty(JobGroup)))
        .filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix).toInt)

    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      groupOf(e.properties).foreach { g =>
        groups.getOrElseUpdate(g, new GroupRec).jobs += 1
        e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        val id = e.stageInfo.stageId
        groupOf(e.properties).orElse(stageGroup.get(id)).foreach { g =>
          stageGroup(id) = g
          val r = new StageRec
          r.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
          groups.getOrElseUpdate(g, new GroupRec).stages += r
          live(id) = r
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      live.get(e.stageId).foreach { r =>
        val m = e.taskMetrics
        if (m != null) {
          r.taskMs += m.executorRunTime
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.spill += m.diskBytesSpilled
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        live.remove(e.stageInfo.stageId).foreach { r =>
          r.completedMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
        }
      }
  }

  /** Follow a new SparkContext (sessions are restarted to change width). */
  def attach(context: SparkContext): Unit = {
    sc = context
    if (on) {
      listener = new Listener
      context.addSparkListener(listener)
    }
  }

  /** Run `body` with the listener detached and no job group set, after the
    * listener has seen every event posted so far. */
  def off[T](body: => T): T =
    if (!on) body
    else {
      drain()
      sc.removeSparkListener(listener)
      try body
      finally sc.addSparkListener(listener)
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (on && sc != null) org.apache.spark.PerfbenchBus.drain(sc)

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val outer = sc.getLocalProperty(JobGroup)
      sc.setJobGroup(Prefix + id, name, interruptOnCancel = false)
      stack = id :: stack
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val nanos = System.nanoTime() - t0
        lock.synchronized {
          spans += Span(id, name, parent, req, startMs, System.currentTimeMillis(), nanos)
        }
        stack = stack.tail
        if (outer == null) sc.clearJobGroup()
        else sc.setJobGroup(outer, "", interruptOnCancel = false)
      }
    }

  def named(name: String): Seq[Span] = lock.synchronized(spans.filter(_.name == name).toSeq)

  /** Spans called `name` whose parent span is called `parent`. */
  def under(parent: String, name: String): Seq[Span] = lock.synchronized {
    val parents = spans.filter(_.name == parent).map(_.id).toSet
    spans.filter(s => s.name == name && parents(s.parent)).toSeq
  }

  /** Stats of one span, counting the stages of its descendants too. */
  def stats(s: Span): SpanStats = lock.synchronized {
    val children = spans.groupBy(_.parent)
    def ids(id: Int): Seq[Int] = id +: children.getOrElse(id, Nil).toSeq.flatMap(c => ids(c.id))
    val recs = ids(s.id).flatMap(groups.get)
    val stages = recs.flatMap(_.stages)
    val heaviest = stages.filter(_.taskMs.nonEmpty).sortBy(-_.taskMs.sum).headOption
    val skew = heaviest.map { r =>
      val t = r.taskMs.sorted
      val med = t(t.length / 2)
      if (med <= 0) t.last.toDouble.max(1.0) else t.last.toDouble / med
    }.getOrElse(1.0)
    // stage-covered time inside the span: union of clipped intervals
    val iv = stages.map(r => (math.max(r.submittedMs, s.startMs),
                              math.min(if (r.completedMs > 0) r.completedMs else s.endMs, s.endMs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    SpanStats(s.wallS, recs.map(_.jobs).sum, stages.length,
              stages.map(_.taskMs.length).sum, skew,
              stages.map(_.shuffleWrite).sum, stages.map(_.shuffleRead).sum,
              stages.map(_.spill).sum,
              math.max(0.0, s.wallS - covered / 1000.0))
  }

  /** JSON lines, one span each, with its Spark stats. */
  def write(path: java.nio.file.Path): Unit = if (on) {
    val lines = lock.synchronized(spans.sortBy(_.id).toSeq).map { s =>
      val st = stats(s)
      Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
        "jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks,
        "task_skew" -> st.skew, "shuffle_write_b" -> st.shuffleWriteB,
        "shuffle_read_b" -> st.shuffleReadB, "spill_b" -> st.spillB,
        "driver_gap_s" -> st.gapS))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
