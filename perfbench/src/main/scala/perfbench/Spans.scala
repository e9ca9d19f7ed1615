package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** What a workload op reports its layers through. The untraced tracer runs
  * every layer as it would run without the benchmark; the traced one
  * records a span per layer and forces the layer's result at the span
  * boundary, so the next span does not absorb its work. */
trait Tracer {
  def span[T](name: String)(f: => T): T
  /** A frame a layer returns: cached and counted when traced, so the
    * layer's work lands in its own span; passed through otherwise. */
  def boundary(df: DataFrame): DataFrame
  /** A per-op count or duration the layers report beside their spans. */
  def extra(name: String, value: Double): Unit
}

object Untraced extends Tracer {
  def span[T](name: String)(f: => T): T = f
  def boundary(df: DataFrame): DataFrame = df
  def extra(name: String, value: Double): Unit = ()
}

/** One closed span. Times are epoch milliseconds (the clock Spark stamps
  * job events with); `wallS` comes from the monotonic clock. */
final case class SpanRecord(runId: String, op: Int, name: String,
    parent: Option[String], startMs: Long, endMs: Long, wallS: Double,
    group: String)

/** Attributes Spark work to spans from outside the engine: every span runs
  * under its own job group, and this listener sums the jobs, task run
  * time, shuffle writes and spills of each group. Spans stay in memory
  * until the benchmark writes them out. */
final class SpanCollector(sc: SparkContext, runId: String)
    extends SparkListener {

  final class GroupStats {
    var jobs = 0
    var stages = 0
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val spans = mutable.ArrayBuffer.empty[SpanRecord]
  val extras = mutable.ArrayBuffer.empty[(Int, String, Double)]

  private val JobGroupKey = "spark.jobGroup.id"

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p =>
        Option(p.getProperty(JobGroupKey)))
      .foreach { g =>
        jobGroup(e.jobId) = g
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageGroup(_) = g)
        val s = stats(g)
        s.jobs += 1
        s.stages += e.stageIds.size
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.get(e.jobId).foreach { g =>
      stats(g).jobIntervals += ((jobStart(e.jobId), e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = stats(g)
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** A tracer for op number `op`; its outermost span has no parent. */
  def tracer(op: Int): Tracer = new Tracer {
    private var stack = List("")

    def span[T](name: String)(f: => T): T = {
      val parent = stack.head
      val group = s"$runId/$op/$name"
      val prevGroup = sc.getLocalProperty(JobGroupKey)
      sc.setJobGroup(group, name, interruptOnCancel = false)
      stack = name :: stack
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        val wall = (System.nanoTime() - t0) / 1e9
        val endMs = System.currentTimeMillis()
        stack = stack.tail
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevGroup, interruptOnCancel = false)
        SpanCollector.this.synchronized {
          spans += SpanRecord(runId, op, name,
            if (parent.isEmpty) None else Some(parent), startMs, endMs,
            wall, group)
        }
      }
    }

    def boundary(df: DataFrame): DataFrame = {
      val cached = df.cache()
      cached.count()
      cached
    }

    def extra(name: String, value: Double): Unit =
      SpanCollector.this.synchronized { extras += ((op, name, value)) }
  }

  /** Per-span metrics of one op, after the listener bus has drained:
    * wall, self (wall minus the time child spans cover), driver (wall
    * during which none of the span's jobs runs), task (summed executor
    * run time), jobs, shuffle write and spill bytes. */
  def metrics(op: Int): Seq[(SpanRecord, Map[String, Double])] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val mine = spans.filter(_.op == op).toSeq
      mine.map { s =>
        val g = groups.getOrElse(s.group, new GroupStats)
        val childWall = mine.filter(_.parent.contains(s.name))
          .map(_.wallS).sum
        val covered = union(g.jobIntervals.toSeq.map { case (a, b) =>
          (math.max(a, s.startMs), math.min(b, s.endMs)) }) / 1000.0
        s -> Map(
          "wall_s" -> s.wallS,
          "self_s" -> math.max(0.0, s.wallS - childWall),
          "driver_s" -> math.max(0.0, s.wallS - covered),
          "task_s" -> g.taskMs / 1000.0,
          "jobs" -> g.jobs.toDouble,
          "stages" -> g.stages.toDouble,
          "tasks" -> g.tasks.toDouble,
          "shuffle_bytes" -> g.shuffleBytes.toDouble,
          "spill_bytes" -> g.spillBytes.toDouble)
      }
    }
  }

  /** Total length of a set of [start, end) intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}
