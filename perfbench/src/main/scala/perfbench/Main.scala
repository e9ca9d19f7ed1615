package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and prints one `PERFBENCH_RESULT` JSON
  * line: set-up time, the wall time of the run's first (cold) op if it
  * passed its output checks, failures with their errors, peak RSS and
  * context. With `--trace 1` the run then alternates traced ops with their
  * untraced twins and adds the per-span metrics and the tracing overhead.
  *
  * Usage: perfbench.Main --workload W --inputs DIR --work DIR --seconds S
  *   --trace 0|1 --launch-ms T --run-id ID [--spans FILE]
  */
object Main {
  val MaxErrors = 5

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val runId = opt("run-id")
    val work = new File(opt("work"))
    work.mkdirs()

    val spark = graft.GraftSession.build("perfbench")
    // JVM start plus session build, from the moment the launcher forked us
    val sessionS = (System.currentTimeMillis() - opt("launch-ms").toLong) / 1e3
    val collector = new SpanCollector(spark.sparkContext, runId)
    if (traced) spark.sparkContext.addSparkListener(collector)
    val wl = Workload(opt("workload"), spark, new File(opt("inputs")), work)

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val out = Workload.mapper.createObjectNode()
    val errors = mutable.ArrayBuffer.empty[String]

    // ---- set-up: staging, repeated; set-up reports the median ------------
    val stageS = mutable.ArrayBuffer.empty[Double]
    val setupOk = Try((1 to wl.stageReps).foreach(_ =>
      stageS += timed(wl.stage())._2))
    setupOk.failed.foreach(e => errors += s"set-up: ${describe(e)}")
    val setupS = sessionS + median(stageS.toSeq)

    // ---- ops: closed loop, one client -----------------------------------
    // An op that threw or failed its check gets no time.
    case class OpRun(wallS: Double, ok: Boolean, quality: Double)
    val runs = mutable.ArrayBuffer.empty[OpRun]
    def runOp(label: String)(op: => OpOutput): OpRun = {
      val (res, wall) = timed(Try(op))
      val r = res.flatMap(o => Try(o.check())) match {
        case Success(q) => OpRun(wall, ok = true, q)
        case Failure(e) =>
          if (errors.size < MaxErrors) errors += s"$label: ${describe(e)}"
          OpRun(wall, ok = false, 0.0)
      }
      wl.reset()
      runs += r
      r
    }
    // The first op of a run is cold, as every CLI invocation is: it pays
    // class loading, code generation and JIT warm-up on top of its work.
    // run_s is this op. Later ops in the same JVM are warm.
    val cold = if (setupOk.isSuccess)
      Some(runOp("op 0")(wl.op(Untraced, traced = false))) else None
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val warm = mutable.ArrayBuffer.empty[OpRun]
    val tracedPairs = mutable.ArrayBuffer.empty[(Int, OpRun, OpRun)]
    if (traced && setupOk.isSuccess) {
      // traced op, then its untraced twin, until `seconds` have passed
      do {
        val n = runs.size
        val t = collector.tracer(n)
        val tr = runOp(s"op $n traced")(t.span("Op")(wl.tracedOp(t)))
        val base = runOp(s"op ${n + 1}")(wl.baselineOp())
        tracedPairs += ((n, tr, base))
      } while (elapsed < seconds)
    } else if (setupOk.isSuccess) {
      while (elapsed + cold.get.wallS < seconds)
        warm += runOp(s"op ${runs.size}")(wl.op(Untraced, traced = false))
    }
    val runS = cold.filter(_.ok).map(_.wallS).getOrElse(0.0)
    val peakRssMb = vmHwmKb() / 1024.0

    out.put("attempted", math.max(1, runs.size))
    out.put("failed", if (runs.isEmpty) 1 else runs.count(!_.ok))
    out.put("setup_s", setupS)
    out.put("run_s", runS)
    out.put("items", wl.items)
    out.put("items_per_s", if (runS > 0) wl.items / runS else 0.0)
    out.put("quality", cold.filter(_.ok).map(_.quality).getOrElse(0.0))
    out.put("peak_rss_mb", peakRssMb)
    val detail = out.putObject("detail")
    detail.put("session_s", sessionS)
    putArray(detail, "stage_s", stageS.toSeq)
    putArray(detail, "warm_op_s", warm.filter(_.ok).map(_.wallS).toSeq)
    val errs = detail.putArray("errors")
    errors.foreach(errs.add)

    if (traced) {
      val layer = out.putObject("per_layer")
      val ok = tracedPairs.filter(p => p._2.ok && p._3.ok).toSeq
      val perOp = ok.map(p => collector.metrics(p._1))
      val byMetric = perOp.flatten
        .flatMap { case (s, m) => m.map { case (k, v) => s"${s.name}.$k" -> v } }
        .groupBy(_._1)
      byMetric.foreach { case (k, vs) => layer.put(k, median(vs.map(_._2))) }
      collector.extras.filter(e => ok.exists(_._1 == e._1)).groupBy(_._2)
        .foreach { case (k, vs) => layer.put(k, median(vs.map(_._3).toSeq)) }
      val tracedS = median(ok.map(_._2.wallS))
      val baseS = median(ok.map(_._3.wallS))
      layer.put("Op.untraced_run_s", baseS)
      layer.put("Op.traced_run_s", tracedS)
      layer.put("Op.tracing_overhead_s", tracedS - baseS)
      opt.get("spans").foreach(f => writeSpans(new File(f), ok.map(_._1)
        .zip(perOp)))
    }

    // ---- context, outside every timed window ----------------------------
    val context = out.putObject("context")
    context.put("gc_s", gcSeconds())
    context.put("calib_s", calibrate(spark))
    context.put("default_parallelism", spark.sparkContext.defaultParallelism)
    context.put("nproc", Runtime.getRuntime.availableProcessors)
    context.put("loadavg_1m", Try(scala.io.Source.fromFile("/proc/loadavg")
      .mkString.split(" ")(0).toDouble).getOrElse(-1.0))
    wl.context.foreach { case (k, v) => context.put(k, v.toString) }

    println("PERFBENCH_RESULT " + Workload.mapper.writeValueAsString(out))
    spark.stop()
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def putArray(node: ObjectNode, k: String, xs: Seq[Double]): Unit = {
    val a = node.putArray(k)
    xs.foreach(a.add(_: Double))
  }

  /** Time the JVM's collectors have spent so far. */
  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }

  /** High-water resident set size of this JVM (VmHWM), in KiB. */
  private def vmHwmKb(): Double =
    Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble)
      .getOrElse(0.0)

  /** graft.Bench's machine-load calibration: a fixed codegen'd xxhash
    * aggregate over 200M generated rows, timed after the ops. */
  private def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
    val t0 = System.nanoTime()
    spark.range(0L, 200000000L, 1L, 32)
      .select(bit_xor(xxhash64(col("id")))).queryExecution.toRdd.count()
    (System.nanoTime() - t0) / 1e9
  }

  private def writeSpans(f: File,
      ops: Seq[(Int, Seq[(SpanRecord, Map[String, Double])])]): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f)
    try ops.foreach { case (_, spans) => spans.foreach { case (s, m) =>
      val o = Workload.mapper.createObjectNode()
      o.put("run_id", s.runId)
      o.put("op", s.op)
      o.put("name", s.name)
      o.put("parent", s.parent.orNull)
      o.put("start_ms", s.startMs)
      o.put("end_ms", s.endMs)
      m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
      w.println(Workload.mapper.writeValueAsString(o))
    } }
    finally w.close()
  }
}
