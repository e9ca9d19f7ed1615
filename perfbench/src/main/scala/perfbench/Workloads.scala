package perfbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

import graft.Cli
import graft.ops.{CleanPipeline, LlmBoundary, Packing, Sampling, VectorSearch}
import graft.trace._

/** An output check that did not hold: the op counts as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What one op produced, for its output check. */
trait OpOutput {
  /** Throws [[CheckFailed]] unless every output is correct; returns the
    * op's `quality` figure. */
  def check(): Double
}

/** One benchmark workload over generated inputs in `inputs`, with scratch
  * space (the table store) in `work`. */
abstract class Workload(val spark: SparkSession, val inputs: File,
    val work: File) {
  /** Engine-side staging of the generated inputs; part of set-up. */
  def stage(): Unit
  /** How many times set-up stages the inputs (set-up reports the median). */
  def stageReps: Int = 3
  /** Items one op processes (events, documents or query answers). */
  def items: Long
  /** One op, closed loop: the next starts when this one returns. With
    * `traced`, the layers are called one at a time inside spans. */
  def op(t: Tracer, traced: Boolean): OpOutput
  /** The op a traced run traces, and its untraced twin that the tracing
    * overhead is measured against. */
  def tracedOp(t: Tracer): OpOutput = op(t, traced = true)
  def baselineOp(): OpOutput = op(Untraced, traced = false)
  /** Between ops, outside the timed window. */
  def reset(): Unit = {
    spark.catalog.clearCache()
    Workload.delete(store)
  }
  /** Facts beside the metrics (not gated). */
  def context: Map[String, Any] = Map.empty

  val store = new File(work, "store")
  lazy val ctx = Cli.Ctx(spark, store.getPath)
  protected def require(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)
  protected def cli(args: String*): Unit = {
    val code = Cli.run(("--db" +: store.getPath +: args).toArray, Some(spark))
    if (code != 0) throw new RuntimeException(s"Cli ${args.head} exit $code")
  }
}

object Workload {
  val mapper = new ObjectMapper()
  def json(f: File): JsonNode = mapper.readTree(f)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** Bytes of the parquet data files under `dir`. */
  def parquetBytes(dir: File): Long =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten
      .map(parquetBytes).sum
    else if (dir.getName.endsWith(".parquet")) dir.length() else 0L

  def apply(name: String, spark: SparkSession, inputs: File,
      work: File): Workload = name match {
    case "trace_diagnose" => new TraceDiagnose(spark, inputs, work)
    case "train_data" => new TrainData(spark, inputs, work)
    case other => throw new IllegalArgumentException(s"no workload $other")
  }
}

/** Raw trace logs -> events -> derived tables, into a fresh store. */
final class TraceIngest(spark: SparkSession, inputs: File, work: File)
    extends Workload(spark, inputs, work) {
  private val manifest = Workload.json(new File(inputs, "manifest.json"))
  private val logs = new File(inputs, "logs").getPath
  private var files: Seq[String] = Nil

  def stage(): Unit = {
    files = TraceEvents.discover(logs)
    require(files.size == manifest.get("files").size,
      s"discovered ${files.size} log files")
  }
  def items: Long = manifest.get("events_rows").asLong

  def op(t: Tracer, traced: Boolean): OpOutput = {
    if (!traced) {
      cli("load", logs, "--all")
      cli("rollup", "--interval", "60")
    } else {
      // Cli.load's sequence, one layer at a time
      // the count forces the cached frame, so parsing lands in this span
      val events = t.span("TraceEvents.loadAll") {
        val ev = TraceEvents.loadAll(spark, files).cache()
        t.extra("TraceEvents.loadAll.rows_out", ev.count().toDouble)
        ev
      }
      t.span("Cli.Ctx.write.events")(ctx.write(events, "events"))
      val metrics = DerivedTables.eventMetrics(events)
      t.span("DerivedTables.eventMetrics")(ctx.write(metrics, "event_metrics"))
      t.span("DerivedTables.eventsWide")(
        ctx.write(DerivedTables.eventsWide(events), "events_wide"))
      ctx.write(DerivedTables.processes(events), "processes")
      ctx.write(DerivedTables.processRoles(events), "process_roles")
      t.span("DerivedTables.metricBaselines")(ctx.write(
        DerivedTables.metricBaselines(metrics, minCount = 5),
        "metric_baselines"))
      events.count()
      t.span("DerivedTables.rollups")(ctx.write(
        DerivedTables.rollups(ctx.read("event_metrics"), 60), "rollups_60s"))
    }
    () => {
      val events = ctx.read("events").count()
      val metrics = ctx.read("event_metrics").count()
      require(events == manifest.get("events_rows").asLong,
        s"events has $events rows, manifest says " +
          manifest.get("events_rows").asLong)
      require(metrics == manifest.get("event_metrics_rows").asLong,
        s"event_metrics has $metrics rows, manifest says " +
          manifest.get("event_metrics_rows").asLong)
      // processes/process_roles key on Address, which FDB events lack (the
      // reference's dead Machine fallback), so they are legitimately empty
      Seq("events_wide", "metric_baselines", "rollups_60s").foreach { tbl =>
        require(ctx.read(tbl).count() > 0, s"$tbl is empty")
      }
      val stored = Workload.parquetBytes(store)
      lastStoreBytes = stored
      manifest.get("raw_bytes").asDouble / stored
    }
  }
  private var lastStoreBytes = 0L
  override def context: Map[String, Any] = Map(
    "raw_bytes" -> manifest.get("raw_bytes").asLong,
    "store_bytes" -> lastStoreBytes,
    "store_bytes_per_input_byte" ->
      lastStoreBytes.toDouble / manifest.get("raw_bytes").asDouble)
}

/** Detector battery, rollback scan, timeline and the RCA loop over a store
  * that set-up builds with the ingest code ([[TraceIngest]]), so ingest
  * cost lands in set-up and read cost in the op. The traced op covers both:
  * ingest layers, then diagnosis layers. */
final class TraceDiagnose(spark: SparkSession, inputs: File, work: File)
    extends Workload(spark, inputs, work) {
  private val ingest = new TraceIngest(spark, inputs, work)
  private var ingestS = 0.0
  private val manifest = Workload.json(new File(inputs, "manifest.json"))
  private val faults = manifest.get("faults").asScala.toSeq
  private val sc = spark.sparkContext
  private val llmCalls = sc.longAccumulator("llm.calls")
  private val llmNanos = sc.longAccumulator("llm.nanos")
  private val prompts = sc.collectionAccumulator[String]("llm.prompts")
  private val llm = new TimedLlmClient(new LlmBoundary.StubClient,
    llmCalls, llmNanos, prompts)
  override def stageReps: Int = 1

  def stage(): Unit = {
    ingest.reset()
    ingest.stage()
    val t0 = System.nanoTime()
    val built = ingest.op(Untraced, traced = false)
    ingestS = (System.nanoTime() - t0) / 1e9
    built.check()
    spark.catalog.clearCache()
  }
  // the store persists across ops; only caches are dropped between them
  override def reset(): Unit = spark.catalog.clearCache()
  def items: Long = manifest.get("events_rows").asLong

  override def tracedOp(t: Tracer): OpOutput = {
    ingest.reset()
    val built = ingest.op(t, traced = true)
    val diagnosed = op(t, traced = true)
    () => { built.check(); diagnosed.check() }
  }
  override def baselineOp(): OpOutput = {
    ingest.reset()
    val built = ingest.op(Untraced, traced = false)
    val diagnosed = op(Untraced, traced = false)
    () => { built.check(); diagnosed.check() }
  }
  override def context: Map[String, Any] = ingest.context ++ Map(
    "ingest_s" -> ingestS, "ingest_events_per_s" -> items / ingestS,
    "rca_iterations" -> rcaIterations)

  /** The registered trace_rca_loop configuration (5 iterations, 3 LLM
    * calls), except that the loop never stops on confidence: the stub's
    * confidence is a hash of the prompt, so stopping on it would make the
    * op's work depend on the seed. */
  private val RcaConfig = RcaLoop.Config(maxIterations = 5, maxLlmCalls = 3,
    confidenceThreshold = 1.01)
  private var rcaIterations = 0

  def op(t: Tracer, traced: Boolean): OpOutput = {
    Seq(llmCalls, llmNanos).foreach(_.reset())
    prompts.reset()
    val events = t.span("Cli.Ctx.read.events")(
      t.boundary(ctx.read("events").cache()))
    val battery = t.span("Detectors.battery") {
      val baselines = DerivedTables.metricBaselines(
        DerivedTables.eventMetrics(events), minCount = 5)
      Detectors.battery(events, baselines).collect()
    }
    val rollback = t.span("GlobalScanner.rollbackStatus")(
      GlobalScanner.rollbackStatus(events).collect())
    val timeline = t.span("TimelineBuilder.build")(
      TimelineBuilder.build(events).collect())
    val loop = t.span("RcaLoop.investigate")(
      RcaLoop.investigate(events, "Diagnose the FDB failure", llm,
        RcaConfig).collect())
    rcaIterations = loop.length
    t.extra("RcaLoop.investigate.iterations", loop.length.toDouble)
    t.extra("LlmBoundary.complete.calls", llmCalls.value.toDouble)
    t.extra("LlmBoundary.complete.wall_s", llmNanos.value / 1e9)
    val lastPrompt = prompts.value.asScala.lastOption.getOrElse("")
    () => check(battery, rollback.head, timeline.head, lastPrompt)
  }

  private def check(battery: Array[Row], rollback: Row, timeline: Row,
      lastPrompt: String): Double = {
    val byName = battery.map(r =>
      r.getAs[String]("detector") ->
        (r.getAs[Boolean]("detected"), r.getAs[Long]("count"))).toMap
    val injected = faults.map(f =>
      f.get("detector").asText -> f.get("expected_hits").asLong).toMap
    injected.keys.filter(_ != "rollback").foreach { d =>
      require(byName.contains(d), s"battery has no $d row")
    }
    byName.foreach { case (d, (detected, n)) =>
      injected.get(d) match {
        case Some(hits) => require(detected && n == hits,
          s"detector $d: detected=$detected n=$n, injected $hits hits")
        case None => require(!detected,
          s"detector $d fired on background traffic (n=$n)")
      }
    }
    val drops = injected("rollback")
    require(rollback.getAs[Long]("num_drops") == drops,
      s"rollbackStatus.num_drops=${rollback.getAs[Long]("num_drops")}, " +
        s"injected $drops")
    def epoch(c: String) = Option(timeline.getAs[java.sql.Timestamp](c))
      .map(_.getTime / 1000).getOrElse(-1L)
    require(epoch("first_lag_100k_ts") ==
      manifest.get("first_lag_100k_epoch").asLong,
      s"timeline first_lag_100k_ts=${epoch("first_lag_100k_ts")}")
    require(epoch("first_recovery_ts") ==
      manifest.get("first_recovery_epoch").asLong,
      s"timeline first_recovery_ts=${epoch("first_recovery_ts")}")
    // a fault is recalled when its detector fired AND its evidence line
    // reached the last prompt the loop sent to the model
    val evidence = injected.map { case (d, hits) =>
      d -> (if (d == "rollback") s"rollback_analysis: detected=true drops=$hits"
            else s"detector:$d: detected=true n=$hits")
    }
    val recalled = evidence.count { case (d, line) =>
      (d == "rollback" || byName.get(d).exists(_._1)) &&
        lastPrompt.split("\n").contains(line)
    }
    require(recalled == evidence.size,
      s"last prompt carries ${recalled} of ${evidence.size} injected " +
        "detectors' evidence lines")
    recalled.toDouble / evidence.size
  }
}

/** The LLM client the RCA loop calls, timed: it runs inside executor tasks,
  * so calls, wall time and prompts come back through accumulators. */
final class TimedLlmClient(inner: LlmBoundary.LlmClient,
    calls: LongAccumulator, nanos: LongAccumulator,
    prompts: CollectionAccumulator[String]) extends LlmBoundary.LlmClient {
  def complete(ps: Seq[String]): Seq[String] = {
    val t0 = System.nanoTime()
    try inner.complete(ps)
    finally {
      calls.add(1)
      nanos.add(System.nanoTime() - t0)
      ps.foreach(prompts.add)
    }
  }
}

/** Documents -> clean -> split -> sample -> pack. */
final class DocPrep(spark: SparkSession, inputs: File, work: File)
    extends Workload(spark, inputs, work) {
  private val manifest = Workload.json(new File(inputs, "manifest.json"))
  private val docsPath = new File(work, "docs.parquet").getPath
  private val evalPath = new File(work, "eval.parquet").getPath
  private val Budget = 512L
  private val SampleBudget = 100000L
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("source", StringType),
    StructField("lang", StringType)))

  def stage(): Unit = {
    Seq("docs" -> docsPath, "eval" -> evalPath).foreach { case (n, out) =>
      spark.read.schema(schema).json(new File(inputs, s"$n.jsonl").getPath)
        .write.mode("overwrite").parquet(out)
    }
  }
  def items: Long = manifest.get("n_docs").asLong

  def op(t: Tracer, traced: Boolean): OpOutput = {
    val kept = ctx.path("clean_docs")
    if (!traced) {
      cli("clean", docsPath, "--eval", evalPath)
      cli("split", kept)
      cli("sample", kept, "--budget", SampleBudget.toString)
      cli("pack", kept, "--examples")
    } else {
      // Cli's clean / split / sample / pack, one layer at a time
      val docs = spark.read.parquet(docsPath)
      t.span("CleanPipeline.decisions")(ctx.write(
        CleanPipeline.decisions(docs, spark.read.parquet(evalPath)),
        "clean_decisions"))
      val decided = ctx.read("clean_decisions")
      ctx.write(docs.join(decided.filter(col("keep") === 1)
        .select("doc_id"), "doc_id"), "clean_docs")
      ctx.write(CleanPipeline.report(decided).orderBy("source"),
        "clean_report")
      docs.unpersist()
      t.span("Sampling.deterministicSplit")(ctx.write(
        Sampling.deterministicSplit(spark.read.parquet(kept))
          .select("doc_id", "h", "split"), "doc_splits"))
      val tokens = spark.read.parquet(kept).withColumn("n_tokens",
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long"))
      t.span("Sampling.tokenBudgetSample")(ctx.write(
        Sampling.tokenBudgetSample(tokens, "lang", "n_tokens", SampleBudget),
        "doc_sample"))
      t.span("Packing.packGreedy")(ctx.write(
        Packing.packGreedy(tokens, idCol = "doc_id", tokensCol = "n_tokens",
          budget = Budget, buckets = 8), "packed"))
      ctx.write(ctx.read("packed")
        .join(tokens.select("doc_id", "text", "n_tokens"), "doc_id")
        .groupBy("bucket", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          concat_ws("|", transform(array_sort(collect_list(col("doc_id"))),
            x => x.cast("string"))).as("doc_ids"),
          concat_ws("\n\n", transform(array_sort(collect_list(
            struct(col("doc_id"), col("text")))),
            s => s.getField("text"))).as("example_text")),
        "packed_examples")
    }
    () => check()
  }

  private def ids(field: String): Seq[Long] =
    manifest.get(field).asScala.map(_.asLong).toSeq

  private def check(): Double = {
    val keep = ctx.read("clean_decisions").select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    require(keep.size == items, s"clean_decisions has ${keep.size} docs")
    for ((field, want) <- Seq("exact_duplicate_ids" -> 0,
        "contaminated_ids" -> 0, "unique_ids" -> 1)) {
      val wrong = ids(field).filter(id => !keep.get(id).contains(want))
      require(wrong.isEmpty, s"${wrong.size} of ${field.stripSuffix("_ids")}" +
        s" docs not ${if (want == 1) "kept" else "dropped"}, e.g. " +
        wrong.take(3).mkString(","))
    }
    val kept = keep.count(_._2 == 1)
    val packed = ctx.read("packed").groupBy("doc_id").count()
    val once = packed.filter(col("count") === 1).count()
    require(packed.count() == kept && once == kept,
      s"$kept kept docs, ${packed.count()} packed, $once exactly once")
    Seq("doc_splits", "doc_sample").foreach { tbl =>
      val n = ctx.read(tbl).count()
      require(n == kept, s"$tbl has $n rows for $kept kept docs")
    }
    val bins = ctx.read("packed_examples")
      .select("n_docs", "total_tokens").collect()
    val over = bins.count(r => r.getLong(1) > Budget && r.getLong(0) != 1)
    require(over == 0, s"$over bins over the $Budget-token budget")
    bins.map(r => math.min(r.getLong(1), Budget)).sum.toDouble /
      (bins.length * Budget)
  }
}

/** Top-10 for a query batch through five ANN entry points. */
final class AnnSearch(spark: SparkSession, inputs: File, work: File)
    extends Workload(spark, inputs, work) {
  private val truth = Workload.json(new File(inputs, "truth.json"))
  private val dim = truth.get("dim").asInt
  private val n = truth.get("n").asInt
  private val exact: Map[Long, Set[Long]] = truth.get("top10").fields.asScala
    .map(e => e.getKey.toLong -> e.getValue.asScala.map(_.asLong).toSet)
    .toMap
  private val corpusPath = new File(work, "corpus.parquet").getPath
  private val queriesPath = new File(work, "queries.parquet").getPath
  private var recalls = Map.empty[String, Double]

  private def vectors(file: String, firstId: Long): DataFrame = {
    val bytes = Files.readAllBytes(new File(inputs, file).toPath)
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      .asDoubleBuffer()
    val rows = (0 until buf.capacity / dim).map { i =>
      val v = new Array[Double](dim)
      buf.get(v)
      Row(firstId + i, v.toSeq)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("id", LongType), StructField("vec",
        ArrayType(DoubleType, containsNull = false)))))
  }

  def stage(): Unit = {
    // VectorSearch expects its native functions (graft_dot, ...) in the
    // session registry; the registered emb_* queries register them the
    // same way before calling it
    graft.functions.GraftFunctions.register(spark)
    vectors("corpus.f64", 0L).write.mode("overwrite").parquet(corpusPath)
    vectors("queries.f64", truth.get("query_id_base").asLong)
      .write.mode("overwrite").parquet(queriesPath)
  }
  def items: Long = exact.size.toLong * Entries.size
  override def reset(): Unit = spark.catalog.clearCache()

  private val Entries: Seq[(String, (DataFrame, DataFrame, Int) => DataFrame)] =
    Seq(
      "VectorSearch.annCosine" -> ((c, q, d) =>
        VectorSearch.annCosine(c, q, "id", "vec", dim = d, k = 10)),
      "VectorSearch.ivfCosine" -> ((c, q, _) =>
        VectorSearch.ivfCosine(c, q, "id", "vec", k = 10)),
      "VectorSearch.ivfCosineInt8" -> ((c, q, _) =>
        VectorSearch.ivfCosineInt8(c, q, "id", "vec", k = 10)),
      "VectorSearch.pqTopK" -> ((c, q, d) =>
        VectorSearch.pqTopK(c, q, "id", "vec", dim = d, m = 8, topK = 10)),
      "VectorSearch.ivfPqTopK" -> ((c, q, d) =>
        VectorSearch.ivfPqTopK(c, q, "id", "vec", dim = d, m = 8,
          topK = 10)))

  def op(t: Tracer, traced: Boolean): OpOutput = {
    val corpus = spark.read.parquet(corpusPath)
    val queries = spark.read.parquet(queriesPath)
    val results = Entries.map { case (name, f) =>
      name -> t.span(name)(f(corpus, queries, dim)
        .select("query_id", "neighbor_id", "rank").collect())
    }
    () => {
      recalls = results.map { case (name, rows) => name -> check(name, rows) }
        .toMap
      recalls.values.sum / recalls.size
    }
  }

  private def check(name: String, rows: Array[Row]): Double = {
    val byQuery = rows.groupBy(_.getLong(0))
    require(byQuery.keySet.subsetOf(exact.keySet),
      s"$name answered unknown query ids")
    // sign-LSH may find fewer than 10 candidates; every other entry point
    // re-ranks at least 10 vectors per query
    val full = name != "VectorSearch.annCosine"
    require(!full || byQuery.size == exact.size,
      s"$name answered ${byQuery.size} of ${exact.size} queries")
    byQuery.foreach { case (q, rs) =>
      val ranks = rs.map(_.getInt(2)).sorted.toSeq
      val ids = rs.map(_.getLong(1))
      require(ranks == (1 to rs.length) && rs.length <= 10 &&
        (!full || rs.length == 10), s"$name query $q ranks $ranks")
      require(ids.distinct.length == ids.length &&
        ids.forall(i => i >= 0 && i < n), s"$name query $q neighbor ids")
    }
    exact.map { case (q, top) =>
      byQuery.getOrElse(q, Array.empty[Row])
        .count(r => top.contains(r.getLong(1))) / 10.0
    }.sum / exact.size
  }

  override def context: Map[String, Any] =
    recalls.map { case (k, v) => s"recall_at_10.$k" -> v }
}

/** The training-data side: the document pipeline, then ANN top-10 for a
  * query batch. No trace layer runs. */
final class TrainData(spark: SparkSession, inputs: File, work: File)
    extends Workload(spark, inputs, work) {
  private val docs = new DocPrep(spark, new File(inputs, "docs"),
    new File(work, "docs"))
  private val ann = new AnnSearch(spark, new File(inputs, "vectors"),
    new File(work, "vectors"))
  private var packFill = 0.0
  private var docsS, annS = 0.0

  def stage(): Unit = { docs.stage(); ann.stage() }
  def items: Long = docs.items
  override def reset(): Unit = { docs.reset(); ann.reset() }

  def op(t: Tracer, traced: Boolean): OpOutput = {
    val t0 = System.nanoTime()
    val d = docs.op(t, traced)
    val t1 = System.nanoTime()
    val a = ann.op(t, traced)
    docsS = (t1 - t0) / 1e9
    annS = (System.nanoTime() - t1) / 1e9
    () => { packFill = d.check(); a.check() }
  }
  override def context: Map[String, Any] = ann.context ++ Map(
    "pack_fill" -> packFill, "ann_queries" -> ann.items,
    "last_op_docs_s" -> docsS, "last_op_ann_s" -> annS)
}
