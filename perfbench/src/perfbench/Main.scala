package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.sources.Normalize

/** One timed op of a round. Times in seconds. */
final case class OpRun(name: String, wall: Double, cpu: Double, gc: Double,
                       plan: Double, exec: Double, rows: Long,
                       error: Option[String], mismatch: Option[String],
                       extra: Map[String, Double])

/** What a workload does in one op, plus its untimed set-up and checks. */
trait Workload {
  /** Names of the ops of one round, in the order of round `r`. */
  def round(r: Int): Seq[String]
  /** Untimed preparation after set-up (servers, caches of the harness). */
  def prepare(): Unit = ()
  /** Run op `name` of round `r` (0 is the cold round); returns (plan s,
    * exec s, rows, extra counters). */
  def op(name: String, r: Int, tr: Tracer): (Double, Double, Long, Map[String, Double])
  /** Check the op's output, outside the timed region: (rows the output
    * holds, first mismatch). */
  def check(name: String, rows: Long): (Long, Option[String]) = (rows, None)
  /** Untimed facts about the outputs, gathered after the rounds. */
  def finish(): Map[String, Any] = Map.empty
  /** Traced run only: time each layer alone through its public calls. */
  def layers(tr: Tracer): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** Benchmark JVM. Modes:
  *  - `probe <workload> <inputs> <cpus> <work>`: build the session, make
  *    the inputs readable, print the set-up seconds, exit;
  *  - `run <workload> <inputs> <cpus> <work> <seed> <seconds> <trace>`:
  *    set up, one cold round, one warm-up round, measured rounds for
  *    `seconds`, checks; writes `<work>/result.json` (and `spans.jsonl`
  *    when tracing);
  *  - `check-ingest <inputs> <ok dir> <error dir>`: check an ingest sink
  *    against the manifest and print the verdict.
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** graft.Bench's session settings at `local[cpus]`; only the scratch
    * locations point into the benchmark's work directory. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (8 * cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.executor.heartbeat.maxFailures", "1000000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, spark: SparkSession, inputs: String,
               work: String, seed: Long): Workload = name match {
    case "ingest" => new IngestWorkload(spark, inputs, work)
    case "query_mix" => new QueryWorkload(spark, inputs, work, seed)
    case other => sys.error(s"unknown workload $other")
  }

  /** Fail unless every input file of the workload is readable. Listing
    * and footers stay cold: the first op pays them, as a fresh job does. */
  def touchInputs(name: String, inputs: String): Unit = {
    val files = name match {
      case "ingest" => Seq("chapters.jsonl", "manifest.json") ++
        Seq("meetup", "facebook", "eventbrite").map(a => s"raw_$a.jsonl")
      case _ => QueryWorkload.Tables.map(t => s"$t.parquet")
    }
    files.map(Paths.get(inputs, _)).filterNot(Files.isReadable(_)).foreach(p =>
      sys.error(s"input not readable: $p"))
  }

  def main(args: Array[String]): Unit =
    if (args.head == "check-ingest") {
      val Array(_, inputs, okDir, errDir) = args
      val (ok, err, bad) = new IngestCheck(
        mapper.readTree(Paths.get(inputs, "manifest.json").toFile), mapper)(okDir, errDir)
      println(mapper.writeValueAsString(
        Map("ok_rows" -> ok, "error_rows" -> err, "mismatch" -> bad)))
    } else measure(args)

  private def measure(args: Array[String]): Unit = {
    val Array(mode, wname, inputs, cpus, work) = args.take(5)
    Files.createDirectories(Paths.get(work))
    val spark = session(cpus.toInt, work)
    touchInputs(wname, inputs)
    val setup = Jvm.sinceStartS
    if (mode == "probe") {
      println(f"setup_s $setup%.6f")
      spark.stop()
    } else {
      val Array(seed, seconds, trace) = args.slice(5, 8)
      val w = workload(wname, spark, inputs, work, seed.toLong)
      try {
        val res = new Runner(spark, w, trace == "1", seconds.toDouble, work).run()
        Files.writeString(Paths.get(work, "result.json"),
          mapper.writeValueAsString(res + ("setup_s" -> setup)))
      } finally {
        w.close()
        spark.stop()
      }
    }
  }
}

/** Drives the rounds, times every op, and (when tracing) records spans
  * and engine counters for the traced rounds. */
final class Runner(spark: SparkSession, w: Workload, trace: Boolean,
                   seconds: Double, work: String) {
  private val tr = new Tracer
  private val listener = new EngineListener(tr)
  private val sc = spark.sparkContext

  private def timedOp(r: Int, name: String): OpRun = {
    // untimed hygiene before each op, as graft.Bench does it: release the
    // previous op's staged blocks and collect its garbage
    graft.ops.Staged.sweep()
    System.gc()
    val opId = s"r$r:$name"
    tr.span("op", "op", opId) {
      listener.beginOp(opId, tr.currentSpan, opId)
      sc.setJobGroup(opId, opId, interruptOnCancel = false)
      val (c0, g0, t0) = (Jvm.cpuNs, Jvm.gcMs, System.nanoTime())
      val got = try Right(w.op(name, r, tr)) catch {
        case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}".take(400))
      }
      val (c1, g1, t1) = (Jvm.cpuNs, Jvm.gcMs, System.nanoTime())
      sc.clearJobGroup()
      val wall = (t1 - t0) / 1e9
      got match {
        case Right((plan, exec, n, extra)) =>
          val (rows, mismatch) = w.check(name, n)
          OpRun(name, wall, (c1 - c0) / 1e9, (g1 - g0) / 1e3, plan, exec, rows,
            None, mismatch, extra)
        case Left(err) =>
          OpRun(name, wall, (c1 - c0) / 1e9, (g1 - g0) / 1e3, 0, 0, 0,
            Some(err), None, Map.empty)
      }
    }
  }

  private def attach(on: Boolean): Unit = {
    tr.enabled = on
    if (on) { sc.addSparkListener(listener); spark.streams.addListener(listener.streams) }
  }

  private def detach(): Map[String, Any] = {
    if (!tr.enabled) Map.empty
    else {
      org.apache.spark.graft.ListenerBusAccess.waitUntilEmpty(sc)
      sc.removeSparkListener(listener)
      spark.streams.removeListener(listener.streams)
      tr.enabled = false
      val t = listener.drain()
      Map("jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
        "failed_tasks" -> t.failedTasks, "sched_wait_s" -> t.schedWaitMs / 1e3,
        "executor_cpu_s" -> t.executorCpuNs / 1e9, "executor_run_s" -> t.executorRunMs / 1e3,
        "input_mb" -> t.inputBytes / 1e6, "shuffle_write_mb" -> t.shuffleWriteBytes / 1e6,
        "shuffle_read_mb" -> t.shuffleReadBytes / 1e6, "spill_mb" -> t.spillBytes / 1e6,
        "stream_batches" -> t.streamBatches, "add_batch_s" -> t.addBatchMs / 1e3,
        "wal_commit_s" -> t.walCommitMs / 1e3, "planning_s" -> t.planningMs / 1e3,
        "op_skew" -> t.opSkew.toSeq)
    }
  }

  private def round(r: Int, traced: Boolean): Map[String, Any] = {
    attach(traced)
    val ops = tr.span("round", "round", s"r$r") {
      w.round(r).map(n => timedOp(r, n))
    }
    val engine = detach()
    Map("round" -> r, "traced" -> traced, "engine" -> engine,
      "wall" -> ops.map(_.wall).sum, "cpu" -> ops.map(_.cpu).sum,
      "gc" -> ops.map(_.gc).sum, "ops" -> ops)
  }

  /** The whole run; when tracing, under one root span. */
  def run(): Map[String, Any] = {
    tr.enabled = trace
    val out = tr.span("workload", "workload", "")(rounds())
    if (trace) writeSpans(out)
    out("peak_rss_mb") = Jvm.peakRssMb
    out.toMap
  }

  private def rounds(): mutable.Map[String, Any] = {
    w.prepare()
    val out = mutable.LinkedHashMap.empty[String, Any]
    val phases = mutable.LinkedHashMap("prepared" -> Jvm.sinceStartS)
    val (cg0, cms0) = Jvm.codegen
    val cold = round(0, trace)
    val (cg1, cms1) = Jvm.codegen
    out("cold") = cold + ("codegen_classes" -> (cg1 - cg0)) +
      ("codegen_compile_s" -> (cms1 - cms0) / 1e3)
    phases("cold") = Jvm.sinceStartS
    // one warm-up round (checked, not measured: the JIT is still settling
    // on the second execution), then measured rounds until `seconds` have
    // passed. A traced run measures untraced and traced rounds in the same
    // JVM, in the order U T T U ..., so a drift in speed cancels out of the
    // tracing overhead.
    out("warmup") = round(1, traced = false)
    val warm = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def measured = (System.nanoTime() - t0) / 1e9
    while (measured < seconds || warm.size < (if (trace) 4 else 1)) {
      warm += round(warm.size + 2, trace && Set(1, 2)(warm.size % 4))
    }
    out("warm") = warm.toSeq
    phases("warm") = Jvm.sinceStartS
    out("finish") = w.finish()
    if (trace) {
      tr.enabled = true
      out("layers") = tr.span("layers", "round", "layers")(w.layers(tr))
    }
    phases("done") = Jvm.sinceStartS
    out("phases") = phases.toMap
    out
  }

  /** Spans to `spans.jsonl`; self time per span name into the result. */
  private def writeSpans(out: mutable.Map[String, Any]): Unit = {
    val spans = tr.all
    val self = Tracer.selfTimes(spans)
    val lines = spans.iterator.map(s => Main.mapper.writeValueAsString(Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "kind" -> s.kind, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "self_ms" -> self(s.id))))
    Files.write(Paths.get(work, "spans.jsonl"), lines.toSeq.asJava)
    out("spans") = spans.size
    out("selftime") = spans.groupBy(_.name).map { case (n, ss) =>
      n -> Map("count" -> ss.size, "total_s" -> ss.map(s => s.endMs - s.startMs).sum / 1e3,
        "self_s" -> ss.map(s => self(s.id)).sum / 1e3)
    }
  }
}

/** The paper's ingest pipeline against a loopback adapter API. One op per
  * round. */
final class IngestWorkload(spark: SparkSession, inputs: String, work: String)
  extends Workload {
  private val mapper = Main.mapper
  private val manifest = mapper.readTree(Paths.get(inputs, "manifest.json").toFile)
  private val chaptersFile = s"$inputs/chapters.jsonl"
  private val okDir = s"$work/sink/ok"
  private val errDir = s"$work/sink/errors"
  private val checker = new IngestCheck(manifest, mapper)
  private var server: PageServer = _
  private var pipeline: IngestPipeline = _

  def round(r: Int): Seq[String] = Seq("ingest")

  override def prepare(): Unit = {
    val flaky = manifest.path("flaky_chapters").elements.asScala.map(_.asText).toSet
    server = new PageServer(PageServer.loadPages(inputs, mapper), flaky)
    pipeline = new IngestPipeline(spark, chaptersFile, server.url, okDir, errDir)
  }

  def op(name: String, r: Int, tr: Tracer): (Double, Double, Long, Map[String, Double]) = {
    server.beginOp()
    val (q0, r0, b0, n0) = server.counters
    val t0 = System.nanoTime()
    val (ok, err) = pipeline.build(tr)
    val t1 = System.nanoTime()
    pipeline.write(ok, err, tr)
    val t2 = System.nanoTime()
    val (q1, r1, b1, n1) = server.counters
    val chapters = manifest.path("chapters").asDouble
    (((t1 - t0) / 1e9), ((t2 - t1) / 1e9), 0L, Map(
      "rest.requests" -> (q1 - q0).toDouble,
      "rest.retries" -> (r1 - r0).toDouble,
      "rest.fetches_per_chapter" -> (q1 - q0) / chapters,
      "rest.mb_served" -> (b1 - b0) / 1e6,
      "rest.server_busy_s" -> (n1 - n0) / 1e9))
  }

  private var lastRows = (0L, 0L)

  /** The writes return nothing: an op's rows are what its sink holds. */
  override def check(name: String, rows: Long): (Long, Option[String]) = {
    val (okRows, errRows, bad) = checker(okDir, errDir)
    lastRows = (okRows, errRows)
    (okRows + errRows, bad)
  }

  override def finish(): Map[String, Any] = {
    val files = Files.walk(Paths.get(okDir))
    val parts = try files.iterator.asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toVector
      finally files.close()
    Map("ok_rows" -> lastRows._1, "error_rows" -> lastRows._2,
      "sink_files" -> parts.size, "sink_mb" -> parts.map(Files.size).sum / 1e6)
  }

  override def layers(tr: Tracer): Map[String, Double] = {
    def median3(f: => Unit): Double =
      Seq.fill(3) { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
        .sorted.apply(1)
    val raw = spark.read.format("graft.sources.rest.RestSource")
      .option("chaptersFile", chaptersFile).option("transport", server.url)
      .option("ratePerSecond", "1000000").load()
    val scan = tr.span("rest.scan", "layer") {
      median3 { server.beginOp(); raw.queryExecution.toRdd.count() }
    }
    // normalize over payloads already on local disk: the generator's
    // page files are exactly what the server sends
    def local() = Normalize.split(Normalize.dispatch(
      Normalize.readMeetup(spark, s"$inputs/raw_meetup.jsonl"),
      Normalize.readFacebook(spark, s"$inputs/raw_facebook.jsonl"),
      Normalize.readEventbrite(spark, s"$inputs/raw_eventbrite.jsonl"),
      Normalize.readChapters(spark, chaptersFile)))
    val norm = tr.span("normalize.local", "layer") {
      median3 {
        val (ok, err) = local()
        ok.queryExecution.toRdd.count(); err.queryExecution.toRdd.count()
      }
    }
    val descriptions = Files.readAllLines(Paths.get(inputs, "raw_facebook.jsonl"))
      .asScala.map(l => mapper.readTree(l).path("description").asText(null)).toVector
    val md = tr.span("normalize.markdown", "layer") {
      median3(descriptions.foreach(Normalize.renderMarkdown))
    }
    val okFrame = local()._1.cache()
    okFrame.count()
    val sink = tr.span("sink.write", "layer") {
      median3(Normalize.writeKeyedJson(okFrame, s"$work/sink/layer"))
    }
    okFrame.unpersist(blocking = true)
    Map("rest.scan_s" -> scan, "normalize.s" -> norm,
      "normalize.markdown_s" -> md, "sink.write_s" -> sink)
  }

  override def close(): Unit = if (server != null) server.stop()
}

/** A fixed query mix over the seed-permuted tables. Each round runs the
  * batch queries in a seed-shuffled order, then the streaming ones. */
final class QueryWorkload(spark: SparkSession, dir: String, work: String, seed: Long)
  extends Workload {
  private val (batch, stream) = QueryWorkload.Queries.partition(_.startsWith("q_"))

  def round(r: Int): Seq[String] = {
    val rng = new scala.util.Random(seed * 1000 + r)
    rng.shuffle(batch) ++ rng.shuffle(stream)
  }

  /** A warm op materializes the query and counts its rows. A cold op is
    * what a one-shot job does: it writes the result (as parquet, which the
    * oracle check then reads); its row count comes from that check. */
  def op(name: String, r: Int, tr: Tracer): (Double, Double, Long, Map[String, Double]) = {
    val t0 = System.nanoTime()
    val df = tr.span("build", "layer")(SparkEntry.queries(name)(spark, dir))
    tr.span("plan", "layer")(df.queryExecution.executedPlan)
    val t1 = System.nanoTime()
    val rows = tr.span("exec", "layer") {
      if (r > 0) df.queryExecution.toRdd.count()
      else { df.write.mode("overwrite").parquet(s"$work/dump/$name"); -1L }
    }
    val t2 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9, rows, Map.empty)
  }

  override def finish(): Map[String, Any] = {
    val sqls = SparkEntry.oracleSql
    val scale = SparkEntry.oracleSqlScale
    Map("queries" -> QueryWorkload.Queries.map { q =>
      q -> Map("oracle" -> sqls.get(q),
        "oracle_scale" -> scale.get(q).filterNot(s => sqls.get(q).contains(s)),
        "module" -> QueryWorkload.moduleOf(q))
    }.toMap)
  }

  /** Each table the mix reads, scanned alone over all its columns. */
  override def layers(tr: Tracer): Map[String, Double] = {
    val tables = QueryWorkload.Queries.filter(_.startsWith("q_")).flatMap { q =>
      SparkEntry.queries(q)(spark, dir).inputFiles.toSeq
        .map(f => Paths.get(new java.net.URI(f).getPath).getFileName.toString)
    }.distinct.filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    val scans = tables.map { t =>
      tr.span(s"scan.$t", "layer") {
        val runs = Seq.fill(3) {
          val s0 = System.nanoTime()
          val rdd = Tables.t(spark, dir, t).queryExecution.toRdd
          rdd.count()
          ((System.nanoTime() - s0) / 1e9, rdd.getNumPartitions)
        }
        runs.sortBy(_._1).apply(1)
      }
    }
    Map("scan.s" -> scans.map(_._1).sum, "scan.partitions" -> scans.map(_._2).sum.toDouble)
  }
}

object QueryWorkload {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Fixed-cost-dominated relational queries, shuffle- and kernel-heavy
    * LLM ones, and a streaming one: one query from each of nine of the
    * thirteen query modules. */
  val Queries: Seq[String] = Seq(
    "q_agg_distinct", "q_fn_math", "q_pivot", "q_ts_downsample",
    "q_scan_json", "q_llm_sim_ann", "q_llm_tfidf", "q_llm_kmeans", "s_tumble")

  val Modules: Seq[(String, graft.QueryModule)] = Seq(
    "Relational" -> graft.ops.Relational, "Functions" -> graft.ops.Functions,
    "Llm" -> graft.ops.Llm, "LlmExt" -> graft.ops.LlmExt,
    "LlmQuality" -> graft.ops.LlmQuality, "LlmCorpus" -> graft.ops.LlmCorpus,
    "LlmPipe" -> graft.ops.LlmPipe, "LlmTrain" -> graft.ops.LlmTrain,
    "Lakehouse" -> graft.ops.Lakehouse, "Reshape" -> graft.ops.Reshape,
    "TimeSeries" -> graft.ops.TimeSeries,
    "NormalizeQueries" -> graft.sources.NormalizeQueries,
    "Streams" -> graft.streaming.Streams)

  def moduleOf(q: String): String =
    Modules.find(_._2.queries.contains(q)).map(_._1).getOrElse("?")
}
