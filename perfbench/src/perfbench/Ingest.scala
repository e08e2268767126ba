package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.Normalize

/** Loopback adapter API: serves each chapter's page at
  * `/{adapter}/{chapter}/events` from memory with two handler threads.
  * Every response carries `X-Ratelimit-Remaining: 1000`, so the source's
  * header throttle never defers. Each chapter in `flaky` answers 503 to
  * its first request after [[beginOp]], which the transport retries. */
final class PageServer(pages: Map[String, Array[Byte]], flaky: Set[String]) {
  val requests = new AtomicLong
  val retries = new AtomicLong
  val bytes = new AtomicLong
  val busyNs = new AtomicLong
  private val failed = ConcurrentHashMap.newKeySet[String]()
  private val pool = Executors.newFixedThreadPool(2)
  private val http = HttpServer.create(
    new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)

  http.createContext("/", ex => {
    val t0 = System.nanoTime()
    try {
      requests.incrementAndGet()
      val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
      val chapter = if (parts.length > 1) parts(1) else ""
      ex.getResponseHeaders.add("X-Ratelimit-Remaining", "1000")
      if (flaky(chapter) && failed.add(chapter)) {
        retries.incrementAndGet()
        ex.sendResponseHeaders(503, -1)
      } else {
        val body = pages.getOrElse(s"${parts.headOption.getOrElse("")}/$chapter",
          Array.emptyByteArray)
        if (body.isEmpty) ex.sendResponseHeaders(200, -1)
        else {
          ex.sendResponseHeaders(200, body.length.toLong)
          ex.getResponseBody.write(body)
        }
        bytes.addAndGet(body.length.toLong)
      }
    } finally {
      ex.close()
      busyNs.addAndGet(System.nanoTime() - t0)
    }
  })
  http.setExecutor(pool)
  http.start()

  def url: String = s"http://127.0.0.1:${http.getAddress.getPort}"

  /** Start a new op: every flaky chapter fails its next request again. */
  def beginOp(): Unit = failed.clear()

  /** (requests, 503s answered, body bytes, handler busy ns). */
  def counters: (Long, Long, Long, Long) =
    (requests.get, retries.get, bytes.get, busyNs.get)

  def stop(): Unit = {
    http.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object PageServer {
  /** Pages keyed `adapter/chapter` from the generator's raw_<adapter>.jsonl. */
  def loadPages(inputs: String, mapper: ObjectMapper): Map[String, Array[Byte]] =
    Seq("meetup", "facebook", "eventbrite").flatMap { a =>
      val p = Paths.get(inputs, s"raw_$a.jsonl")
      Files.readAllLines(p).asScala.filter(_.nonEmpty)
        .groupBy(l => mapper.readTree(l).path("chapter").asText)
        .map { case (c, ls) => s"$a/$c" -> ls.mkString("\n").getBytes("UTF-8") }
    }.toMap
}

/** The paper's pipeline as one op, composed the way RestSourceSpec does:
  * RestSource scan -> per-adapter `read.schema(raw).json(payload)` ->
  * `Normalize.dispatch` -> `split` -> `writeKeyedJson(ok)`, with the
  * error channel written as JSON. Nothing is cached. */
final class IngestPipeline(spark: SparkSession, chaptersFile: String,
                           transport: String, okDir: String, errDir: String) {
  private def branch(raw: DataFrame, adapter: String,
                     schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(
      raw.filter(col("adapter") === adapter).select(col("payload")).as(Encoders.STRING))

  /** Build the (ok, error) frames; no job runs here. */
  def build(tr: Tracer): (DataFrame, DataFrame) = {
    val raw = tr.span("rest.load", "layer") {
      spark.read.format("graft.sources.rest.RestSource")
        .option("chaptersFile", chaptersFile)
        .option("transport", transport)
        .option("ratePerSecond", "1000000")
        .load()
    }
    val all = tr.span("normalize.dispatch", "layer") {
      Normalize.dispatch(
        branch(raw, "meetup", Normalize.meetupRawSchema),
        branch(raw, "facebook", Normalize.facebookRawSchema),
        branch(raw, "eventbrite", Normalize.eventbriteRawSchema),
        Normalize.readChapters(spark, chaptersFile))
    }
    tr.span("normalize.split", "layer")(Normalize.split(all))
  }

  def write(ok: DataFrame, err: DataFrame, tr: Tracer): Unit = {
    tr.span("sink.write_ok", "layer")(Normalize.writeKeyedJson(ok, okDir))
    tr.span("sink.write_errors", "layer")(err.write.mode("overwrite").json(errDir))
  }
}

/** Checks one op's sink against the generator's manifest: ok rows per
  * chapter, error rows per kind, and a sample of canonical fields
  * recomputed from the raw rows with java.time. */
final class IngestCheck(manifest: JsonNode, mapper: ObjectMapper) {
  private val expectedOk: Map[String, Long] =
    manifest.path("ok_rows_per_chapter").properties.asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
  private val expectedErr: Map[String, Long] =
    manifest.path("error_rows_per_kind").properties.asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap

  private def partLines(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val files = Files.list(dir)
      try files.iterator.asScala
        .filter(_.getFileName.toString.startsWith("part-")).toVector
        .flatMap(f => Files.readAllLines(f).asScala.filter(_.nonEmpty))
      finally files.close()
    }

  def errorKind(msg: String): String =
    if (msg.startsWith("ERROR: missing id")) "missing_id"
    else if (msg.startsWith("ERROR: unparseable start_time")) "bad_start_time"
    else if (msg.startsWith("ERROR: unparseable start.local")) "bad_start_local"
    else if (msg.startsWith("ERROR: missing start.timezone")) "missing_timezone"
    else if (msg.startsWith("ERROR: No adapter")) "unknown_adapter"
    else "other"

  /** (ok rows, error rows, first mismatch if any). */
  def apply(okDir: String, errDir: String): (Long, Long, Option[String]) = {
    val okPerChapter: Map[String, Long] = {
      val root = Paths.get(okDir)
      if (!Files.isDirectory(root)) Map.empty
      else {
        val ds = Files.list(root)
        try ds.iterator.asScala.toVector
          .filter(_.getFileName.toString.startsWith("chapter="))
          .map(d => d.getFileName.toString.stripPrefix("chapter=") ->
            partLines(d).size.toLong)
          .filter(_._2 > 0).toMap
        finally ds.close()
      }
    }
    val errLines = partLines(Paths.get(errDir))
    val errPerKind = errLines
      .groupMapReduce(l => errorKind(mapper.readTree(l).path("error").asText))(_ => 1L)(_ + _)
    val okRows = okPerChapter.values.sum
    val errRows = errLines.size.toLong
    val problems = Seq(
      if (okPerChapter != expectedOk) {
        val bad = (okPerChapter.keySet ++ expectedOk.keySet).toSeq.sorted
          .find(c => okPerChapter.get(c) != expectedOk.get(c))
        bad.map(c => s"ok rows of chapter $c: ${okPerChapter.getOrElse(c, 0L)} " +
          s"!= expected ${expectedOk.getOrElse(c, 0L)}")
      } else None,
      if (errPerKind != expectedErr.filter(_._2 > 0))
        Some(s"error rows per kind $errPerKind != expected $expectedErr")
      else None,
      sampleMismatch(okDir)).flatten
    (okRows, errRows, problems.headOption)
  }

  /** Recompute canonical fields of the manifest's sample rows with
    * java.time and compare them with the rows in the sink. */
  private def sampleMismatch(okDir: String): Option[String] = {
    val sample = manifest.path("sample").elements.asScala.toVector
    val byChapter = sample.groupBy(_.path("raw").path("chapter").asText)
    byChapter.iterator.flatMap { case (chapter, rows) =>
      val sunk = partLines(Paths.get(okDir, s"chapter=$chapter"))
        .map(mapper.readTree).map(n => n.path("url").asText -> n).toMap
      rows.iterator.flatMap { s =>
        val (url, fields) = Canonical.expected(s.path("adapter").asText, s.path("raw"))
        sunk.get(url) match {
          case None => Some(s"sample row $url missing from chapter $chapter")
          case Some(n) => fields.collectFirst {
            case (k, v) if Canonical.render(n.get(k)) != v =>
              s"sample row $url field $k: ${Canonical.render(n.get(k))} != expected $v"
          }
        }
      }
    }.nextOption()
  }
}

/** Canonical event fields recomputed from raw adapter rows with java.time,
  * independently of the normalize code. */
object Canonical {
  def render(n: JsonNode): String =
    if (n == null || n.isNull) "null"
    else if (n.isArray) n.elements.asScala.map(e => render(e.get("url"))).mkString("[", ",", "]")
    else n.asText

  /** (url that identifies the row, expected field -> rendered value). */
  def expected(adapter: String, raw: JsonNode): (String, Seq[(String, String)]) =
    adapter match {
      case "meetup" =>
        val photos = raw.path("photo_album").path("photo_sample").elements.asScala
          .map(_.path("photo_link").asText).mkString("[", ",", "]")
        (raw.path("link").asText, Seq(
          "event_id" -> raw.path("id").asText,
          "time" -> raw.path("time").asText,
          "utcOffset" -> raw.path("utc_offset").asText,
          "photos" -> photos))
      case "facebook" =>
        val st = raw.path("start_time").asText
        val off = java.time.ZoneOffset.of(st.substring(19))
        val t = java.time.LocalDateTime.parse(st.substring(0, 19)).atOffset(off)
        (s"https://facebook.com/${raw.path("id").asText}", Seq(
          "time" -> t.toInstant.toEpochMilli.toString,
          "utcOffset" -> (off.getTotalSeconds * 1000L).toString))
      case "eventbrite" =>
        val start = raw.path("start")
        val z = java.time.LocalDateTime.parse(start.path("local").asText)
          .atZone(java.time.ZoneId.of(start.path("timezone").asText))
        val ms = z.toInstant.toEpochMilli
        (raw.path("url").asText, Seq(
          "event_id" -> ms.toString,
          "time" -> ms.toString,
          "utcOffset" -> (z.getOffset.getTotalSeconds * 1000L).toString))
    }
}
