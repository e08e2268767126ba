package graft

import graft.sources.{Normalize, NormalizeQueries}
import graft.sources.rest.{FixtureTransport, RestResponse, Snapshot, Transport}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** DataSourceV2 REST connector (A3–A6): partition-per-chapter scan,
  * offline fixture transport, token-bucket throttle, and end-to-end
  * compose with the normalize pipeline. */
class RestSourceSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark
  private val fx = NormalizeQueries.fixturesDir

  private lazy val raw = s.read.format("graft.sources.rest.RestSource")
    .option("chaptersFile", s"$fx/chapters.jsonl")
    .option("fixturesDir", fx)
    .option("ratePerSecond", "1000")
    .load()
    .cache()

  /** Fixture transport that counts fetches per chapter. */
  private object counting extends Transport {
    private val fetches =
      new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    private val fixture = new FixtureTransport(fx)
    override def fetch(adapter: String, chapter: String): RestResponse = {
      fetches.merge(chapter, 1, (a, b) => a + b)
      fixture.fetch(adapter, chapter)
    }
    /** Fetches per chapter since the last call. */
    def take(): Map[String, Int] = {
      val m = fetches.asScala.map { case (c, n) => c -> n.intValue }.toMap
      fetches.clear()
      m
    }
  }
  Transport.register("counting", counting)

  private def countingScan: DataFrame = s.read
    .format("graft.sources.rest.RestSource")
    .option("chaptersFile", s"$fx/chapters.jsonl")
    .option("transport", "counting")
    .option("ratePerSecond", "1000")
    .load()

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("one partition per chapter; payload rows carry their chapter") {
    assert(raw.rdd.getNumPartitions == 6) // 6 chapters incl. unknown adapter
    val byChapter = raw.groupBy("chapter").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // ghost meetup row (no id) still belongs to london's payload
    assert(byChapter == Map("newyork" -> 2L, "london" -> 3L, "berlin" -> 4L,
      "rome" -> 2L, "miami" -> 4L)) // atlantis: unknown adapter → no fixture
  }

  test("composes with the normalize pipeline end to end") {
    // the DSv2 scan replaces the file reads: parse a source's payload
    // rows with its explicit schema, then normalize as usual
    val meetup = s.read.schema(Normalize.meetupRawSchema)
      .json(raw.filter(col("adapter") === "meetup")
        .select("payload").as[String](org.apache.spark.sql.Encoders.STRING))
    val ok = Normalize.normalizeMeetup(meetup).filter(col("error").isNull)
    assert(ok.count() == 4) // 5 meetup payload rows, 1 ghost error

    // the full ingest composition, uncached: each branch's adapter
    // filter is pushed into its own scan, and both sink actions read
    // the loaded frame's one snapshot, so a chapter is fetched once in
    // all and the unknown-adapter chapter never
    val scan = countingScan
    def branch(adapter: String, schema: StructType) =
      s.read.schema(schema).json(scan.filter(col("adapter") === adapter)
        .select("payload").as(Encoders.STRING))
    val (okAll, err) = Normalize.split(Normalize.dispatch(
      branch("meetup", Normalize.meetupRawSchema),
      branch("facebook", Normalize.facebookRawSchema),
      branch("eventbrite", Normalize.eventbriteRawSchema),
      Normalize.readChapters(s, s"$fx/chapters.jsonl")))
    val out = Scratch.dir("restsource-compose")
    counting.take()
    Normalize.writeKeyedJson(okAll, s"$out/ok")
    System.gc() // the frame's plan, not luck, keeps the snapshot alive
    err.write.mode("overwrite").json(s"$out/err")
    assert(counting.take() == Seq("newyork", "london", "berlin", "rome", "miami")
      .map(_ -> 1).toMap)
    assert(s.read.json(s"$out/err").filter(
      col("error").startsWith("ERROR: No adapter gopher")).count() == 1)
    // the rebalanced error frame is written by one task, not one per
    // scan partition
    val errParts = new java.io.File(s"$out/err").list().filter(_.startsWith("part-"))
    assert(errParts.length == 1, errParts.mkString(", "))
  }

  test("a second load() of the same source fetches again") {
    counting.take()
    countingScan.count()
    countingScan.count()
    assert(counting.take() == Seq("newyork", "london", "berlin", "rome",
      "miami", "atlantis").map(_ -> 2).toMap)
  }

  test("a failed fetch is not kept: the next action over the frame fetches again") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    Transport.register("fails-once", new Transport {
      override def fetch(adapter: String, chapter: String): RestResponse =
        if (calls.getAndIncrement() == 0) sys.error("graft-rest test: first call fails")
        else counting.fetch(adapter, chapter)
    })
    val berlin = s.read.format("graft.sources.rest.RestSource")
      .option("chaptersFile", s"$fx/chapters.jsonl")
      .option("transport", "fails-once")
      .option("ratePerSecond", "1000")
      .load()
      .filter(col("adapter") === "facebook") // berlin alone
    counting.take()
    intercept[Exception](berlin.count())
    assert(berlin.count() == 4)
    assert(counting.take() == Map("berlin" -> 1))
    assert(calls.get() == 2)
  }

  test("a dropped frame's snapshot leaves the registry") {
    val n = 4
    val before = Snapshot.liveIds
    var frames = Seq.fill(n)(countingScan.filter(col("adapter") === "meetup"))
    frames.foreach(_.count())
    val mine = Snapshot.liveIds -- before
    assert(mine.size == n) // one per loaded frame, alive with it
    frames = null
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def live = (Snapshot.liveIds intersect mine).size
    while (live >= n && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    assert(live < n, s"$live of $n dropped frames' snapshots still registered")
  }

  test("adapter predicates are pushed: pruned chapters get no partition, no fetch") {
    counting.take()
    val meetup = countingScan.filter(col("adapter") === "meetup")
    assert(meetup.rdd.getNumPartitions == 2)
    assert(sortedRows(meetup) == sortedRows(raw.filter(col("adapter") === "meetup")))
    assert(counting.take() == Map("newyork" -> 1, "london" -> 1))
    val plan = meetup.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [EqualTo(adapter,meetup)]"), plan)
    assert(plan.contains("chapters kept: 2/6"), plan)

    // an adapter no chapter has: nothing planned, nothing fetched
    val none = countingScan.filter(col("adapter") === "gopher-not")
    assert(none.rdd.getNumPartitions == 0)
    assert(none.count() == 0)
    assert(counting.take().isEmpty)

    // a predicate the scan does not take: every chapter is fetched and
    // Spark's own filter still returns the right rows
    val lowered = countingScan.filter(lower(col("adapter")) === "meetup")
    assert(sortedRows(lowered) ==
      sortedRows(raw.filter(lower(col("adapter")) === "meetup")))
    assert(counting.take() == Seq("newyork", "london", "berlin", "rome",
      "miami", "atlantis").map(_ -> 1).toMap)
  }

  test("a non-positive or non-finite ratePerSecond fails the scan loudly") {
    for (rate <- Seq("0", "-1", "NaN", "Infinity")) {
      val e = intercept[Exception] {
        s.read.format("graft.sources.rest.RestSource")
          .option("chaptersFile", s"$fx/chapters.jsonl")
          .option("fixturesDir", fx)
          .option("ratePerSecond", rate)
          .load().count()
      }
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(messages.contains("'ratePerSecond'") &&
        messages.contains(s"got '$rate'"), messages)
    }
  }

  test("a registered mock Transport is injected through the seam") {
    val served = Seq(
      """{"chapter": "berlin", "id": "m1", "name": "Mocked"}""",
      """{"chapter": "berlin", "id": "m2", "name": "Also mocked"}""")
    graft.sources.rest.Transport.register("mock",
      new graft.sources.rest.Transport {
        override def fetch(adapter: String, chapter: String) =
          graft.sources.rest.RestResponse(
            if (chapter == "berlin") served else Nil)
      })
    val rows = s.read.format("graft.sources.rest.RestSource")
      .option("chaptersFile", s"$fx/chapters.jsonl")
      .option("transport", "mock")
      .option("ratePerSecond", "1000")
      .load()
      .filter(col("payload").isNotNull)
      .collect()
    assert(rows.map(_.getString(2)).sorted.toSeq == served.sorted)
    assert(rows.forall(_.getString(0) == "berlin"))
  }

  test("HttpTransport fetches chapters from a live (loopback) server") {
    // zero-egress container: a JDK HttpServer on 127.0.0.1 plays the
    // adapter API — this is the live-mode proof for the http transport
    val served = Map(
      "berlin" -> Seq(
        """{"chapter": "berlin", "id": "h1", "name": "Via HTTP"}""",
        """{"chapter": "berlin", "id": "h2", "name": "Also HTTP"}"""),
      "london" -> Seq(
        """{"chapter": "london", "id": "h3", "name": "London HTTP"}"""),
      // served CRLF-delimited: no line may keep its \r
      "rome" -> Seq(
        """{"chapter": "rome", "id": "h4", "name": "CRLF HTTP"}""",
        """{"chapter": "rome", "id": "h5", "name": "Also CRLF"}"""))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      // path shape: /{adapter}/{chapter}/events (meetup.rkt:83-84)
      val parts = exchange.getRequestURI.getPath.split("/").filter(_.nonEmpty)
      val body = (if (parts(1) == "rome")
        served(parts(1)).mkString("", "\r\n", "\r\n")
      else served.getOrElse(parts(1), Nil).mkString("\n")).getBytes("UTF-8")
      exchange.getResponseHeaders.add("X-Ratelimit-Remaining", "30")
      exchange.sendResponseHeaders(200, body.length)
      exchange.getResponseBody.write(body)
      exchange.close()
    })
    server.start()
    try {
      val rows = s.read.format("graft.sources.rest.RestSource")
        .option("chaptersFile", s"$fx/chapters.jsonl")
        .option("transport",
          s"http://127.0.0.1:${server.getAddress.getPort}")
        .option("ratePerSecond", "1000")
        .load()
        .filter(col("payload").isNotNull)
        .collect()
      assert(rows.map(_.getString(2)).sorted.toSeq ==
        served.values.flatten.toSeq.sorted)
    } finally server.stop(0)
  }

  test("HttpTransport retries transient 5xx with backoff, then succeeds") {
    // rolling-restart shape: first two hits per path 500, then 200
    val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val path = exchange.getRequestURI.getPath
      val n = hits.merge(path, 1, (a, b) => a + b)
      if (n <= 2) {
        exchange.sendResponseHeaders(500, -1)
      } else {
        val body = """{"id": "r1", "name": "After Retry"}""".getBytes("UTF-8")
        exchange.sendResponseHeaders(200, body.length)
        exchange.getResponseBody.write(body)
      }
      exchange.close()
    })
    server.start()
    try {
      val t = new sources.rest.HttpTransport(
        s"http://127.0.0.1:${server.getAddress.getPort}",
        maxRetries = 3, backoffMs = 1L)
      val resp = t.fetch("meetup", "berlin")
      assert(resp.lines == Seq("""{"id": "r1", "name": "After Retry"}"""))
      assert(hits.get("/meetup/berlin/events") == 3) // 500, 500, 200
    } finally server.stop(0)
  }

  test("exhausted 5xx retries fail loudly (error-row lift unchanged)") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      hits.incrementAndGet()
      exchange.sendResponseHeaders(503, -1)
      exchange.close()
    })
    server.start()
    try {
      val t = new sources.rest.HttpTransport(
        s"http://127.0.0.1:${server.getAddress.getPort}",
        maxRetries = 2, backoffMs = 1L)
      val e = intercept[RuntimeException] { t.fetch("meetup", "berlin") }
      assert(e.getMessage.contains("HTTP 503"))
      assert(e.getMessage.contains("after 2 retries"))
      assert(hits.get() == 3) // initial + 2 retries, bounded
    } finally server.stop(0)
  }

  test("connection-level failures engage the same retry loop") {
    // a rolling restart's commonest symptom is connect-refused, not a
    // received 5xx (review r13) — bind-then-close a socket so the port
    // is known-dead, and assert the IOException surfaces only after
    // the bounded retries ran
    val sock = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val port = sock.getLocalPort
    sock.close()
    val t = new sources.rest.HttpTransport(
      s"http://127.0.0.1:$port", maxRetries = 2, backoffMs = 1L)
    val e = intercept[java.io.IOException] { t.fetch("meetup", "berlin") }
    assert(e.getMessage.contains("after 2 retries"), e.getMessage)
  }

  test("4xx is NOT retried (a wrong request must not burn rate limit)") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      hits.incrementAndGet()
      exchange.sendResponseHeaders(404, -1)
      exchange.close()
    })
    server.start()
    try {
      val t = new sources.rest.HttpTransport(
        s"http://127.0.0.1:${server.getAddress.getPort}",
        maxRetries = 3, backoffMs = 1L)
      val e = intercept[RuntimeException] { t.fetch("meetup", "berlin") }
      assert(e.getMessage.contains("HTTP 404"))
      assert(hits.get() == 1)
    } finally server.stop(0)
  }

  test("HTTP X-Ratelimit headers defer subsequent fetches end-to-end") {
    // the full meetup.rkt:9-26 loop over a real socket: the server
    // reports <3 requests remaining with a reset ~0.4s out on EVERY
    // response; the first fetch's headers must defer the remaining
    // chapter partitions until the reset deadline
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val body = """{"chapter": "x", "id": "r1"}""".getBytes("UTF-8")
      exchange.getResponseHeaders.add("X-Ratelimit-Remaining", "1")
      exchange.getResponseHeaders.add("X-Ratelimit-Reset",
        ((System.currentTimeMillis() + 400L) / 1000L + 1L).toString)
      exchange.sendResponseHeaders(200, body.length)
      exchange.getResponseBody.write(body)
      exchange.close()
    })
    server.start()
    try {
      val t0 = System.nanoTime()
      s.read.format("graft.sources.rest.RestSource")
        .option("chaptersFile", s"$fx/chapters.jsonl")
        .option("transport",
          s"http://127.0.0.1:${server.getAddress.getPort}")
        .option("ratePerSecond", "1000")
        .load().count()
      val sec = (System.nanoTime() - t0) / 1e9
      assert(sec >= 0.3,
        f"expected HTTP-header-driven defer across partitions, took $sec%.2fs")
    } finally {
      server.stop(0)
      graft.sources.rest.Throttle.clearDefer()
    }
  }

  test("an unregistered transport name fails loudly") {
    val e = intercept[Exception] {
      s.read.format("graft.sources.rest.RestSource")
        .option("chaptersFile", s"$fx/chapters.jsonl")
        .option("transport", "no-such-transport")
        .load().count()
    }
    assert(e.getMessage != null || e.getCause != null) // surfaced, not swallowed
  }

  test("low X-Ratelimit-Remaining defers subsequent fetches to reset") {
    graft.sources.rest.Transport.register("ratelimited",
      new graft.sources.rest.Transport {
        override def fetch(adapter: String, chapter: String) =
          graft.sources.rest.RestResponse(Nil,
            rateRemaining = Some(1L),
            rateResetMillis = Some(System.currentTimeMillis() + 400L))
      })
    val t0 = System.nanoTime()
    // 6 chapter partitions; the first response's headers defer the rest
    s.read.format("graft.sources.rest.RestSource")
      .option("chaptersFile", s"$fx/chapters.jsonl")
      .option("transport", "ratelimited")
      .option("ratePerSecond", "1000")
      .load().count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec >= 0.3, f"expected header-driven defer, took $sec%.2fs")
    // don't leak the planted deadline into later tests in this JVM
    graft.sources.rest.Throttle.clearDefer()
  }

  test("token bucket throttles fetch rate") {
    val t0 = System.nanoTime()
    s.read.format("graft.sources.rest.RestSource")
      .option("chaptersFile", s"$fx/chapters.jsonl")
      .option("fixturesDir", fx)
      .option("ratePerSecond", "4") // 6 chapters at 4/s ≥ ~0.5s floor
      .load().count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec >= 0.4, f"expected throttled scan, took $sec%.2fs")
  }
}
