package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The cuttlefish core: per-adapter normalization of heterogeneous raw
  * API JSON into one canonical event schema, with an error side
  * channel and a keyed JSON sink (reference SURVEY.md §2A A7–A23).
  *
  * Reference semantics reproduced:
  *  - meetup normalize (`private/workers/meetup.rkt:39-59`): rename +
  *    nested extraction with 'null defaults, photos array-of-struct
  *    transform with width/height null (meetup.rkt:55-58).
  *  - facebook normalize (`private/workers/facebook.rkt:35-55`):
  *    URL synthesis, ISO8601+numeric-offset epoch parse
  *    (facebook.rkt:22-28), markdown→HTML description wrapped in
  *    `<div class="event-api-content">` (facebook.rkt:30-32), photos
  *    null. DIVERGENCE: the reference's get-epoch drops the offset's
  *    sign and minutes (substring skips the leading '-'); we compute
  *    the correctly signed ±HH:MM offset.
  *  - eventbrite normalize (`private/workers/eventbrite.rkt:51-85`):
  *    named-timezone local time → DST-aware UTC epoch + offset; the
  *    event key is the stringified UTC millis (eventbrite.rkt:68), a
  *    reference quirk kept as observable behavior.
  *  - adapter dispatch (`private/api-runner.rkt:118-148`): per-source
  *    frames unioned by name; unknown adapters become error rows with
  *    the reference's message shape (api-runner.rkt:144-146).
  *  - tagged-union error routing (`private/api-runner.rkt:55-61`,
  *    README.md:30-42): ('ERROR msg) | (id jsexpr) becomes a nullable
  *    `error` column + filter split. IMPROVEMENT over the reference:
  *    errors are per-ROW (a bad record doesn't poison its chapter),
  *    the A9 exception→row lift done declaratively.
  *  - keyed JSON sink (`private/api-runner.rkt:39-52`): one directory
  *    per chapter via partitionBy — at 100 TB this is the idiomatic
  *    keyed write (repartition by key first so each key is one file).
  *
  * Scale notes: every normalizer is a single `select` over the scan —
  * pure map-side, no shuffle; explicit schemas (never inference) so
  * the JSON reader prunes unreferenced fields; the only shuffle in the
  * whole pipeline is the sink's repartition-by-chapter.
  */
object Normalize {

  /** Canonical event schema (FIXTURES.md §5; reference
    * `private/data/data_formats.md:15-44`). */
  val canonicalDdl: String =
    """event_id STRING, chapter STRING, url STRING, time BIGINT,
      |utcOffset BIGINT, title STRING, description STRING,
      |venue STRUCT<name: STRING, address1: STRING, address2: STRING,
      |             country: STRING, city: STRING, postalCode: STRING,
      |             lon: DOUBLE, lat: DOUBLE>,
      |photos ARRAY<STRUCT<url: STRING, width: INT, height: INT>>,
      |error STRING""".stripMargin
  val canonicalSchema: StructType = StructType.fromDDL(canonicalDdl)

  private val photosDdl = "ARRAY<STRUCT<url: STRING, width: INT, height: INT>>"

  // ------------------------------------------------------ raw-source schemas
  // Explicit StructTypes per source (SURVEY §1.3: never schema
  // inference in production paths).

  val meetupRawSchema: StructType = StructType.fromDDL(
    """chapter STRING, id STRING, link STRING, time BIGINT,
      |utc_offset BIGINT, name STRING, description STRING,
      |venue STRUCT<name: STRING, address_1: STRING, address_2: STRING,
      |             country: STRING, city: STRING, zip: STRING,
      |             lon: DOUBLE, lat: DOUBLE>,
      |photo_album STRUCT<photo_sample: ARRAY<STRUCT<photo_link: STRING>>>""".stripMargin)

  val facebookRawSchema: StructType = StructType.fromDDL(
    """chapter STRING, id STRING, start_time STRING, name STRING,
      |description STRING,
      |place STRUCT<name: STRING,
      |             location: STRUCT<street: STRING, city: STRING,
      |                              country: STRING, zip: STRING,
      |                              longitude: DOUBLE, latitude: DOUBLE>>""".stripMargin)

  val eventbriteRawSchema: StructType = StructType.fromDDL(
    """chapter STRING, id STRING, url STRING,
      |name STRUCT<text: STRING, html: STRING>,
      |description STRUCT<text: STRING, html: STRING>,
      |start STRUCT<timezone: STRING, local: STRING, utc: STRING>,
      |venue STRUCT<name: STRING, longitude: STRING, latitude: STRING,
      |             address: STRUCT<address_1: STRING, address_2: STRING,
      |                             city: STRING, postal_code: STRING,
      |                             country: STRING>>""".stripMargin)

  val chaptersSchema: StructType = StructType.fromDDL(
    "chapter STRING, title STRING, adapter STRING, api_id STRING, organization STRING")

  /** Video definitions (`private/data/data_formats.md:46-74`): a single
    * JSON object keyed by video id. Documented-only in the reference
    * (no code path reads it there either); here it gets a real typed
    * reader so the schema is executable, not prose. */
  private val thumbDdl = "STRUCT<url: STRING, width: INT, height: INT>"
  val videoSchema: StructType = StructType.fromDDL(
    s"""embedUrl STRING, published STRING, title STRING,
       |description STRING,
       |thumbnails STRUCT<default: $thumbDdl, medium: $thumbDdl,
       |                  high: $thumbDdl>""".stripMargin)

  def readMeetup(s: SparkSession, path: String): DataFrame =
    s.read.schema(meetupRawSchema).json(path)
  def readFacebook(s: SparkSession, path: String): DataFrame =
    s.read.schema(facebookRawSchema).json(path)
  def readEventbrite(s: SparkSession, path: String): DataFrame =
    s.read.schema(eventbriteRawSchema).json(path)
  def readChapters(s: SparkSession, path: String): DataFrame =
    s.read.schema(chaptersSchema).json(path)

  /** videos.json is ONE object keyed by video id (data_formats.md:46),
    * not JSONL — read whole-file, parse as a map, explode to typed
    * rows with the published timestamp parsed and thumbnails
    * flattened. The id-keyed-map→rows pivot is the inverse of
    * [[toReferenceShape]]'s sink-edge reshape. wholetext is a
    * single-task read per file — videos.json is a small dimension
    * table (hundreds of rows), never the fact side. */
  def readVideos(s: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types.{MapType, StringType}
    s.read.option("wholetext", "true").text(path)
      .select(explode(from_json(col("value"),
        MapType(StringType, videoSchema))).as(Seq("video_id", "v")))
      .select(col("video_id"),
        col("v.embedUrl").as("embed_url"),
        // real captures carry both milli and whole-second forms; a
        // single rigid .SSS pattern would silently null the latter.
        // Literal 'Z' only — the capture format is always-UTC and the
        // oracle's %…SZ patterns accept exactly these two forms; the
        // earlier X pattern also took '+01'/'+0130', which the oracle
        // nulls (review r12). Zone-less parse ⇒ session-TZ semantics;
        // every session this library builds pins UTC.
        coalesce(
          try_to_timestamp(col("v.published"),
            lit("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")),
          try_to_timestamp(col("v.published"),
            lit("yyyy-MM-dd'T'HH:mm:ss'Z'"))).as("published"),
        col("v.title").as("title"),
        col("v.description").as("description"),
        col("v.thumbnails.default").as("thumb_default"),
        col("v.thumbnails.medium").as("thumb_medium"),
        col("v.thumbnails.high").as("thumb_high"))
  }

  // --------------------------------------------------------- markdown UDF

  /** Minimal zero-dependency markdown→HTML rendering matching the
    * reference's observable envelope (facebook.rkt:30-32: parse +
    * `<div class="event-api-content">` wrap). No markdown jar ships
    * with Spark (SURVEY §7 risk 5), so this renders the subset real
    * event descriptions use: HTML escape, `` `code` `` spans,
    * `[text](url)` links, `**bold**`, `*emphasis*`, ATX headers
    * (`# `–`###### `, single-line blocks), `- ` unordered and
    * `1. ` ordered lists (blocks where every line is an item), and
    * double-newline paragraph blocks. Pass order matters: code → links → bold → em,
    * so a `*` inside a URL or link text isn't split by the emphasis
    * pass and `**x**` isn't half-eaten by the single-star rule.
    * KNOWN LIMIT of the regex-pass design: earlier passes do not
    * protect their output from later ones, so e.g. single `*`s inside
    * TWO DIFFERENT code spans can still be paired by the emphasis
    * pass (crossed tags) — a real markdown parser tokenizes instead.
    * The DuckDB oracle mirrors these passes exactly, so the subset is
    * deterministic and cross-engine-stable even at its edges.
    * A Scala UDF — the reference's one true custom scalar (A23); kept
    * OUT of relational hot paths so codegen elsewhere is unaffected. */
  private val MdHeader = "^(#{1,6}) (.*)$".r
  // compiled once: String.replaceAll/matches/replaceFirst/split with a
  // multi-char pattern compile their regex on every call, per row
  private val MdCode = java.util.regex.Pattern.compile("`([^`]+)`")
  private val MdLink = java.util.regex.Pattern.compile("\\[([^\\]]+)\\]\\(([^)\\s]+)\\)")
  private val MdBold = java.util.regex.Pattern.compile("\\*\\*([^*]+)\\*\\*")
  private val MdEm = java.util.regex.Pattern.compile("\\*([^*]+)\\*")
  private val MdParaBreak = java.util.regex.Pattern.compile("\n\n")
  private val MdOlItem = java.util.regex.Pattern.compile("^[0-9]+\\. .*")
  private val MdOlPrefix = java.util.regex.Pattern.compile("^[0-9]+\\. ")

  def renderMarkdown(md: String): String =
    if (md == null) null
    else {
      val esc = md.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      val code = MdCode.matcher(esc).replaceAll("<code>$1</code>")
      val links = MdLink.matcher(code).replaceAll("<a href=\"$2\">$1</a>")
      val bold = MdBold.matcher(links).replaceAll("<strong>$1</strong>")
      val em = MdEm.matcher(bold).replaceAll("<em>$1</em>")
      val paras = MdParaBreak.split(em, -1).map { p =>
        val lines = p.split("\n", -1)
        p match {
          case MdHeader(hs, rest) if !p.contains("\n") =>
            s"<h${hs.length}>$rest</h${hs.length}>"
          case _ if lines.forall(_.startsWith("- ")) =>
            lines.map(l => s"<li>${l.stripPrefix("- ")}</li>")
              .mkString("<ul>", "", "</ul>")
          case _ if lines.forall(MdOlItem.matcher(_).matches()) =>
            lines.map(l => s"<li>${MdOlPrefix.matcher(l).replaceFirst("")}</li>")
              .mkString("<ol>", "", "</ol>")
          case _ => s"<p>$p</p>"
        }
      }.mkString
      s"""<div class="event-api-content">$paras</div>"""
    }

  val mdToHtml = udf(renderMarkdown _)

  // ----------------------------------------------------------- normalizers

  /** Error messages interpolate raw payload fields that may themselves
    * be null; plain concat() null-propagates, which would null the
    * whole error string and let the invalid row sail through the ok
    * channel with a null key. Render null fields as "<null>" instead
    * (the oracle SQL mirrors this with coalesce). */
  private def nn(c: org.apache.spark.sql.Column) =
    coalesce(c.cast("string"), lit("<null>"))

  /** Null out every payload column on error rows (keep chapter+error) —
    * the row-level rendering of the reference's tagged union. */
  private def maskErrors(df: DataFrame): DataFrame = {
    val keep = Set("chapter", "error")
    df.select(df.columns.toIndexedSeq.map { c =>
      if (keep(c)) col(c)
      else when(col("error").isNull, col(c)).as(c)
    }: _*)
  }

  /** meetup.rkt:39-59 — flat renames + venue extraction with defaults +
    * photos transform (photo_link→url, width/height null; empty list
    * default per get-in '() at meetup.rkt:55). */
  def normalizeMeetup(raw: DataFrame): DataFrame =
    maskErrors(raw.select(
      col("id").as("event_id"),
      col("chapter"),
      col("link").as("url"),
      col("time"),
      col("utc_offset").as("utcOffset"),
      col("name").as("title"),
      col("description"),
      struct(
        col("venue.name").as("name"),
        col("venue.address_1").as("address1"),
        col("venue.address_2").as("address2"),
        col("venue.country").as("country"),
        col("venue.city").as("city"),
        col("venue.zip").as("postalCode"),
        col("venue.lon").as("lon"),
        col("venue.lat").as("lat")).as("venue"),
      coalesce(
        transform(col("photo_album.photo_sample"), p =>
          struct(p.getField("photo_link").as("url"),
            lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height"))),
        expr(s"CAST(array() AS $photosDdl)")).as("photos"),
      when(col("id").isNull,
        concat(lit("ERROR: missing id for event '"), nn(col("name")),
          lit("' in chapter "), nn(col("chapter")))).as("error")))

  /** facebook.rkt:35-55 — URL synthesis (A24), ISO8601+offset epoch
    * (A21, sign-corrected), markdown description (A23), photos null. */
  def normalizeFacebook(raw: DataFrame): DataFrame = {
    // accept every numeric ISO-8601 offset form the oracle's %z
    // accepts — +HHMM (the Graph API's form), +HH:MM, +HH; neither
    // side accepts a literal 'Z' (review r12: Spark's Z-pattern alone
    // rejected the standard colon form, so a '+02:00' capture became
    // an error row here but an ok row in DuckDB)
    val ts = coalesce(
      try_to_timestamp(col("start_time"), lit("yyyy-MM-dd'T'HH:mm:ssZ")),
      try_to_timestamp(col("start_time"), lit("yyyy-MM-dd'T'HH:mm:ssxxx")),
      try_to_timestamp(col("start_time"), lit("yyyy-MM-dd'T'HH:mm:ssx")))
    val sign = when(
      regexp_extract(col("start_time"), "([+-])\\d{2}:?(\\d{2})?$", 1) === "-",
      lit(-1L)).otherwise(lit(1L))
    val offH = regexp_extract(col("start_time"), "[+-](\\d{2}):?(\\d{2})?$", 1)
    val offM = regexp_extract(col("start_time"), "[+-]\\d{2}:?(\\d{2})?$", 1)
    val utcOffset = when(offH =!= "",
      sign * (offH.cast("long") * 3600L +
        when(offM =!= "", offM.cast("long")).otherwise(lit(0L)) * 60L) * 1000L)
    maskErrors(raw.select(
      col("id").as("event_id"),
      col("chapter"),
      concat(lit("https://facebook.com/"), col("id")).as("url"),
      (unix_timestamp(ts) * 1000).as("time"),
      utcOffset.as("utcOffset"),
      col("name").as("title"),
      mdToHtml(col("description")).as("description"),
      struct(
        col("place.name").as("name"),
        col("place.location.street").as("address1"),
        lit(null).cast("string").as("address2"),
        col("place.location.country").as("country"),
        col("place.location.city").as("city"),
        col("place.location.zip").as("postalCode"),
        col("place.location.longitude").as("lon"),
        col("place.location.latitude").as("lat")).as("venue"),
      lit(null).cast(photosDdl).as("photos"),
      when(col("id").isNull,
        concat(lit("ERROR: missing id for event '"), nn(col("name")),
          lit("' in chapter "), nn(col("chapter"))))
        .when(ts.isNull,
          concat(lit("ERROR: unparseable start_time '"), nn(col("start_time")),
            lit("' for event "), col("id"), lit(" in chapter "),
            nn(col("chapter")))).as("error")))
  }

  /** eventbrite.rkt:51-85 — named-TZ local → DST-aware UTC epoch +
    * offset (A22); event key = stringified UTC millis
    * (eventbrite.rkt:68); lon/lat arrive as strings → DOUBLE. */
  def normalizeEventbrite(raw: DataFrame): DataFrame = {
    val local = try_to_timestamp(col("start.local"), lit("yyyy-MM-dd'T'HH:mm:ss"))
    val utcTs = to_utc_timestamp(local, col("start.timezone"))
    val timeMs = (unix_timestamp(utcTs) * 1000)
    val offsetMs = (unix_timestamp(local) - unix_timestamp(utcTs)) * 1000
    maskErrors(raw.select(
      timeMs.cast("string").as("event_id"),
      col("chapter"),
      col("url"),
      timeMs.as("time"),
      offsetMs.as("utcOffset"),
      col("name.text").as("title"),
      col("description.html").as("description"),
      struct(
        col("venue.name").as("name"),
        col("venue.address.address_1").as("address1"),
        col("venue.address.address_2").as("address2"),
        col("venue.address.country").as("country"),
        col("venue.address.city").as("city"),
        col("venue.address.postal_code").as("postalCode"),
        col("venue.longitude").cast("double").as("lon"),
        col("venue.latitude").cast("double").as("lat")).as("venue"),
      lit(null).cast(photosDdl).as("photos"),
      when(local.isNull,
        concat(lit("ERROR: unparseable start.local for event "), nn(col("id")),
          lit(" in chapter "), nn(col("chapter"))))
        // parseable local time but no timezone → the UTC conversion
        // nulls out; without this a row with a null key/time would
        // sail through the ok channel
        .when(utcTs.isNull,
          concat(lit("ERROR: missing start.timezone for event "), nn(col("id")),
            lit(" in chapter "), nn(col("chapter"))))
        .as("error")))
  }

  /** api-runner.rkt:144-146 — unregistered adapters become error rows.
    * A NULL/missing adapter is as unregistered as a misspelled one:
    * without the explicit isNull branch the three-valued `NOT IN`
    * silently DROPS the chapter from both channels (review r12),
    * violating the tagged-union contract that every input row lands
    * in ok or error. */
  def unknownAdapterErrors(chapters: DataFrame): DataFrame =
    chapters
      .filter(col("adapter").isNull ||
        !col("adapter").isin("meetup", "facebook", "eventbrite"))
      .select(
        lit(null).cast("string").as("event_id"),
        col("chapter"),
        lit(null).cast("string").as("url"),
        lit(null).cast("bigint").as("time"),
        lit(null).cast("bigint").as("utcOffset"),
        lit(null).cast("string").as("title"),
        lit(null).cast("string").as("description"),
        lit(null).cast(
          "STRUCT<name: STRING, address1: STRING, address2: STRING," +
            "country: STRING, city: STRING, postalCode: STRING," +
            "lon: DOUBLE, lat: DOUBLE>").as("venue"),
        lit(null).cast(photosDdl).as("photos"),
        concat(lit("ERROR: No adapter "), nn(col("adapter")),
          lit(" found for chapter "), nn(col("chapter"))).as("error"))

  /** A13 dispatch: per-adapter normalize → unionByName. In the
    * reference this is the WORKERS registry + cond; here each source
    * is its own scan+select branch so Catalyst prunes each schema
    * independently — no per-row dynamic dispatch. */
  def dispatch(meetup: DataFrame, facebook: DataFrame,
               eventbrite: DataFrame, chapters: DataFrame): DataFrame =
    normalizeMeetup(meetup)
      .unionByName(normalizeFacebook(facebook))
      .unionByName(normalizeEventbrite(eventbrite))
      .unionByName(unknownAdapterErrors(chapters))

  /** A8 split: (ok, err) — the two sinks of write-response
    * (api-runner.rkt:55-61).
    *
    * The error frame ends in a `rebalance` hint: error rows are few and
    * spread thinly over every scan partition, so writing them where
    * they fall costs one write task (and one part file) per partition.
    * The rebalance lets AQE size the writer count by bytes instead —
    * one task while errors are small, more only when they are large.
    * `coalesce(1)` would pull the whole scan into one task, and
    * `repartition(1)` would cap the writer at one task at any scale. */
  def split(all: DataFrame): (DataFrame, DataFrame) =
    (all.filter(col("error").isNull).drop("error"),
      all.filter(col("error").isNotNull).select(col("chapter"), col("error"))
        .hint("rebalance"))

  /** A7 keyed JSON sink: one directory (and, via the repartition, one
    * file) per chapter — `{out}/chapter=<id>/part-*.json`. */
  def writeKeyedJson(ok: DataFrame, outPath: String): Unit =
    ok.repartition(col("chapter"))
      .write.mode("overwrite").partitionBy("chapter").json(outPath)

  /** A20 sink-edge map shape: the reference's per-chapter output is a
    * single JSON object keyed by event id (`for/hasheq` at
    * meetup.rkt:40-41, written at api-runner.rkt:39-52). Rows stay the
    * engine-internal representation; this reshapes to the reference's
    * observable envelope only at the boundary. */
  def toReferenceShape(ok: DataFrame): DataFrame =
    ok.groupBy(col("chapter"), col("event_id"))
      // the reference's for/hasheq LAST-writes colliding event ids
      // (possible: eventbrite ids are stringified start millis, so two
      // same-instant events collide) where map_from_entries THROWS
      // under the default EXCEPTION dedup policy (review r12). Spark
      // has no "source order" to replay, so pick the max struct — any
      // total order works, it just has to be deterministic. This is a
      // TRACKED divergence from the reference's last-write envelope:
      // SURVEY §2A "Tracked behavioral divergences" #1 records the
      // contract and the retire condition (an ingest-order surrogate).
      .agg(max(struct(col("url"), col("time"), col("utcOffset"),
        col("title"), col("description"), col("venue"), col("photos")))
        .as("event"))
      .groupBy(col("chapter"))
      .agg(map_from_entries(collect_list(struct(
        col("event_id"), col("event")))).as("events"))
}
