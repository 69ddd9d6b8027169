package graft.ops

import java.text.ParseException
import java.time.{DateTimeException, ZoneOffset}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, TimestampFormatter}
import org.apache.spark.sql.catalyst.util.LegacyDateFormats.SIMPLE_DATE_FORMAT
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference dataflow (dfpc-coe/etl-active911 `task.ts:98-243`)
  * re-expressed as composable, shuffle-free DataFrame transforms.
  *
  * Wire envelope (JSONP → JSON → base64 CSV) → per-row validate/clean →
  * responder-log explode/extract/dedup → GeoJSON Point Feature.
  *
  * Design notes (Spark-first, 100 TB stance):
  *  - Every step here is a narrow transformation — the whole pipeline
  *    runs with ZERO shuffles; one input split (an agency's envelope
  *    batch) never leaves its executor.
  *  - Below the sink the pipeline is ONE whole-stage-codegen stage, and
  *    each envelope's JSON and each CSV record is parsed once. Two things
  *    keep it so. No array higher-order function (`transform`, `filter`,
  *    `aggregate`) appears: in Spark 4.1 they are `CodegenFallback`, and
  *    one of them drops its whole Filter or Project out of codegen, so
  *    every task regenerates that operator's code. And both parses are
  *    generators (`explode`/`inline` of a one-element array): the
  *    optimizer pushes a filter below a plain `from_csv`/`from_json`
  *    projection by pasting the parse into the predicate once per column
  *    read, but it cannot push a predicate on generated columns below the
  *    `Generate`.
  *  - The responder dedup (reference `task.ts:187-209`, a JS `Map` with
  *    last-writer-wins values but first-insertion iteration order) is done
  *    *inside the row*, not a groupBy+window — the 1:N explode/re-group
  *    never needs an exchange because the N side is embedded in the row
  *    to begin with. A window/groupBy formulation of the same dedup is
  *    exercised separately by the relational query suite (SURVEY.md §2.6
  *    A1).
  */
object Active911 {

  /** The 24 CSV columns of the alert export, in schema order — all strings
    * on ingest (reference `task.ts:18-43`, TypeBox `OutputSchema`).
    */
  val AlertColumns: Seq[String] = Seq(
    "id", "received", "sent", "priority", "description", "details",
    "external_data", "place", "address", "unit", "cross_street", "city",
    "state", "lat", "lon", "coordinate_source", "source", "units",
    "cad_code", "map_code", "map_id", "alert_key", "messages", "responses")

  val alertSchema: StructType =
    StructType(AlertColumns.map(StructField(_, StringType, nullable = true)))

  /** JSONP envelope body: `{"result": "...", "message": "<base64 csv>"}`
    * (reference `task.ts:155-167`).
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("result", StringType), StructField("message", StringType)))

  /** Abbrev → IANA zone lookup, verbatim from reference `task.ts:45-64`
    * including the deliberate quirks: DST pairs collapsed to one zone and
    * HDT → Pacific/Honolulu (Honolulu observes no DST) — replicated, not
    * fixed, to match reference output.
    */
  val TimezoneMappings: Map[String, String] = Map(
    "EDT" -> "America/New_York", "EST" -> "America/New_York",
    "CDT" -> "America/Chicago", "CST" -> "America/Chicago",
    "MDT" -> "America/Denver", "MST" -> "America/Denver",
    "PDT" -> "America/Los_Angeles", "PST" -> "America/Los_Angeles",
    "AKDT" -> "America/Anchorage", "AKST" -> "America/Anchorage",
    "HDT" -> "Pacific/Honolulu", "HST" -> "Pacific/Honolulu",
    "ADT" -> "America/Halifax", "AST" -> "America/Halifax",
    "NDT" -> "America/St_Johns", "NST" -> "America/St_Johns",
    "UTC" -> "UTC", "GMT" -> "Etc/GMT")

  /** Responder-log line pattern, 4 capture groups (response, name, id,
    * time) — reference `task.ts:121`.
    */
  val ResponseRegex = "Got a response of (.+?) to (.+?)\\((\\d+)\\) at (.+?)\\."

  private val NumberRegex = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"

  /** JS `Number(x)` semantics on a string column (reference `task.ts:172,
    * 176, 229`): whitespace-trimmed; empty → 0 (the JS `Number('') === 0`
    * quirk, SURVEY.md §7.5#4); `±Infinity` (exact case, sign allowed) →
    * ±∞; unsigned `0x`/`0b`/`0o` radix literals → their value (signs make
    * them NaN in JS, and do here); non-numeric → NaN (never null).
    * ANSI-safe: every cast runs behind a shape guard. Radix values are
    * exact to 2⁶³ (`conv`'s unsigned-long window) — beyond JS's own 2⁵³
    * double-exact range, so any divergence needs a >19-digit hex literal
    * in a coordinate field.
    */
  def jsNumber(c: Column): Column = {
    val t = trim(coalesce(c, lit("")))
    def radix(prefix: String, digits: String, base: Int) =
      t.rlike(s"^0[$prefix][$digits]+$$") ->
        conv(substring(t, 3, 1000000), base, 10).cast(DoubleType)
    val (isHex, hexVal) = radix("xX", "0-9a-fA-F", 16)
    val (isBin, binVal) = radix("bB", "01", 2)
    val (isOct, octVal) = radix("oO", "0-7", 8)
    when(t === "", lit(0.0))
      .when(t.rlike("^[+-]?Infinity$"),
        when(t.startsWith("-"), Double.NegativeInfinity)
          .otherwise(Double.PositiveInfinity))
      .when(isHex, hexVal).when(isBin, binVal).when(isOct, octVal)
      .when(t.rlike(NumberRegex), t.cast(DoubleType))
      .otherwise(lit(Double.NaN))
  }

  /** Strip a JSONP wrapper: drop everything up to the first '(' and a
    * trailing ')' (reference `task.ts:156-160`).
    */
  def unwrapJsonp(c: Column): Column =
    regexp_replace(regexp_replace(trim(c), "^.*?\\(", ""), "\\)$", "")

  /** The leading `M/d/yyyy H:mm:ss` of an unzoned time (group 1). */
  private val FallbackDateRegex =
    "^(\\d{1,2}/\\d{1,2}/\\d{4} \\d{1,2}:\\d{2}:\\d{2})"

  /** `parseTime` (reference `task.ts:66-76`): split off the trailing
    * token; if it is a mapped tz abbreviation, parse the rest as
    * `MM/DD/YYYY HH:mm:ss` wall time in that zone; otherwise parse the
    * leading date portion as UTC (moment's non-strict parse ignores the
    * unknown trailing abbreviation). Unparseable → null (moment's
    * `Invalid date → toISOString() = null`). Returns TimestampType (UTC
    * instant); serialize with [[isoUtc]].
    *
    * DELIBERATE DIVERGENCE (pinned in PropertySpec): the reference's
    * fallback is moment NON-STRICT against 'MM/DD/YYYY HH:mm:ss z'
    * (task.ts:75), whose fuzzy matcher coerces inputs that merely
    * contain digit runs — an ISO string like `2024-03-01T12:00:00`
    * yields a garbage-but-valid instant (digits bind positionally to
    * MM, DD, YYYY…, overflow wraps). Replicating the fuzz would mean
    * re-implementing moment's token scanner to reproduce garbage; this
    * engine instead requires the `M/d/yyyy H:mm:ss` shape and returns
    * null for anything else. Identical on every shape the Active911
    * export emits; divergent only where the reference's answer is
    * wrong anyway.
    */
  def parseTime(c: Column): Column = {
    val t = trim(coalesce(c, lit("")))
    val parts = split(t, " ")
    val abbr = element_at(parts, -1)
    val zone = element_at(typedlit(TimezoneMappings), abbr)
    val datePart = array_join(slice(parts, lit(1), size(parts) - 1), " ")
    val mapped = to_utc_timestamp(
      try_to_timestamp(datePart, lit("M/d/yyyy H:mm:ss")), zone)
    val fallbackDate = regexp_extract(t, FallbackDateRegex, 1)
    val fallback = try_to_timestamp(fallbackDate, lit("M/d/yyyy H:mm:ss"))
    when(zone.isNotNull, mapped).otherwise(fallback)
  }

  /** ISO-8601 with milliseconds, as moment's `toISOString()` emits
    * (reference `task.ts:72,75`). Requires UTC session timezone.
    */
  def isoUtc(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")

  /** Split one CSV text blob into records on newlines that are OUTSIDE
    * quoted fields (the `responses` column embeds newlines — reference
    * `task.ts:195-196`; SURVEY.md §7.5#3). Each record is MATCHED as a
    * run of unquoted non-newline text and quoted fields (standard `""`
    * escaping is two adjacent quoted runs), so one linear pass covers
    * the blob; possessive quantifiers keep java.util.regex iterating
    * instead of recursing per quote pair. Blank records produce no
    * match and are skipped. For file-based ingest use
    * `spark.read.option("multiLine",true).csv`.
    */
  def csvRecords(text: Column): Column =
    regexp_extract_all(regexp_replace(text, "\r\n", "\n"),
      lit("(?:[^\"\n]++|\"[^\"]*+\")++"), lit(0))

  /** Envelope rows with their parsed body as one `_env` struct column
    * (`result`, `message`), pass-through columns first. The JSON parse
    * is the element of a one-element array exploded by a generator, so a
    * filter on `_env` cannot be pushed below it and copy the parse.
    */
  private def parsedEnvelopes(envelopes: DataFrame, rawCol: String): (Seq[Column], DataFrame) = {
    val passThrough = envelopes.columns.filterNot(_ == rawCol).map(col).toSeq
    (passThrough, envelopes.select((passThrough :+ explode(array(
      from_json(unwrapJsonp(col(rawCol)), envelopeSchema))).as("_env")): _*))
  }

  /** Decode wire envelopes into alert rows (reference `task.ts:155-170`):
    * JSONP unwrap → JSON parse → base64 decode → CSV parse against
    * [[alertSchema]] (header row dropped; header order is the export's
    * schema order). Rows with `result = 'error'` are excluded — route
    * them through [[envelopeErrors]] (the reference's error side channel,
    * `task.ts:162-165`). Pass-through columns of `envelopes` (e.g.
    * `agency_id`) are preserved.
    *
    * The CSV parse is a generator (`inline` of a one-element array), so
    * each record is parsed once: were it a projection, the optimizer
    * would push the coordinate filter of [[fixCoordinates]] below it and
    * paste a pruned `from_csv` into the predicate for every column read.
    */
  def alertsFromEnvelopes(envelopes: DataFrame, rawCol: String = "raw"): DataFrame = {
    val (passThrough, env) = parsedEnvelopes(envelopes, rawCol)
    env
      .filter(coalesce(col("_env.result"), lit("")) =!= "error")
      .select((passThrough :+
        posexplode(csvRecords(decode(unbase64(col("_env.message")), "UTF-8")))): _*)
      .filter(col("pos") >= 1 && trim(col("col")) =!= "") // drop header + trailing blank
      .select((passThrough :+ inline(array(from_csv(col("col"), alertSchema,
        Map("quote" -> "\"", "escape" -> "\""))))): _*)
  }

  /** The error branch of the envelope decode (reference `task.ts:162-165`):
    * one row per failed agency envelope with its API error message.
    */
  def envelopeErrors(envelopes: DataFrame, rawCol: String = "raw"): DataFrame = {
    val (passThrough, env) = parsedEnvelopes(envelopes, rawCol)
    env
      .filter(col("_env.result") === "error")
      .select((passThrough :+ col("_env.message").as("error")): _*)
  }

  /** Coordinate fix/filter (reference `task.ts:172-185`): if either
    * coordinate is JS-zero (including the empty-string→0 quirk), fall
    * back to parsing `place` as "lat,lon[,...]" (note lat-first; slice to
    * 2); if that fails, DROP the row silently (`continue`, `task.ts:183` —
    * the silent counterpart of the loud error channel, SURVEY.md §2.12 E2).
    * Adds `f_lon`/`f_lat` double columns for the geometry.
    */
  def fixCoordinates(alerts: DataFrame): DataFrame = {
    val lonN = jsNumber(col("lon"))
    val latN = jsNumber(col("lat"))
    val needFix = lonN === 0.0 || latN === 0.0
    val parts = split(trim(coalesce(col("place"), lit(""))), ",")
    val placeLat = jsNumber(get(parts, lit(0)))
    val placeLon = jsNumber(get(parts, lit(1)))
    val placeValid = size(parts) >= 2 && !isnan(placeLat) && !isnan(placeLon)
    alerts
      .withColumn("f_lon", when(needFix, placeLon).otherwise(lonN))
      .withColumn("f_lat", when(needFix, placeLat).otherwise(latN))
      .filter(!needFix || placeValid)
  }

  /** One responder link, the element type of [[responseLinks]]. */
  private val Link: StructType = StructType(
    Seq("relation", "callsign", "remarks", "production_time")
      .map(StructField(_, StringType, nullable = true)))

  private val LinePattern = Pattern.compile(ResponseRegex)
  private val FallbackDate = Pattern.compile(FallbackDateRegex)
  // the formatters `try_to_timestamp` and `date_format` build, under the
  // UTC session time zone that [[isoUtc]] requires
  private lazy val WallClock = TimestampFormatter("M/d/yyyy H:mm:ss",
    ZoneOffset.UTC, SIMPLE_DATE_FORMAT, isParsing = true)
  private lazy val IsoClock = TimestampFormatter("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
    ZoneOffset.UTC, SIMPLE_DATE_FORMAT, isParsing = false)

  /** Spark's `trim`: ASCII spaces only, unlike `String.trim`. */
  private def sparkTrim(s: String): String = UTF8String.fromString(s).trim().toString

  /** `isoUtc(parseTime(lit(t)))` on a driver- or task-side string, step
    * for step: the same split, zone table, fallback pattern and Spark
    * formatters, and `to_utc_timestamp`'s own shift.
    */
  private def isoTime(raw: String): String = {
    def wall(s: String): Option[Long] =
      try Some(WallClock.parse(s))
      catch { case _: DateTimeException | _: ParseException => None }
    val t = sparkTrim(raw)
    val parts = t.split(" ", -1)
    val micros = TimezoneMappings.get(parts.last) match {
      case Some(zone) => wall(parts.init.mkString(" ")).map(DateTimeUtils.toUTCTime(_, zone))
      case None =>
        val m = FallbackDate.matcher(t)
        wall(if (m.find()) m.group(1) else "")
    }
    micros.map(IsoClock.format).orNull
  }

  private val linksOf: UDF1[String, Seq[Row]] = responses => {
    val byCallsign = new java.util.LinkedHashMap[String, Row]()
    for (line <- Option(responses).getOrElse("").split("\n", -1)
         if line.startsWith("Got a response of ")) {
      val m = LinePattern.matcher(line)
      val link =
        if (m.find()) Row("t-s", sparkTrim(m.group(2)), sparkTrim(m.group(1)),
          isoTime(m.group(4)))
        else Row("t-s", "Unknown", "Unknown", null)
      byCallsign.put(link.getString(1), link)
    }
    byCallsign.values.asScala.toSeq
  }

  private val LinksUdf =
    udf(linksOf, ArrayType(Link, containsNull = false)).asNonNullable()

  /** Responder links from the embedded free-text log (reference
    * `task.ts:187-209`): split on newlines, keep `"Got a response of "`
    * lines, regex-match each once (unmatched → 'Unknown'), then dedup per
    * callsign with JS-Map semantics — LAST occurrence wins the value,
    * FIRST occurrence fixes the output position (exactly what
    * `LinkedHashMap.put` does). All in-row (no shuffle); `null` → `[]`.
    *
    * One row-at-a-time function, not array higher-order functions: those
    * are `CodegenFallback` in Spark 4.1 and would knock the whole
    * projection out of whole-stage codegen, while a `ScalaUDF` compiles
    * into the stage. Trim and `production_time` follow the Catalyst
    * expressions they replace (`trim`, `isoUtc(parseTime(_))`), through
    * Spark's own formatters; PropertySpec cross-checks the two time paths.
    */
  def responseLinks(responses: Column): Column = LinksUdf(responses)

  private val Ind32 = " " * 32
  private val Ind28 = " " * 28

  /** GeoJSON Point Feature assembly (reference `task.ts:214-231`), with
    * the remarks template's exact newlines/indentation (`task.ts:221-225`)
    * byte-preserved for golden-file parity.
    * Expects [[fixCoordinates]] to have run (consumes `f_lon`/`f_lat`).
    */
  def features(fixed: DataFrame): DataFrame =
    fixed.select(
      concat(lit("active911-"), coalesce(col("id"), lit(""))).as("id"),
      lit("Feature").as("type"),
      struct(
        coalesce(col("description"), lit("")).as("callsign"),
        isoUtc(parseTime(col("sent"))).as("start"),
        responseLinks(col("responses")).as("links"),
        concat(
          lit("\n" + Ind32 + "Groups: "), coalesce(col("units"), lit("")),
          lit("\n" + Ind32 + "Author: "), coalesce(col("source"), lit("")),
          lit("\n" + Ind32), coalesce(col("details"), lit("")),
          lit("\n" + Ind28)).as("remarks")).as("properties"),
      struct(
        lit("Point").as("type"),
        array(col("f_lon"), col("f_lat")).as("coordinates")).as("geometry"))

  /** Full reference dataflow: wire envelopes → Features (SURVEY.md §7.2
    * minimum slice: S3,S5,S6,P1,P2,P3,F6,G1,F4,A1,A2,R1,U1 in one
    * shuffle-free lineage). Union across agencies is structural: one
    * input row per agency envelope (SURVEY.md §2.8 U1, bag semantics).
    */
  def pipeline(envelopes: DataFrame, rawCol: String = "raw"): DataFrame =
    features(fixCoordinates(alertsFromEnvelopes(envelopes, rawCol)))
}
