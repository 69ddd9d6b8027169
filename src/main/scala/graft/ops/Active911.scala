package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.text.ParseException
import java.time.{DateTimeException, ZoneOffset}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.api.java.{UDF1, UDF3}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.StringDecode
import org.apache.spark.sql.catalyst.expressions.csv.CsvToStructsEvaluator
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, NumberConverter, TimestampFormatter}
import org.apache.spark.sql.catalyst.util.LegacyDateFormats.SIMPLE_DATE_FORMAT
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
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
  *  - From the source to the sink the pipeline is ONE whole-stage-codegen
  *    stage of two generators and two projections, and each envelope and
  *    each CSV record is parsed once. No array higher-order function
  *    (`transform`, `filter`, `aggregate`) appears: in Spark 4.1 they are
  *    `CodegenFallback`, and one of them drops its whole Filter or
  *    Project out of codegen, so every task regenerates that operator's
  *    code. `from_json` is `CodegenFallback` too, which is one more
  *    reason the envelope decode is a row function.
  *  - Each row-level step (the envelope decode, JS `Number()`, the
  *    coordinate fix, the time parse, the responder links) is ONE
  *    row-at-a-time function, not a tree of Catalyst expressions. A
  *    stream re-analyzes, re-optimizes and regenerates the stage's Java
  *    source on every trigger (and plans each batch twice), a batch on
  *    every cycle, so plan size is a fixed cost per trigger: written as
  *    expressions, the optimizer inlines the JS `Number()` `CASE` ~14
  *    times and the plan holds ~1,600 expression nodes, and the
  *    four-step decode alone was a third of the 146 left after that. A
  *    `ScalaUDF` compiles into the stage like any expression, and the
  *    tests keep the replaced expressions as the models the functions
  *    must equal. Each is declared through the Java `UDF1`/`UDF3` API
  *    with its result type: a typed Scala lambda would carry
  *    `ExpressionEncoder`s, whose projections every task generates
  *    again. The two that drop or multiply rows (decode, fix) return an
  *    array that `inline` explodes, so the optimizer has no predicate to
  *    push below them and no parse to paste into a pushed filter once
  *    per column read.
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

  /** Spark's `trim` of `coalesce(s, '')`: ASCII spaces only, unlike
    * `String.trim`.
    */
  private def sparkTrim(s: String): String =
    UTF8String.fromString(Option(s).getOrElse("")).trim().toString

  private val NumberShape =
    Pattern.compile("^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$")
  private val InfinityShape = Pattern.compile("^[+-]?Infinity$")
  private val RadixShapes: Seq[(Pattern, Int)] =
    Seq(("xX", "0-9a-fA-F", 16), ("bB", "01", 2), ("oO", "0-7", 8)).map {
      case (prefix, digits, base) => Pattern.compile(s"^0[$prefix][$digits]+$$") -> base
    }

  /** JS `Number(x)` semantics on one string (reference `task.ts:172, 176,
    * 229`): trimmed of ASCII spaces (Spark's `trim`); null or empty → 0
    * (the JS `Number('') === 0` quirk, SURVEY.md §7.5#4); `±Infinity`
    * (exact case, sign allowed) → ±∞; unsigned `0x`/`0b`/`0o` radix
    * literals → their value (signs make them NaN in JS, and do here);
    * any other numeric shape → its double; anything else → NaN.
    *
    * Step for step the Catalyst expression this replaced (kept in the
    * tests as the model): the same patterns, matched with `find` as
    * `rlike` does (so `$` also matches before one final line terminator),
    * radix digits through `conv`'s own converter (its unsigned 64-bit
    * window: 2⁶⁴ and beyond read as 2⁶⁴−1), and the string-to-double
    * cast's `parseDouble`, which yields null (not NaN) for a numeric shape
    * ending in a line terminator it does not trim, such as U+2028. ANSI
    * mode does not change the result.
    */
  def jsNumber(raw: String): java.lang.Double = {
    val t = sparkTrim(raw)
    def is(p: Pattern) = p.matcher(t).find()
    lazy val radix = RadixShapes.collectFirst { case (p, base) if is(p) => base }
    if (t.isEmpty) 0.0
    else if (is(InfinityShape)) {
      if (t.startsWith("-")) Double.NegativeInfinity else Double.PositiveInfinity
    } else if (radix.isDefined) NumberConverter.convert(
      t.substring(2).getBytes(UTF_8), radix.get, 10, false, null).toString.toDouble
    else if (!is(NumberShape)) Double.NaN
    else try t.toDouble catch { case _: NumberFormatException => null }
  }

  private val jsNumberOf: UDF1[String, java.lang.Double] = s => jsNumber(s)
  private val JsNumberUdf = udf(jsNumberOf, DoubleType)

  /** [[jsNumber]] on a string column. */
  def jsNumber(c: Column): Column = JsNumberUdf(c)

  private val JsonpHead = "^.*?\\("
  private val JsonpTail = "\\)$"

  /** Strip a JSONP wrapper: drop everything up to the first '(' and a
    * trailing ')' (reference `task.ts:156-160`).
    */
  def unwrapJsonp(c: Column): Column =
    regexp_replace(regexp_replace(trim(c), JsonpHead, ""), JsonpTail, "")

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
    *
    * Row-at-a-time ([[parseMicros]]), the one time path shared with the
    * Feature `start` and the links' `production_time`.
    */
  def parseTime(c: Column): Column = timestamp_micros(MicrosUdf(c))

  private val FallbackDate = Pattern.compile(FallbackDateRegex)
  // the formatters `try_to_timestamp` and `date_format` build, under the
  // UTC session time zone that [[isoUtc]] requires
  private lazy val WallClock = TimestampFormatter("M/d/yyyy H:mm:ss",
    ZoneOffset.UTC, SIMPLE_DATE_FORMAT, isParsing = true)
  private lazy val IsoClock = TimestampFormatter("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
    ZoneOffset.UTC, SIMPLE_DATE_FORMAT, isParsing = false)


  /** [[parseTime]] of one string as epoch microseconds, step for step the
    * Catalyst expression it replaced (kept in the tests as the model):
    * the same split on spaces, zone table and fallback pattern, Spark's
    * own `try_to_timestamp` formatter and `to_utc_timestamp`'s shift.
    */
  private def parseMicros(raw: String): Option[Long] = {
    def wall(s: String): Option[Long] =
      try Some(WallClock.parse(s))
      catch { case _: DateTimeException | _: ParseException => None }
    val t = sparkTrim(raw)
    val parts = t.split(" ", -1)
    TimezoneMappings.get(parts.last) match {
      case Some(zone) => wall(parts.init.mkString(" ")).map(DateTimeUtils.toUTCTime(_, zone))
      case None =>
        val m = FallbackDate.matcher(t)
        wall(if (m.find()) m.group(1) else "")
    }
  }

  /** `isoUtc(parseTime(_))` of one string. */
  private def isoTime(raw: String): String = parseMicros(raw).map(IsoClock.format).orNull

  private val microsOf: UDF1[String, java.lang.Long] = s => parseMicros(s).map(Long.box).orNull
  private val MicrosUdf = udf(microsOf, LongType)
  private val isoTimeOf: UDF1[String, String] = s => isoTime(s)
  private val IsoTimeUdf = udf(isoTimeOf, StringType)

  /** ISO-8601 with milliseconds, as moment's `toISOString()` emits
    * (reference `task.ts:72,75`). Requires UTC session timezone.
    */
  def isoUtc(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")

  /** One CSV record of a decoded blob: a run of unquoted non-newline text
    * and quoted fields (standard `""` escaping is two adjacent quoted
    * runs), so newlines inside quotes (the `responses` column — reference
    * `task.ts:195-196`; SURVEY.md §7.5#3) never split a record. The
    * matches cover the blob in one linear pass; possessive quantifiers
    * keep java.util.regex iterating instead of recursing per quote pair.
    * Blank lines produce no match.
    */
  private val CsvRecord = Pattern.compile("(?:[^\"\n]++|\"[^\"]*+\")++")
  private val Jsonp = Seq(JsonpHead, JsonpTail).map(Pattern.compile)
  private val Utf8 = UTF8String.fromString("UTF-8")

  /** The whole envelope decode of one raw envelope, for [[alertsFromEnvelopes]].
    * Step for step the four Catalyst steps it replaced (kept in the tests
    * as the model), with the same code Spark runs for each: Spark's
    * `trim` and the two JSONP patterns applied as `regexp_replace` does;
    * the `JsonToStructsEvaluator` and `CsvToStructsEvaluator` that
    * `from_json` and `from_csv` evaluate, with their options, schema,
    * corrupt-record column and time zone; `unbase64`'s MIME decoder; and
    * `decode`'s `StringDecode.decode` under the session's legacy flags,
    * so malformed UTF-8 raises as it does there. Rows are dropped as the
    * filters did: `result = 'error'`, a null envelope or message, the
    * first record (the header) and records blank after `trim`.
    *
    * Holds only the settings it was built with; the parsers keep
    * per-record state, so each thread gets its own pair.
    */
  private final case class Decode(timeZone: String, corruptRecord: String,
      legacyCharsets: Boolean, legacyErrorAction: Boolean, variantDupKeys: Boolean)
      extends UDF1[String, Seq[Row]] {
    @transient private lazy val parsers = ThreadLocal.withInitial(() => (
      JsonToStructsEvaluator(Map.empty, envelopeSchema, corruptRecord, Some(timeZone),
        variantDupKeys),
      CsvToStructsEvaluator(Map("quote" -> "\"", "escape" -> "\""), alertSchema,
        corruptRecord, Some(timeZone), None)))

    def call(raw: String): Seq[Row] = {
      val (json, csv) = parsers.get
      val body = Option(raw).map(r =>
        Jsonp.foldLeft(sparkTrim(r))((s, p) => p.matcher(s).replaceAll("")))
      val env = body.flatMap(b =>
        Option(json.evaluate(UTF8String.fromString(b)).asInstanceOf[InternalRow]))
      val message = env.filter(e => e.isNullAt(0) || e.getUTF8String(0).toString != "error")
        .collect { case e if !e.isNullAt(1) => e.getUTF8String(1).toString }
      message.toSeq.flatMap { m =>
        val bytes = java.util.Base64.getMimeDecoder.decode(m)
        val text = StringDecode.decode(bytes, Utf8, legacyCharsets, legacyErrorAction).toString
        val records = CsvRecord.matcher(text.replace("\r\n", "\n"))
        val alerts = Vector.newBuilder[Row]
        var header = true
        while (records.find()) {
          val record = UTF8String.fromString(records.group())
          if (header) header = false
          else if (record.trim().numBytes > 0) alerts += toRow(csv.evaluate(record))
        }
        alerts.result()
      }
    }

    private def toRow(alert: InternalRow): Row = Row.fromSeq(AlertColumns.indices.map(i =>
      if (alert.isNullAt(i)) null else alert.getUTF8String(i).toString))
  }

  /** Decode wire envelopes into alert rows (reference `task.ts:155-170`):
    * JSONP unwrap → JSON parse → base64 decode → CSV parse against
    * [[alertSchema]] (header row dropped; header order is the export's
    * schema order). Rows with `result = 'error'` are excluded — route
    * them through [[envelopeErrors]] (the reference's error side channel,
    * `task.ts:162-165`). Pass-through columns of `envelopes` (e.g.
    * `agency_id`) are preserved. Truncated base64 and malformed UTF-8
    * fail the query, as `unbase64` and `decode` do.
    *
    * One generator over one row function ([[Decode]]), built with the
    * settings of the active session: as four Catalyst steps (a JSON
    * parse, a filter, a record split and a CSV parse, each a generator
    * so that no filter is pushed below a parse) the decode was 13
    * physical operators, most of the plan a trigger re-plans.
    */
  def alertsFromEnvelopes(envelopes: DataFrame, rawCol: String = "raw"): DataFrame = {
    val conf = SQLConf.get
    val decode = udf(Decode(conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord,
      conf.legacyJavaCharsets, conf.legacyCodingErrorAction,
      conf.getConf(SQLConf.VARIANT_ALLOW_DUPLICATE_KEYS)),
      ArrayType(alertSchema, containsNull = false))
    val passThrough = envelopes.columns.filterNot(_ == rawCol).map(col).toSeq
    envelopes.select((passThrough :+ inline(decode.asNonNullable()(col(rawCol)))): _*)
  }

  /** The error branch of the envelope decode (reference `task.ts:162-165`):
    * one row per failed agency envelope with its API error message. The
    * JSON parse is the element of a one-element array exploded by a
    * generator, so the filter on `_env` cannot be pushed below it and
    * copy the parse.
    */
  def envelopeErrors(envelopes: DataFrame, rawCol: String = "raw"): DataFrame = {
    val passThrough = envelopes.columns.filterNot(_ == rawCol).map(col).toSeq
    envelopes
      .select((passThrough :+ explode(array(
        from_json(unwrapJsonp(col(rawCol)), envelopeSchema))).as("_env")): _*)
      .filter(col("_env.result") === "error")
      .select((passThrough :+ col("_env.message").as("error")): _*)
  }

  /** The coordinates a kept alert gets, the element type of [[fixOf]]. */
  private val Fixed: StructType = StructType(
    Seq("f_lon", "f_lat").map(StructField(_, DoubleType, nullable = true)))

  /** `[]` to drop the alert, or its one `(f_lon, f_lat)`. A [[jsNumber]]
    * can be null (see there), so `needFix` is SQL's three-valued
    * `lon = 0 OR lat = 0`: unknown keeps the direct coordinates when
    * `place` is valid, and drops the row otherwise, as the filter did.
    */
  private val fixOf: UDF3[String, String, String, Seq[Row]] = (lon, lat, place) => {
    val (lonN, latN) = (jsNumber(lon), jsNumber(lat))
    val zero = Seq(lonN, latN).map(d => Option(d).map(_.doubleValue == 0.0))
    val needFix =
      if (zero.contains(Some(true))) Some(true) else if (zero.contains(None)) None else Some(false)
    lazy val fromPlace = {
      val parts = sparkTrim(place).split(",", -1)
      val placeLat = jsNumber(parts(0))
      val placeLon = jsNumber(if (parts.length > 1) parts(1) else null)
      val ok = parts.length >= 2 && Seq(placeLat, placeLon).forall(d => d == null || !d.isNaN)
      Option.when(ok)(Row(placeLon, placeLat))
    }
    needFix match {
      case Some(false) => Seq(Row(lonN, latN))
      case Some(true) => fromPlace.toSeq
      case None => fromPlace.map(_ => Row(lonN, latN)).toSeq
    }
  }

  private val FixUdf =
    udf(fixOf, ArrayType(Fixed, containsNull = false)).asNonNullable()

  /** Coordinate fix/filter (reference `task.ts:172-185`): if either
    * coordinate is JS-zero (including the empty-string→0 quirk), fall
    * back to parsing `place` as "lat,lon[,...]" (note lat-first; slice to
    * 2); if that fails, DROP the row silently (`continue`, `task.ts:183` —
    * the silent counterpart of the loud error channel, SURVEY.md §2.12 E2).
    * Adds `f_lon`/`f_lat` double columns for the geometry.
    *
    * One generator over one row function: the filter and the values come
    * from one evaluation, so the optimizer has no predicate to push below
    * the decode and no expression to paste into several projections.
    */
  def fixCoordinates(alerts: DataFrame): DataFrame =
    alerts.select(col("*"), inline(FixUdf(col("lon"), col("lat"), col("place"))))

  /** One responder link, the element type of [[responseLinks]]. */
  private val Link: StructType = StructType(
    Seq("relation", "callsign", "remarks", "production_time")
      .map(StructField(_, StringType, nullable = true)))

  private val LinePattern = Pattern.compile(ResponseRegex)
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
    * into the stage. Trim follows Spark's `trim`, and `production_time`
    * is the same function as the Feature `start`: `isoUtc(parseTime(_))`.
    */
  def responseLinks(responses: Column): Column = LinksUdf(responses)

  private val Ind32 = " " * 32
  private val Ind28 = " " * 28

  /** The values of a Feature as columns, beside the columns `keep`. */
  private def featureValues(alerts: DataFrame, keep: String*): DataFrame =
    alerts.select(keep.map(col) ++ Seq(
      concat(lit("active911-"), coalesce(col("id"), lit(""))).as("id"),
      coalesce(col("description"), lit("")).as("callsign"),
      IsoTimeUdf(col("sent")).as("start"),
      responseLinks(col("responses")).as("links"),
      concat(
        lit("\n" + Ind32 + "Groups: "), coalesce(col("units"), lit("")),
        lit("\n" + Ind32 + "Author: "), coalesce(col("source"), lit("")),
        lit("\n" + Ind32), coalesce(col("details"), lit("")),
        lit("\n" + Ind28)).as("remarks")): _*)

  /** The Feature of [[featureValues]] and the fixed `f_lon`/`f_lat`. */
  private def assemble(values: DataFrame): DataFrame =
    values.select(
      col("id"),
      lit("Feature").as("type"),
      struct(Seq("callsign", "start", "links", "remarks").map(col): _*).as("properties"),
      struct(
        lit("Point").as("type"),
        array(col("f_lon"), col("f_lat")).as("coordinates")).as("geometry"))

  /** GeoJSON Point Feature assembly (reference `task.ts:214-231`), with
    * the remarks template's exact newlines/indentation (`task.ts:221-225`)
    * byte-preserved for golden-file parity.
    * Expects [[fixCoordinates]] to have run (consumes `f_lon`/`f_lat`).
    */
  def features(fixed: DataFrame): DataFrame =
    assemble(featureValues(fixed, "f_lon", "f_lat"))

  /** Full reference dataflow: wire envelopes → Features (SURVEY.md §7.2
    * minimum slice: S3,S5,S6,P1,P2,P3,F6,G1,F4,A1,A2,R1,U1 in one
    * shuffle-free lineage). Union across agencies is structural: one
    * input row per agency envelope (SURVEY.md §2.8 U1, bag semantics).
    *
    * The [[features]] values are computed before the coordinate fix and
    * put into structs after it, so `properties` is a struct of columns.
    * The optimizer inlines such a struct into a consumer that reads some
    * of its fields and prunes the others: q50 reads `callsign` and
    * `remarks` and never runs the links or `start`. A struct of
    * expressions read twice stays whole, and all of it is computed. The
    * price: the rows the fix drops have their values computed too.
    */
  def pipeline(envelopes: DataFrame, rawCol: String = "raw"): DataFrame =
    assemble(fixCoordinates(featureValues(alertsFromEnvelopes(envelopes, rawCol),
      "lon", "lat", "place")))
}
