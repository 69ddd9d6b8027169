package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.ops.Active911

/** The Catalyst-expression forms of `Active911`'s per-row steps, as
  * they stood before each became one row-at-a-time function: the models
  * PropertySpec holds the row functions to, value for value.
  */
object Active911Catalyst {

  private val NumberRegex = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"

  /** JS `Number(x)`: trimmed; empty → 0; `±Infinity` → ±∞; unsigned
    * `0x`/`0b`/`0o` literals through `conv`; numeric shapes cast; else NaN.
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

  private val FallbackDateRegex =
    "^(\\d{1,2}/\\d{1,2}/\\d{4} \\d{1,2}:\\d{2}:\\d{2})"

  /** A mapped trailing zone abbreviation parses the rest as wall time in
    * that zone; otherwise the leading `M/d/yyyy H:mm:ss` as UTC; else null.
    */
  def parseTime(c: Column): Column = {
    val t = trim(coalesce(c, lit("")))
    val parts = split(t, " ")
    val abbr = element_at(parts, -1)
    val zone = element_at(typedlit(Active911.TimezoneMappings), abbr)
    val datePart = array_join(slice(parts, lit(1), size(parts) - 1), " ")
    val mapped = to_utc_timestamp(
      try_to_timestamp(datePart, lit("M/d/yyyy H:mm:ss")), zone)
    val fallbackDate = regexp_extract(t, FallbackDateRegex, 1)
    val fallback = try_to_timestamp(fallbackDate, lit("M/d/yyyy H:mm:ss"))
    when(zone.isNotNull, mapped).otherwise(fallback)
  }

  /** Either coordinate JS-zero → the lat-first `place` fallback, dropped
    * when `place` has fewer than 2 parts or a NaN one; adds `f_lon`/`f_lat`.
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

  /** JSONP unwrap: Spark `trim`, then drop up to the first '(' and one
    * trailing ')'.
    */
  def unwrapJsonp(c: Column): Column =
    regexp_replace(regexp_replace(trim(c), "^.*?\\(", ""), "\\)$", "")

  /** The records of a CSV blob: after CRLF → LF, every match of unquoted
    * non-newline text and quoted fields (possessive, so linear).
    */
  def csvRecords(text: Column): Column =
    regexp_extract_all(regexp_replace(text, "\r\n", "\n"),
      lit("(?:[^\"\n]++|\"[^\"]*+\")++"), lit(0))

  /** The envelope decode in four Catalyst steps: the JSON parse, the
    * error filter, the base64/UTF-8 decode and record split with the
    * header and blank-record filter, then the CSV parse. Each parse is a
    * generator, so no filter is pushed below it.
    */
  def alertsFromEnvelopes(envelopes: DataFrame, rawCol: String = "raw"): DataFrame = {
    val passThrough = envelopes.columns.filterNot(_ == rawCol).map(col).toSeq
    envelopes
      .select((passThrough :+ explode(array(
        from_json(unwrapJsonp(col(rawCol)), Active911.envelopeSchema))).as("_env")): _*)
      .filter(coalesce(col("_env.result"), lit("")) =!= "error")
      .select((passThrough :+
        posexplode(csvRecords(decode(unbase64(col("_env.message")), "UTF-8")))): _*)
      .filter(col("pos") >= 1 && trim(col("col")) =!= "")
      .select((passThrough :+ inline(array(from_csv(col("col"), Active911.alertSchema,
        Map("quote" -> "\"", "escape" -> "\""))))): _*)
  }
}
