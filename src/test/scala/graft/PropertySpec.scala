package graft

import java.time.{LocalDateTime, ZoneId}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.Active911

/** Property-based pinning of the reference semantics (SURVEY.md §5.4):
  * random inputs, engine output compared against a driver-side Scala
  * model of the JS behavior. Deterministic: fixed ScalaCheck seed, all
  * cases batched into one DataFrame per property (one Spark job, not one
  * per case).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long): List[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).get

  // --- S6: CSV record split with quoted cells (embedded newlines/quotes) --

  test("csvRecords: quoted newlines, quotes and commas never break record framing") {
    val cell = Gen.listOfN(6, Gen.frequency(
      6 -> Gen.alphaNumChar, 1 -> Gen.const(','), 1 -> Gen.const('"'),
      1 -> Gen.const('\n'), 1 -> Gen.oneOf('é', 'ñ', '中'))).map(_.mkString)
    val row = Gen.listOfN(3, cell)
    val blobGen = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, row))
    val cases = sample(blobGen, 60, seed = 7L).zipWithIndex
    def quote(c: String) = "\"" + c.replace("\"", "\"\"") + "\""
    val df = cases.map { case (rows, i) =>
      (i.toLong, rows.map(_.map(quote).mkString(",")).mkString("\n"), rows.length.toLong,
        rows.head.head, rows.head(1), rows.head(2))
    }.toDF("case_id", "blob", "expect_n", "c0", "c1", "c2")
    val schema = "a string, b string, c string"
    val got = df.select(col("case_id"), col("expect_n"), col("c0"), col("c1"), col("c2"),
        size(Active911Catalyst.csvRecords(col("blob"))).cast("long").as("got_n"),
        from_csv(element_at(Active911Catalyst.csvRecords(col("blob")), 1),
          org.apache.spark.sql.types.StructType.fromDDL(schema),
          Map("quote" -> "\"", "escape" -> "\"")).as("r1"))
      .collect()
    got.foreach { r =>
      assert(r.getAs[Long]("got_n") == r.getAs[Long]("expect_n"),
        s"case ${r.getAs[Long]("case_id")}: record count")
      val rec = r.getAs[org.apache.spark.sql.Row]("r1")
      assert(rec.getString(0) == r.getAs[String]("c0")
        && rec.getString(1) == r.getAs[String]("c1")
        && rec.getString(2) == r.getAs[String]("c2"),
        s"case ${r.getAs[Long]("case_id")}: first-record cells")
    }
  }

  // --- S3/S5/S6: the envelope decode equals its four-step Catalyst model ---

  /** A CSV cell as the export writes it: quoted when it holds a comma, a
    * quote or a line break, or now and then left raw to break the framing.
    */
  private val cellGen: Gen[String] = {
    val plain = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar)).map(_.mkString)
    val special = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, Gen.frequency(
      5 -> Gen.alphaNumChar.map(_.toString), 1 -> Gen.const(","), 1 -> Gen.const("\""),
      1 -> Gen.const("\n"), 1 -> Gen.const("\r\n"), 1 -> Gen.const(" "),
      1 -> Gen.oneOf("é", "中", "\ud83d\ude92", "\u2028")))).map(_.mkString)
    def quoted(c: String) =
      if (c.exists(",\"\r\n".contains(_))) "\"" + c.replace("\"", "\"\"") + "\"" else c
    Gen.frequency(60 -> plain, 30 -> special.map(quoted), 10 -> Gen.oneOf("", "   "),
      1 -> special)
  }

  /** One generated envelope: every shape the decode distinguishes. */
  private val envelopeGen: Gen[String] = {
    val nCols = Active911.AlertColumns.size
    val row = Gen.frequency(6 -> Gen.const(nCols), 1 -> Gen.choose(1, nCols - 1),
      1 -> Gen.choose(nCols + 1, nCols + 6)).flatMap(n => Gen.listOfN(n, cellGen))
    val record = Gen.frequency(8 -> row.map(_.mkString(",")), 1 -> Gen.const(""),
      1 -> Gen.oneOf(" ", "   "))
    val blob = for {
      lead <- Gen.frequency(8 -> Gen.const(Nil), 1 -> Gen.const(List("")), 1 -> Gen.const(List("  ")))
      rows <- Gen.frequency(1 -> Gen.const(Nil), 6 -> Gen.choose(1, 8).flatMap(Gen.listOfN(_, record)))
      seps <- Gen.listOfN(lead.size + rows.size, Gen.frequency(3 -> "\n", 1 -> "\r\n"))
      tail <- Gen.oneOf("", "", "\n", "\r\n", "\n\n")
    } yield {
      val lines = lead ++ (Active911.AlertColumns.mkString(",") :: rows)
      lines.head + seps.zip(lines.tail).map { case (sep, r) => sep + r }.mkString + tail
    }
    val b64 = for {
      text <- blob
      mime <- Gen.frequency(4 -> false, 1 -> true)
    } yield {
      val bytes = text.getBytes("UTF-8")
      if (mime) java.util.Base64.getMimeEncoder.encodeToString(bytes)
      else java.util.Base64.getEncoder.encodeToString(bytes)
    }
    val body = b64.flatMap(m => Gen.frequency(
      10 -> s"""{"result":"success","message":"$m"}""",
      1 -> s"""{"message":"$m"}""",
      1 -> s"""{"result":"error","message":"$m"}""",
      1 -> """{"result":"error","message":"Agency not available"}""",
      1 -> """{"result":"success","message":null}""",
      1 -> """{"result":"success"}""",
      1 -> s"""{"result":"success","message":"$m"""",
      1 -> "not json at all"))
    val wrapped = for {
      b <- body
      cb <- Gen.choose(1000L, 9999999L)
      w <- Gen.frequency(
        6 -> s"jQuery$cb($b)", 1 -> s"jQuery$cb($b)\n", 1 -> s"  jQuery$cb($b)  ",
        1 -> s"/**/ typeof cb === 'function' && cb($b);", 1 -> s"junk\ncb($b)",
        1 -> s"cb($b)\r\n", 1 -> b)
    } yield w
    Gen.frequency(20 -> wrapped, 1 -> Gen.const(null))
  }

  test("alertsFromEnvelopes: the row function decodes like the four Catalyst steps") {
    val cases = sample(envelopeGen, 400, 83L).zipWithIndex.map { case (raw, i) =>
      (i.toLong, i % 7, if (i % 5 == 0) null else s"tag-$i-é", raw)
    }
    // local[4]: the envelopes run as 4 concurrent tasks, so parser state
    // shared across threads would show as wrong or missing rows
    val env = cases.toDF("case_id", "agency_id", "tag", "raw")
    assert(env.rdd.getNumPartitions == 4)
    val got = Active911.alertsFromEnvelopes(env)
    val want = Active911Catalyst.alertsFromEnvelopes(env)
    assert(got.schema == want.schema)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.diff(w).isEmpty && w.diff(g).isEmpty,
      s"rows only in the row function: ${g.diff(w).take(3)}; only in the model: ${w.diff(g).take(3)}")
    // not vacuous: many rows, some envelopes yield none, short rows pad
    // with nulls, and quoted line breaks and non-ASCII text survive
    val cols = 3 until 3 + Active911.AlertColumns.size
    assert(w.size > 400)
    assert(w.map(_.getLong(0)).distinct.size < cases.size * 3 / 4)
    assert(w.exists(r => r.isNullAt(cols.last)) && w.exists(r => !r.isNullAt(cols.last)))
    assert(w.exists(r => cols.exists(i => Option(r.getString(i)).exists(_.contains("\n")))))
    assert(w.exists(r => cols.exists(i => Option(r.getString(i)).exists(_.contains("中")))))
    assert(w.exists(_.isNullAt(2)) && w.exists(!_.isNullAt(2)))
  }

  test("alertsFromEnvelopes: truncated base64 and malformed UTF-8 fail like the Catalyst steps") {
    val header = Active911.AlertColumns.mkString(",")
    def b64(bytes: Array[Byte]) = java.util.Base64.getEncoder.withoutPadding.encodeToString(bytes)
    def envelope(message: String) =
      Seq((1, s"""cb({"result":"success","message":"$message"})""")).toDF("agency_id", "raw")
    def causes(t: Throwable): Seq[Throwable] = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    def failure(run: => Any): Seq[Throwable] = causes(intercept[Exception](run))
    // a last base64 unit of one character holds too few bits
    val full = b64((header + "\n1,2,3").getBytes("UTF-8"))
    val truncated = envelope(full.take(4 * (full.length / 4 - 1) + 1))
    Seq(Active911.alertsFromEnvelopes(truncated), Active911Catalyst.alertsFromEnvelopes(truncated))
      .foreach(df => assert(failure(df.collect()).exists(_.isInstanceOf[IllegalArgumentException])))
    // 0xC3 0x28 is not UTF-8: Spark 4's decode raises rather than
    // substituting U+FFFD, and so must the row function
    val malformed = envelope(b64(header.getBytes("UTF-8") ++ Array[Byte]('\n', '1', ',', 0xC3.toByte, 0x28)))
    Seq(Active911.alertsFromEnvelopes(malformed), Active911Catalyst.alertsFromEnvelopes(malformed))
      .foreach(df => assert(failure(df.collect()).exists(t =>
        Option(t.getMessage).exists(_.contains("MALFORMED_CHARACTER_CODING")))))
    // under the legacy coding-error action both substitute, alike
    val key = org.apache.spark.sql.internal.SQLConf.LEGACY_CODING_ERROR_ACTION.key
    spark.conf.set(key, "true")
    try {
      val got = Active911.alertsFromEnvelopes(malformed).collect().toSeq
      assert(got == Active911Catalyst.alertsFromEnvelopes(malformed).collect().toSeq)
      assert(got.map(_.getString(2)) == Seq("\ufffd("))
    } finally spark.conf.unset(key)
  }

  // --- P1: jsNumber, the row function equals its Catalyst model ----------

  /** Same double bit for bit (NaN as NaN, -0.0 apart from 0.0), or both null. */
  private def same(a: Any, b: Any): Boolean = java.util.Objects.equals(a, b)

  test("jsNumber: the row function equals the Catalyst expression on any string") {
    // Spark's trim strips ASCII spaces only; rlike's `$` also matches
    // before one final line terminator, and the cast's parseDouble trims
    // tabs and newlines but not U+2028 or U+0085
    val pad = Gen.oneOf("", "", " ", "  ", "\t", "\n", "\r\n", " \n", "\u2028", "\u0085")
    val digits = (n: Int) => Gen.listOfN(n, Gen.numChar).map(_.mkString)
    val decimalGen = for {
      sign <- Gen.oneOf("", "", "+", "-"); i <- Gen.choose(0, 4).flatMap(digits)
      dot <- Gen.oneOf("", ".", "."); f <- Gen.choose(0, 3).flatMap(digits)
      e <- Gen.oneOf("", "", "e5", "E-3", "e+2", "e400", "e-400", "e")
    } yield sign + i + dot + f + e
    val fixedGen = Gen.oneOf("", "0", "-0", "+0", "1.", ".5", "+.5e-3", "1e400", "-1e400",
      ".", "+", "-", "e5", "1..2", "1.2.3", "12,5", "0.0", "00012",
      "Infinity", "+Infinity", "-Infinity", "infinity", "INFINITY", "InfinityX", "--Infinity",
      "NaN", "nan", "Inf", "1d", "1f", "0x", "0b", "0o")
    val radixGen = for {
      sign <- Gen.oneOf("", "", "", "+", "-")
      (p, alphabet) <- Gen.oneOf(("0x", "0123456789abcdefABCDEFgZ"), ("0X", "0123456789abcdefG"),
        ("0b", "012"), ("0B", "01"), ("0o", "012345678"), ("0O", "01234567"))
      n <- Gen.frequency(5 -> Gen.choose(1, 8), 2 -> Gen.choose(15, 24), 1 -> Gen.choose(60, 70))
      ds <- Gen.listOfN(n, Gen.oneOf(alphabet.toSeq))
    } yield sign + p + ds.mkString
    // radix values at and beyond 2^64: conv's overflow window
    val bigRadix = Gen.oneOf("0x" + "f" * 16, "0x1" + "0" * 16, "0x" + "f" * 17,
      "0b1" + "0" * 64, "0b" + "1" * 64, "0o2" + "0" * 21, "0o1" + "7" * 21)
    val garbageGen = Gen.listOfN(6, Gen.frequency(3 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('.', '+', '-', 'e', 'x', ' ', '\t', ','), 1 -> Gen.oneOf('é', '中', '٣')))
      .map(_.mkString)
    val coreGen = Gen.frequency(4 -> decimalGen, 3 -> fixedGen, 3 -> radixGen, 1 -> bigRadix,
      2 -> garbageGen)
    val caseGen = for { l <- pad; c <- coreGen; r <- pad } yield l + c + r
    val cases = (sample(caseGen, 400, 61L) :+ null).zipWithIndex
    val got = cases.map { case (t, i) => (i.toLong, t) }.toDF("case_id", "t")
      .select(col("case_id"), Active911.jsNumber(col("t")).as("row"),
        Active911Catalyst.jsNumber(col("t")).as("model"))
      .collect()
    got.foreach { r =>
      val t = cases(r.getLong(0).toInt)._1
      assert(same(r.get(1), r.get(2)), s"case ${r.getLong(0)}: '$t' → ${r.get(1)}, model ${r.get(2)}")
      assert(same(Active911.jsNumber(t), r.get(2)), s"driver-side '$t'")
    }
    // not vacuous: every kind of result occurs
    val model = got.map(r => Option(r.get(2)).map(_.asInstanceOf[Double]))
    assert(model.contains(None))
    assert(model.flatten.exists(_.isNaN) && model.flatten.exists(_.isInfinite))
    assert(model.flatten.count(d => d == 0.0) > 5)
    assert(model.flatten.count(d => !d.isNaN && !d.isInfinite && d != 0.0) > 30)
    assert(model.flatten.count(_ >= math.pow(2, 63)) >= 3)
  }

  test("fixCoordinates: the row function keeps, drops and places like the Catalyst filter") {
    val coordGen = Gen.frequency(
      3 -> Gen.oneOf("0", "", " ", "-0", "0.0", "0x0", "NaN", "abc", "Infinity", "1\u2028"),
      3 -> Gen.choose(-180.0, 180.0).map(d => f"$d%.4f"),
      1 -> Gen.const(null))
    val partGen = Gen.frequency(
      4 -> Gen.choose(-90.0, 90.0).map(d => f"$d%.4f"),
      2 -> Gen.oneOf("", " ", "0", "x", "Paris", "NaN", "1e3", "0x1F", " 2.5 ", "1\u2028"))
    val placeGen = Gen.frequency(
      6 -> Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, partGen)).map(_.mkString(",")),
      1 -> Gen.choose(1, 2).flatMap(n => Gen.listOfN(n, partGen)).map(_.mkString(",") + ","),
      1 -> Gen.oneOf("Corner of 5th and Main", ",", ",,", " ", null))
    val tripleGen = for { lon <- coordGen; lat <- coordGen; place <- placeGen } yield (lon, lat, place)
    val alerts = sample(tripleGen, 400, 71L).zipWithIndex
      .map { case ((lon, lat, place), i) => (i.toLong, lon, lat, place) }
      .toDF("case_id", "lon", "lat", "place")
    def fixed(df: org.apache.spark.sql.DataFrame): Map[Long, (Any, Any)] =
      df.select("case_id", "f_lon", "f_lat").collect()
        .map(r => r.getLong(0) -> ((r.get(1), r.get(2)))).toMap
    val got = fixed(Active911.fixCoordinates(alerts))
    val want = fixed(Active911Catalyst.fixCoordinates(alerts))
    assert(got.keySet == want.keySet, s"kept ${got.keySet.diff(want.keySet)}, " +
      s"dropped ${want.keySet.diff(got.keySet)}")
    want.foreach { case (id, (lon, lat)) =>
      assert(same(got(id)._1, lon) && same(got(id)._2, lat), s"case $id: ${got(id)}, model ${(lon, lat)}")
    }
    // not vacuous: rows are kept, dropped, and moved to the place fallback
    val all = alerts.select("case_id", "lon").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(want.size > 100 && all.size - want.size > 50)
    assert(want.count { case (id, (lon, _)) => !same(lon, Active911.jsNumber(all(id))) } > 50)
    assert(want.values.exists(v => v._1 == null || v._2 == null))
  }

  // --- F6: parseTime is total and matches a java.time model -------------

  test("parseTime: total on garbage, exact instant for every tz abbreviation") {
    val validGen = for {
      mo <- Gen.choose(1, 12); da <- Gen.choose(1, 28)
      yr <- Gen.choose(1995, 2030)
      // hours >= 6 keep clear of 2-3am DST transitions, whose gap
      // resolution is implementation-defined
      h <- Gen.choose(6, 23); mi <- Gen.choose(0, 59); se <- Gen.choose(0, 59)
      abbr <- Gen.oneOf(Active911.TimezoneMappings.keys.toSeq ++ Seq("XST", ""))
    } yield (f"$mo/$da/$yr $h:$mi%02d:$se%02d" + (if (abbr.isEmpty) "" else s" $abbr"), abbr)
    val garbageGen = Gen.listOfN(12,
      Gen.frequency(4 -> Gen.alphaNumChar, 1 -> Gen.oneOf('/', ':', ' ', '.')))
      .map(l => (l.mkString, "#garbage#"))
    val cases = (sample(validGen, 150, 11L) ++ sample(garbageGen, 50, 12L)).zipWithIndex
    val df = cases.map { case ((s, abbr), i) => (i.toLong, s, abbr) }
      .toDF("case_id", "raw", "abbr")
    val got = df.select(col("case_id"),
        unix_micros(Active911.parseTime(col("raw"))).as("us")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val fmt = DateTimeFormatter.ofPattern("M/d/yyyy H:mm:ss")
    cases.foreach { case ((s, abbr), i) =>
      val expect: Option[Long] = Active911.TimezoneMappings.get(abbr) match {
        case Some(zone) =>
          val local = LocalDateTime.parse(s.stripSuffix(s" $abbr"), fmt)
          Some(local.atZone(ZoneId.of(zone)).toInstant.toEpochMilli * 1000L)
        case None =>
          val m = "^(\\d{1,2}/\\d{1,2}/\\d{4} \\d{1,2}:\\d{2}:\\d{2})".r
            .findFirstIn(s)
          m.map(d => LocalDateTime.parse(d, fmt)
            .atZone(ZoneId.of("UTC")).toInstant.toEpochMilli * 1000L)
      }
      assert(got(i.toLong) == expect, s"case $i: '$s'")
    }
  }

  // --- F6: ISO-ish fallback inputs — the documented divergence ----------

  test("parseTime: ISO-shaped input → null (deliberate divergence from moment fuzz)") {
    // The reference's non-strict moment fallback (task.ts:75) binds digit
    // runs positionally to MM/DD/YYYY…, turning ISO strings into
    // garbage-but-valid instants. This engine pins them to null — see
    // Active911.parseTime scaladoc. Any change to that decision must
    // consciously edit this test.
    val isoGen = for {
      yr <- Gen.choose(1995, 2030); mo <- Gen.choose(1, 12)
      da <- Gen.choose(1, 28); h <- Gen.choose(0, 23)
      mi <- Gen.choose(0, 59); se <- Gen.choose(0, 59)
      suffix <- Gen.oneOf("", "Z", ".000Z", "+02:00")
    } yield f"$yr-$mo%02d-$da%02dT$h%02d:$mi%02d:$se%02d$suffix"
    val cases = sample(isoGen, 60, seed = 31L).zipWithIndex
    val nulls = cases.map { case (s, i) => (i.toLong, s) }.toDF("case_id", "raw")
      .select(Active911.parseTime(col("raw")).as("ts"))
      .filter(col("ts").isNotNull).count()
    assert(nulls == 0, s"$nulls ISO-shaped inputs parsed non-null")
  }

  // --- A1: last-wins dedup, first-occurrence key order ------------------

  test("responseLinks: last-wins per callsign, keys in first-appearance order") {
    // "Unknown" is also a real callsign, colliding with unmatched lines
    val names = Seq("Alice", "Bob Smith", "Carol", "Unknown")
    val resps = Seq("Responding", "Unavailable", "On Scene")
    // the reference's zone table (task.ts:45-64) for the abbreviations
    // drawn here, kept apart from Active911.TimezoneMappings; CEST, BST
    // and a missing abbreviation take the UTC fallback
    val zones = Map("EST" -> "America/New_York", "PDT" -> "America/Los_Angeles",
      "MST" -> "America/Denver", "HST" -> "Pacific/Honolulu",
      "HDT" -> "Pacific/Honolulu")
    val clocks = zones.keys.toSeq ++ Seq("CEST", "BST", "")
    val pad = Gen.oneOf("", " ", "  ")
    // few distinct instants, so repeated callsigns often tie on time
    val timeGen = Gen.frequency(
      8 -> (for {
        da <- Gen.choose(10, 11); mi <- Gen.oneOf(0, 30); abbr <- Gen.oneOf(clocks)
      } yield f"12/$da/2025 10:$mi%02d:00" + (if (abbr.isEmpty) "" else s" $abbr")),
      1 -> Gen.const("later"))
    val lineGen = Gen.frequency(
      6 -> (for {
        n <- Gen.oneOf(names); r <- Gen.oneOf(resps); t <- timeGen
        p1 <- pad; p2 <- pad; p3 <- pad; id <- Gen.choose(1, 999)
      } yield s"Got a response of $p1$r to $p2$n$p3($id) at $t."),
      1 -> Gen.oneOf(names).map(n => s"Got a response of Responding to $n(x1) at now."),
      1 -> Gen.const("Got a response of malformed line without the shape"),
      1 -> Gen.const("random chatter that is filtered out"))
    val logGen = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, lineGen))
    val cases = sample(logGen, 120, 21L).map(ls => Option(ls.mkString("\n"))) ++
      Seq(None, Some(""))
    val df = cases.zipWithIndex.map { case (r, i) => (i.toLong, r) }
      .toDF("case_id", "responses")
    val got = df.select(col("case_id"),
        to_json(Active911.responseLinks(col("responses"))).as("links"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    // the reference's line pattern (task.ts:121)
    val rx = "Got a response of (.+?) to (.+?)\\((\\d+)\\) at (.+?)\\.".r
    val fmt = DateTimeFormatter.ofPattern("M/d/yyyy H:mm:ss")
    val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      .withZone(ZoneId.of("UTC"))
    def instant(t: String): Option[String] = {
      val parts = t.split(" ")
      val local = zones.get(parts.last) match {
        case Some(zone) => Some(parts.init.mkString(" ") -> zone)
        case None => "^(\\d{1,2}/\\d{1,2}/\\d{4} \\d{1,2}:\\d{2}:\\d{2})".r
          .findFirstIn(t).map(_ -> "UTC")
      }
      local.map { case (wall, zone) =>
        isoFmt.format(LocalDateTime.parse(wall, fmt).atZone(ZoneId.of(zone)).toInstant)
      }
    }
    cases.zipWithIndex.foreach { case (raw, i) =>
      // driver-side model of the reference's Map.set loop (task.ts:187-209)
      val lines = raw.toSeq.flatMap(_.split("\n", -1))
      val entries = lines.filter(_.startsWith("Got a response of ")).map { l =>
        rx.findFirstMatchIn(l) match {
          case Some(m) => (m.group(2).trim, m.group(1).trim, instant(m.group(4).trim))
          case None => ("Unknown", "Unknown", None)
        }
      }
      val keyOrder = entries.map(_._1).distinct
      val lastByKey = entries.groupBy(_._1).map { case (k, es) => k -> es.last }
      val expJson = keyOrder.map { k =>
        val (_, remarks, time) = lastByKey(k)
        Seq("relation" -> Some("t-s"), "callsign" -> Some(k),
          "remarks" -> Some(remarks), "production_time" -> time)
          .collect { case (n, Some(v)) => s""""$n":"$v"""" }
          .mkString("{", ",", "}")
      }.mkString("[", ",", "]")
      assert(got(i.toLong) == expJson, s"case $i:\n${raw.getOrElse("<null>")}")
    }
  }

  // --- F6 × A1: the links' time path agrees with parseTime ------------

  test("responseLinks: production_time equals isoUtc(parseTime(_)) of the same text") {
    // the links and parseTime share one row-at-a-time time path; it must
    // give the instant (or null) of the Catalyst expression it replaced.
    // No '.' in the text: the line pattern ends the time at the first '.'
    val pad = Gen.oneOf("", " ", "  ")
    val wallGen = for {
      mo <- Gen.choose(1, 12); da <- Gen.choose(1, 31); yr <- Gen.choose(1995, 2030)
      h <- Gen.choose(0, 23); mi <- Gen.choose(0, 59); se <- Gen.choose(0, 59)
      padded <- Gen.oneOf(true, false)
    } yield if (padded) f"$mo%02d/$da%02d/$yr $h%02d:$mi%02d:$se%02d"
      else f"$mo/$da/$yr $h:$mi%02d:$se%02d"
    // mapped (HST/HDT among them), unmapped, and no abbreviation
    val clocks = Active911.TimezoneMappings.keys.toSeq ++ Seq("CEST", "XST", "BST", "")
    val zonedGen = for {
      wall <- wallGen; abbr <- Gen.oneOf(clocks)
      lead <- pad; gap <- Gen.frequency(3 -> " ", 1 -> "  "); tail <- pad
    } yield lead + wall + (if (abbr.isEmpty) "" else gap + abbr) + tail
    val isoGen = for {
      yr <- Gen.choose(1995, 2030); mo <- Gen.choose(1, 12); da <- Gen.choose(1, 28)
      h <- Gen.choose(0, 23); mi <- Gen.choose(0, 59); suffix <- Gen.oneOf("", "Z", "+02:00")
    } yield f"$yr-$mo%02d-$da%02dT$h%02d:$mi%02d:00$suffix"
    val garbageGen = Gen.listOfN(12,
      Gen.frequency(4 -> Gen.alphaNumChar, 1 -> Gen.oneOf('/', ':', ' '))).map(_.mkString)
    val cases = sample(Gen.frequency(6 -> zonedGen, 1 -> isoGen, 1 -> garbageGen), 300, 43L)
    val got = cases.zipWithIndex
      .map { case (t, i) => (i.toLong, t, s"Got a response of R to N(1) at $t.") }
      .toDF("case_id", "t", "line")
      .select(col("case_id"), col("t"),
        Active911.responseLinks(col("line"))(0)("production_time").as("link"),
        Active911.isoUtc(Active911Catalyst.parseTime(col("t"))).as("catalyst"),
        Active911.isoUtc(Active911.parseTime(col("t"))).as("parsed"))
      .collect()
    got.foreach { r =>
      assert(r.getString(2) == r.getString(3), s"case ${r.getLong(0)}: '${r.getString(1)}'")
      assert(r.getString(4) == r.getString(3), s"case ${r.getLong(0)}: '${r.getString(1)}'")
    }
    // not vacuous: a third of the cases or more parse
    assert(got.count(!_.isNullAt(3)) > cases.size / 3)
  }

  // --- EXT: int8 quantization invariants over random float vectors ------

  test("quantizeInt8: codes bounded by ±127, reconstruction within scale/2, round-trip stable") {
    val vecGen = Gen.choose(1, 16).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e3f, 1e3f).suchThat(f => !f.isNaN)))
      .suchThat(_.exists(_ != 0f))
    val cases = sample(vecGen, 80, seed = 21L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val df = cases.toDF("id", "vec")
      .select(col("id"), graft.ext.Similarity.quantizeInt8(col("vec")).as("qz"),
        col("vec"))
    val rows = df.select(col("id"), col("qz.scale"), col("qz.q"),
        graft.ext.Similarity.dequantError(col("vec"), col("qz.q"), col("qz.scale"))
          .as("err"))
      .collect()
    rows.foreach { r =>
      val scale = r.getDouble(1)
      val q = r.getSeq[Long](2)
      val err = r.getSeq[Double](3)
      assert(q.forall(x => x >= -127L && x <= 127L),
        s"case ${r.getLong(0)}: code out of int8 range: $q")
      assert(err.forall(_ <= scale / 2 + 1e-9),
        s"case ${r.getLong(0)}: reconstruction error ${err.max} > scale/2 $scale")
    }
    // determinism: quantizing twice yields identical codes
    val again = cases.toDF("id", "vec")
      .select(col("id"), graft.ext.Similarity.quantizeInt8(col("vec")).getField("q").as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    rows.foreach(r => assert(again(r.getLong(0)) == r.getSeq[Long](2)))
  }

  // --- EXT: span detection vs a driver-side model (q160/q163 family) ---

  test("duplicateSpans + repeatedSpans: exact match with a Scala model on random word soup") {
    val k = 3
    // a 10-word vocabulary over 50 short docs forces both cross-doc
    // shared k-grams and within-doc recurrences
    val vocab = Vector("ox", "ash", "elm", "fir", "oak", "yew", "ivy",
      "fern", "moss", "reed")
    val docGen = Gen.choose(5, 16)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
    val cases = sample(docGen, 50, seed = 41L).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.toVector) }
    val df = cases.map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")

    def kgrams(toks: Vector[String]) =
      if (toks.length < k) Vector.empty[String]
      else toks.sliding(k).map(_.mkString(" ")).toVector
    def islands(ps: Seq[Int]): Set[(Long, Long, Long, Long)] = {
      val sorted = ps.sorted
      if (sorted.isEmpty) Set.empty
      else sorted.tail.foldLeft(List((sorted.head, sorted.head))) {
        case ((s, e) :: rest, p) =>
          if (p == e + 1) (s, p) :: rest else (p, p) :: (s, e) :: rest
        case (Nil, p) => List((p, p))
      }.map { case (s, e) =>
        (s.toLong, (e + k - 1).toLong, (e + k - 1 - s + 1).toLong,
          (e - s + 1).toLong)
      }.toSet
    }
    val grams = cases.map { case (id, toks) => id -> kgrams(toks) }.toMap

    // cross-doc model: positions whose gram occurs in >= 2 distinct docs
    val docsPerGram = grams.toSeq
      .flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    val wantDup = grams.flatMap { case (id, gs) =>
      val ps = gs.zipWithIndex.collect {
        case (g, p) if docsPerGram(g) >= 2 => p }
      islands(ps).map { case (s, e, t, n) => (id, s, e, t, n) }
    }.toSet
    val gotDup = graft.ext.NearDup.duplicateSpans(df, "doc_id", "text", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(gotDup == wantDup)

    // within-doc model: positions whose gram occurred earlier in the doc
    val wantRep = grams.flatMap { case (id, gs) =>
      val seen = scala.collection.mutable.Set[String]()
      val ps = gs.zipWithIndex.collect {
        case (g, p) if { val r = seen(g); seen += g; r } => p }
      islands(ps).map { case (s, e, t, n) => (id, s, e, t, n) }
    }.toSet
    val gotRep = graft.ext.NearDup.repeatedSpans(df, "doc_id", "text", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(gotRep == wantRep)
  }

  // --- BPE: model-based check of learn + encode on random word soup ---

  test("bpeLearn/bpeEncode: roundtrip, vocab closure, and a Scala merge model on random vocab") {
    // small alphabet forces heavy pair collisions (the interesting case)
    val word = Gen.choose(1, 8)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val vocabList = sample(Gen.zip(word, Gen.choose(1L, 9L)), 40, seed = 7L)
      .groupBy(_._1).map { case (w, ws) => (w, ws.map(_._2).sum) }.toList
    val vocab = vocabList.toDF("w", "wc")
    val merges = graft.ext.Corpus.bpeLearn(vocab, "w", "wc", k = 5)
    // Scala model: same left-to-right non-overlapping merge pass
    def applyM(toks: List[String], a: String, b: String): List[String] =
      toks.foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == a && x == b)
          acc.init :+ (a + b)
        else acc :+ x
      }
    def encode(w: String): List[String] =
      merges.foldLeft(w.split("").toList) { case (t, (a, b)) => applyM(t, a, b) }
    val prods = merges.map { case (a, b) => a + b }.toSet
    val got = vocab
      .select(col("w"), graft.ext.Corpus.bpeEncode(col("w"), merges).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    vocabList.foreach { case (w, _) =>
      val toks = got(w)
      assert(toks.mkString("") == w, s"roundtrip broke for $w")
      assert(toks.forall(t => t.length == 1 || prods(t)),
        s"non-vocab token in $w: $toks")
      assert(toks == encode(w), s"engine disagrees with model for $w")
    }
  }

  test("triangles: degree-oriented == id-ordered == Scala model on random graphs") {
    // the equivalence claim behind q179's production path, pinned on
    // adversarial shapes the fixture graph can't produce: random dense
    // and sparse multigraph-ish edge lists with self-loops and both
    // orientations of the same pair (canonicalization must absorb them)
    val edgeGen = for {
      n <- Gen.choose(3, 10)
      m <- Gen.choose(1, 25)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1)
      } yield (a, b))
    } yield es
    val cases = sample(edgeGen, 25, seed = 41L)
    cases.zipWithIndex.foreach { case (es, i) =>
      val df = es.toDF("a", "b")
      // driver-side model: canonical undirected simple graph, count
      // triangles per node by brute force
      val adj = es.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.toSet
      val nodes = adj.flatMap(e => Set(e._1, e._2)).toList.sorted
      def conn(x: Long, y: Long) = adj((math.min(x, y), math.max(x, y)))
      val model = (for {
        Seq(x, y, z) <- nodes.combinations(3)
        if conn(x, y) && conn(y, z) && conn(x, z)
        v <- Seq(x, y, z)
      } yield v).toList.groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
      def got(df2: org.apache.spark.sql.DataFrame) =
        df2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val idOrdered = got(graft.ext.Graph.triangleCounts(df, "a", "b"))
      val degOriented = got(
        graft.ext.Graph.triangleCountsDegreeOriented(df, "a", "b"))
      assert(idOrdered == model, s"case $i: id-ordered vs model")
      assert(degOriented == model, s"case $i: degree-oriented vs model")
    }
  }

  test("BMP codec: decode(encode) recovers exact stats on random images") {
    val imgGen = for {
      w <- Gen.choose(1, 9)   // small widths hit every padding residue
      h <- Gen.choose(1, 5)
      px <- Gen.listOfN(w * h * 3, Gen.choose(0, 255))
    } yield (w, h, px.toVector)
    val cases = sample(imgGen, 40, seed = 97L)
    val media = cases.zipWithIndex.map { case ((w, h, px), i) =>
      def at(x: Int, y: Int) =
        (px((y * w + x) * 3), px((y * w + x) * 3 + 1), px((y * w + x) * 3 + 2))
      graft.ext.Multimodal.MediaIn(i.toLong,
        graft.ext.Multimodal.encodeBmp(w, h, at))
    }
    val out = graft.ext.Multimodal.decodeBmpBatched(
        spark.createDataset(media), batchSize = 7)
      .collect().map(o => o.media_id -> o).toMap
    cases.zipWithIndex.foreach { case ((w, h, px), i) =>
      val o = out(i.toLong)
      assert((o.width, o.height) == ((w, h)), s"case $i dims")
      val n = w * h
      def chan(c: Int) = (0 until n).map(p => px(p * 3 + c))
      assert(math.abs(o.mean_r - chan(0).sum.toDouble / n) < 1e-12, s"case $i r")
      assert(math.abs(o.mean_g - chan(1).sum.toDouble / n) < 1e-12, s"case $i g")
      assert(math.abs(o.mean_b - chan(2).sum.toDouble / n) < 1e-12, s"case $i b")
      assert((o.tl_r, o.tl_g, o.tl_b) == ((px(0), px(1), px(2))), s"case $i tl")
    }
  }
}
