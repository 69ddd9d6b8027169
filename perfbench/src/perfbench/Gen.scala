package perfbench

import java.time.{Instant, LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Base64

import scala.collection.mutable
import scala.util.Random

/** Seeded Active911 load generator. It writes alert exports the way the
  * Active911 API serves them (24-column CSV → base64 → JSONP envelope) and
  * records, per alert, what the connector must post for it. The expected
  * values are derived here from the generator's own choices, with the
  * reference's quirks re-implemented independently of the code under test:
  * a mapped tz abbreviation is read as wall time in its (collapsed) zone,
  * HST/HDT as Honolulu, and any other abbreviation as UTC wall time.
  */
object Gen {

  /** Column order of the Active911 spreadsheet export (the wire format). */
  val Columns: Seq[String] = Seq(
    "id", "received", "sent", "priority", "description", "details",
    "external_data", "place", "address", "unit", "cross_street", "city",
    "state", "lat", "lon", "coordinate_source", "source", "units",
    "cad_code", "map_code", "map_id", "alert_key", "messages", "responses")

  private val AbbrZone: Map[String, String] = Map(
    "EDT" -> "America/New_York", "EST" -> "America/New_York",
    "CDT" -> "America/Chicago", "CST" -> "America/Chicago",
    "MDT" -> "America/Denver", "MST" -> "America/Denver",
    "PDT" -> "America/Los_Angeles", "PST" -> "America/Los_Angeles",
    "AKDT" -> "America/Anchorage", "AKST" -> "America/Anchorage",
    "HDT" -> "Pacific/Honolulu", "HST" -> "Pacific/Honolulu",
    "UTC" -> "UTC", "GMT" -> "UTC")

  /** (abbreviation, zone the dispatcher's clock actually runs in). The
    * true zone differs from the mapped one on purpose for MST (Phoenix)
    * and HST/HDT (Adak): the reference reads those walls in Denver and
    * Honolulu. The unmapped ones are at most two hours east of UTC, so a
    * clock-ordered stream stays well inside the 6-hour watermark.
    */
  private val Clocks: IndexedSeq[(String, String)] = IndexedSeq(
    "EST" -> "America/New_York", "EDT" -> "America/New_York",
    "CST" -> "America/Chicago", "CDT" -> "America/Chicago",
    "MST" -> "America/Denver", "MST" -> "America/Phoenix",
    "MDT" -> "America/Denver", "PST" -> "America/Los_Angeles",
    "PDT" -> "America/Los_Angeles", "AKDT" -> "America/Anchorage",
    "HST" -> "America/Adak", "HDT" -> "America/Adak",
    "UTC" -> "UTC", "GMT" -> "UTC",
    "CEST" -> "Europe/Paris", "BST" -> "Europe/London")

  private val Wall = DateTimeFormatter.ofPattern("MM/dd/yyyy HH:mm:ss")
  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(ZoneOffset.UTC)

  /** Render `t` on a dispatcher clock and return (wire text, the instant
    * the reference reads back from it, as its ISO string).
    */
  def stamp(t: Instant, rnd: Random): (String, String) = {
    val (abbr, clock) = Clocks(rnd.nextInt(Clocks.size))
    val wall = LocalDateTime.ofInstant(t, ZoneId.of(clock))
    val read = AbbrZone.get(abbr) match {
      case Some(z) => wall.atZone(ZoneId.of(z)).toInstant
      case None => wall.toInstant(ZoneOffset.UTC)
    }
    (s"${Wall.format(wall)} $abbr", Iso.format(read))
  }

  // Instants stay clear of US DST transitions (early March, early
  // November), where wall → instant is ambiguous and engines may differ.
  private val Summer = Instant.parse("2025-06-01T00:00:00Z").getEpochSecond
  private val Winter = Instant.parse("2025-12-01T00:00:00Z").getEpochSecond
  private val SeasonSeconds = 80L * 24 * 3600

  def randomInstant(rnd: Random): Instant =
    Instant.ofEpochSecond((if (rnd.nextBoolean()) Summer else Winter) +
      (rnd.nextDouble() * SeasonSeconds).toLong)

  /** What the connector must post for one surviving alert. */
  case class Expect(start: String, callsigns: Set[String], lon: Double, lat: Double)

  /** One generated alert: its CSV row and either what must be posted for
    * it or `None` when its coordinates cannot be fixed (it must be absent).
    */
  case class Alert(id: Long, row: String, expect: Option[Expect], lines: Int) {
    def featureId: String = s"active911-$id"
  }

  /** Shape of the alerts a workload generates. Shares are per alert. */
  case class Shape(linesMin: Int, linesMax: Int, detailsChars: Int,
                   fixShare: Double, dropShare: Double)

  private val Descriptions = IndexedSeq("Structure Fire", "MVA", "Medical",
    "Grass Fire", "Alarm", "Hazmat", "Rescue", "Lift Assist", "Smoke Check")
  private val Responses = IndexedSeq("Respond", "Unavailable", "On Scene",
    "Responding", "Delayed", "Cancel")
  private val First = IndexedSeq("Nick", "Jane", "Kai", "Maria", "Omar",
    "Lena", "Ravi", "Tess", "Hugo", "Ada", "Sam", "Ines", "Yuki", "Bo")
  private val Last = IndexedSeq("Ingalls", "Roe", "Mahoe", "Lopez", "Haddad",
    "Berg", "Iyer", "Quinn", "Moreau", "Byrne", "Okafor", "Silva", "Sato")
  private val Words = IndexedSeq("caller", "reports", "smoke", "visible",
    "from", "second", "floor", "north", "side", "units", "staging", "at",
    "hydrant", "unknown", "injuries", "traffic", "blocked", "lane")

  private def cell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def coord(rnd: Random, lo: Double, hi: Double): Double =
    BigDecimal(lo + rnd.nextDouble() * (hi - lo))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def text(rnd: Random, chars: Int): String = {
    val sb = new StringBuilder
    while (sb.length < chars) {
      if (sb.nonEmpty) sb.append(if (rnd.nextInt(9) == 0) ", " else " ")
      sb.append(Words(rnd.nextInt(Words.size)))
    }
    sb.toString
  }

  /** One alert sent at `sent`. Its responder log mixes matched lines
    * (some repeating a callsign, whose last value wins), `Got a response
    * of` lines the pattern does not match (all collapse to one `Unknown`
    * link) and other log lines the connector filters out.
    */
  def alert(id: Long, sent: Instant, shape: Shape, rnd: Random): Alert = {
    val (sentText, start) = stamp(sent, rnd)
    val nLines = shape.linesMin + rnd.nextInt(shape.linesMax - shape.linesMin + 1)
    val names = mutable.ArrayBuffer.empty[String]
    var unknown = false
    val lines = (0 until nLines).map { i =>
      val at = sent.plusSeconds(30L * (i + 1))
      rnd.nextInt(20) match {
        case k if k < 14 =>
          val name =
            if (names.nonEmpty && rnd.nextInt(3) == 0) names(rnd.nextInt(names.size))
            else s"${First(rnd.nextInt(First.size))} ${Last(rnd.nextInt(Last.size))}"
          names += name
          val (atText, _) = stamp(at, rnd)
          s"Got a response of ${Responses(rnd.nextInt(Responses.size))} to " +
            s"$name(${100000 + rnd.nextInt(900000)}) at $atText."
        case k if k < 17 =>
          unknown = true
          s"Got a response of page ${rnd.nextInt(1000)} without a callsign"
        case _ => s"Paged ${First(rnd.nextInt(First.size))} via SMS"
      }
    }
    val lat = coord(rnd, 25.0, 48.0)
    val lon = coord(rnd, -123.0, -70.0)
    val u = rnd.nextDouble()
    // (lat, lon, place, expected geometry or None = dropped)
    val (latText, lonText, place, geom) =
      if (u < shape.dropShare)
        ("0", lon.toString, "Corner of 5th and Main", None)
      else if (u < shape.dropShare + shape.fixShare) {
        val zero = if (rnd.nextBoolean()) "0" else ""
        val pl = if (rnd.nextBoolean()) s"$lat,$lon" else s"$lat, $lon, Springfield"
        (zero, zero, pl, Some((lon, lat)))
      } else (lat.toString, lon.toString, s"Station ${rnd.nextInt(40)}", Some((lon, lat)))
    val description = Descriptions(rnd.nextInt(Descriptions.size))
    val values = Map(
      "id" -> id.toString, "received" -> sentText, "sent" -> sentText,
      "priority" -> rnd.nextInt(4).toString, "description" -> description,
      "details" -> text(rnd, shape.detailsChars), "place" -> place,
      "address" -> s"${rnd.nextInt(9000) + 100} Main St",
      "city" -> "Springfield", "state" -> "CO", "lat" -> latText,
      "lon" -> lonText, "source" -> "CAD", "units" -> s"E${rnd.nextInt(20)} M${rnd.nextInt(9)}",
      "responses" -> lines.mkString("\n"))
    val row = Columns.map(c => cell(values.getOrElse(c, ""))).mkString(",")
    val callsigns = names.toSet ++ (if (unknown) Set("Unknown") else Set.empty)
    Alert(id, row, geom.map { case (x, y) => Expect(start, callsigns, x, y) },
      lines.count(_.startsWith("Got a response of ")))
  }

  /** JSONP envelope around the base64 of a CSV export of `alerts`. */
  def envelope(alerts: Seq[Alert], callback: Long): String = {
    val csv = (Columns.mkString(",") +: alerts.map(_.row)).mkString("\n")
    val b64 = Base64.getEncoder.encodeToString(csv.getBytes("UTF-8"))
    s"""jQuery$callback({"result":"success","message":"$b64"})"""
  }
}
