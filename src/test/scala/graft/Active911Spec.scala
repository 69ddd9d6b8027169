package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Conv, CsvToStructs, Expression, HigherOrderFunction, JsonToStructs, RLike, ScalaUDF}
import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.ops.{Active911, Fixtures}

/** Pins the reference pipeline semantics (task.ts:66-231) on the wire
  * fixtures: tz parsing truth table, JS-Number coordinate logic,
  * JS-Map dedup ordering, template whitespace, envelope error routing.
  */
class Active911Spec extends SparkSpec {
  import spark.implicits._

  private def parse(s: String): String = {
    val df = Seq(s).toDF("t")
      .select(Active911.isoUtc(Active911.parseTime(col("t"))).as("iso"))
    Option(df.collect()(0).getString(0)).orNull
  }

  test("parseTime: mapped tz abbreviations (task.ts:45-76)") {
    // Winter: EST=-5, MST(Denver)=-7, HDT quirk → Honolulu −10, NST=−3:30
    assert(parse("12/08/2025 18:27:47 MST") == "2025-12-09T01:27:47.000Z")
    assert(parse("12/08/2025 18:27:47 EST") == "2025-12-08T23:27:47.000Z")
    // DST-collapsed pair: EDT in December still resolves via New_York (−5)
    assert(parse("12/08/2025 18:27:47 EDT") == "2025-12-08T23:27:47.000Z")
    // Summer EDT = −4
    assert(parse("06/15/2025 12:00:00 EDT") == "2025-06-15T16:00:00.000Z")
    // HDT → Pacific/Honolulu (no DST, −10) — reference quirk replicated
    assert(parse("06/15/2025 02:30:00 HDT") == "2025-06-15T12:30:00.000Z")
    assert(parse("12/08/2025 02:30:00 HST") == "2025-12-08T12:30:00.000Z")
    // Half-hour zone
    assert(parse("12/08/2025 12:00:00 NST") == "2025-12-08T15:30:00.000Z")
    assert(parse("12/08/2025 12:00:00 UTC") == "2025-12-08T12:00:00.000Z")
    assert(parse("12/08/2025 12:00:00 GMT") == "2025-12-08T12:00:00.000Z")
  }

  test("parseTime: fallback + garbage (task.ts:75, moment Invalid → null)") {
    // Unmapped abbrev → date part parsed as UTC wall time
    assert(parse("12/08/2025 09:30:00 CEST") == "2025-12-08T09:30:00.000Z")
    // No abbrev at all → same fallback
    assert(parse("12/08/2025 09:30:00") == "2025-12-08T09:30:00.000Z")
    assert(parse("total garbage") == null)
    assert(parse("") == null)
  }

  test("jsNumber: JS Number() coercion quirks (task.ts:172)") {
    val df = Seq("", "  ", "0", "3.5", "-104.99", "abc", "1e2").toDF("s")
      .select(Active911.jsNumber(col("s")).as("n"))
    val got = df.collect().map(_.getDouble(0))
    assert(got(0) == 0.0 && got(1) == 0.0) // '' and whitespace → 0
    assert(got(2) == 0.0 && got(3) == 3.5 && got(4) == -104.99)
    assert(got(5).isNaN) // non-numeric → NaN, not null
    assert(got(6) == 100.0)
  }

  test("jsNumber: Infinity and radix literals match JS Number() exactly") {
    val cases = Seq(
      "Infinity" -> Double.PositiveInfinity,
      "+Infinity" -> Double.PositiveInfinity,
      "-Infinity" -> Double.NegativeInfinity,
      " Infinity " -> Double.PositiveInfinity, // JS trims first
      "infinity" -> Double.NaN,                // case-sensitive in JS
      "InfinityX" -> Double.NaN,
      "0x10" -> 16.0, "0XfF" -> 255.0,
      "0b101" -> 5.0, "0o17" -> 15.0,
      "+0x10" -> Double.NaN,                   // JS: signed radix → NaN
      "-0b1" -> Double.NaN,
      "0xZZ" -> Double.NaN, "0b2" -> Double.NaN, "0o8" -> Double.NaN)
    val got = cases.map(_._1).toDF("s")
      .select(Active911.jsNumber(col("s")).as("n")).collect().map(_.getDouble(0))
    cases.zip(got).foreach { case ((in, want), g) =>
      assert(if (want.isNaN) g.isNaN else g == want, s"Number('$in'): got $g, want $want")
    }
  }

  test("pipeline: coordinate fallback, drop, swap, error routing") {
    val env = Fixtures.envelopes.toDF("agency_id", "raw")
    val feats = Active911.pipeline(env).collect()
    val ids = feats.map(_.getString(0)).sorted
    // 9103 dropped (free-text place), agency 103 error envelope excluded
    assert(ids.toSeq == Seq("active911-9001", "active911-9002",
      "active911-9003", "active911-9101", "active911-9102"))
    val byId = feats.map(r => r.getString(0) -> r).toMap
    def coords(id: String): Seq[Double] =
      byId(id).getStruct(3).getSeq[Double](1)
    // place "41.8781,-87.6298" is lat-first → lon=-87.6298 (task.ts:179-181)
    assert(coords("active911-9101") == Seq(-87.6298, 41.8781))
    // empty lat/lon → JS ''→0 → fallback; slice-to-2 of 3-part place
    assert(coords("active911-9102") == Seq(2.3522, 48.8566))
    // untouched direct coordinates
    assert(coords("active911-9001") == Seq(-104.9903, 39.7392))
    // error channel carries the API message
    val errs = Active911.envelopeErrors(env).collect()
    assert(errs.length == 1 && errs(0).getString(1) == "Agency not available")
    assert(errs(0).getInt(0) == 103)
  }

  test("links: JS-Map dedup — last value wins, first position kept (task.ts:187-209)") {
    val feats = Active911.pipeline(Fixtures.envelopes.toDF("agency_id", "raw"))
      .filter(col("id") === "active911-9001")
      .select(col("properties.links")).collect()
    val links = feats(0).getSeq[Row](0)
    // insertion order: Nick, Jane, Unknown — Jane keeps slot 2 with the
    // LATER response's values
    assert(links.map(_.getString(1)) == Seq("Nick Ingalls", "Jane Roe", "Unknown"))
    val jane = links(1)
    assert(jane.getString(2) == "Respond") // last-wins remarks
    assert(jane.getString(3) == "2025-12-08T23:29:05.000Z") // EST −5
    val unknown = links(2)
    assert(unknown.getString(2) == "Unknown" && unknown.getString(3) == null)
  }

  test("pipeline: one codegen stage, each envelope and CSV record parsed once") {
    // an array lambda drops its whole Filter or Project out of whole-stage
    // codegen (each task then regenerates its code), and a parse under a
    // pushed filter is pasted into the predicate once per column read; the
    // whole envelope decode is one row function under one generator
    val plan = Active911.pipeline(Fixtures.envelopes.toDF("agency_id", "raw"))
      .queryExecution.executedPlan
    def count(pf: PartialFunction[Expression, Expression]): Int =
      plan.collect { case p => p.expressions.map(_.collect(pf).size).sum }.sum
    assert(count { case e: CsvToStructs => e } == 0)
    assert(count { case e: JsonToStructs => e } == 0)
    assert(count { case e: HigherOrderFunction => e } == 0)
    val decodes = count {
      case u: ScalaUDF if u.dataType == ArrayType(Active911.alertSchema, containsNull = false) => u
    }
    assert(decodes == 1)
    // two generators: the decode and the coordinate fix
    assert(plan.collect { case g: GenerateExec => g }.size == 2)
    // every operator from the scan up to the Feature projection runs in one
    // codegen stage
    def inStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(inStage)
    }
    val stages = plan.collect { case w: WholeStageCodegenExec => inStage(w.child) }
    val ops = plan.collect { case p if !p.isInstanceOf[WholeStageCodegenExec] && p.children.nonEmpty => p }
    assert(ops.exists(_.output.exists(_.name == "properties")))
    assert(stages.size == 1 && ops.forall(op => stages.head.exists(_ eq op)),
      s"the Feature lineage is split across codegen stages or falls back:\n$plan")
  }

  test("pipeline: compact plan, each per-row scalar one row function") {
    // a stream re-optimizes and regenerates the stage's source on every
    // trigger, so plan size is paid per trigger: the JS Number() CASE
    // inlined into the coordinate fix made ~1,600 expression nodes, and
    // the four Catalyst decode steps 146 with 13 operators
    val plan = Active911.pipeline(Fixtures.envelopes.toDF("agency_id", "raw"))
      .queryExecution.executedPlan
    def count(pf: PartialFunction[Expression, Expression]): Int =
      plan.collect { case p => p.expressions.map(_.collect(pf).size).sum }.sum
    assert(count { case e: RLike => e } == 0)
    assert(count { case e: CaseWhen => e } == 0)
    assert(count { case e: Conv => e } == 0)
    val nodes = count { case e => e }
    assert(nodes <= 105, s"$nodes expression nodes in:\n$plan")
    assert(plan.collect { case p => p }.size <= 6, s"operators in:\n$plan")
  }

  test("q50 computes no responder links and no start time it does not select") {
    // q50 reads callsign and remarks of `properties`: the links and the
    // time parse must be pruned, not computed per row and dropped
    val df = SparkEntry.queries("q50_active911_features")(spark, "")
    val rows = df.collect()
    assert(rows.length == 5 && rows.map(_.getString(2)).contains("Structure Fire"))
    object Plans extends AdaptiveSparkPlanHelper
    val udfInputs = Plans.collect(df.queryExecution.executedPlan) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u.references.map(_.name).toSeq }))
    assert(udfInputs.nonEmpty && udfInputs.forall(in => !in.contains("responses") && !in.contains("sent")),
      s"row functions over: ${udfInputs.mkString("; ")}")
  }

  test("row functions carry no encoders (no per-task encoder projections)") {
    // a typed Scala lambda UDF carries ExpressionEncoders, and every task
    // generates their Safe/UnsafeProjections from inside the stage
    val plans = Seq(
      Active911.pipeline(Fixtures.envelopes.toDF("agency_id", "raw")),
      Seq("1").toDF("s").select(Active911.jsNumber(col("s")), Active911.parseTime(col("s"))))
      .map(_.queryExecution.analyzed)
    val udfs = plans.flatMap(_.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u })))
    assert(udfs.size >= 5)
    val typed = udfs.filter(u => u.inputEncoders.exists(_.isDefined) || u.outputEncoder.isDefined)
    assert(typed.isEmpty, s"UDFs with encoders: ${typed.mkString(", ")}")
  }

  test("remarks: byte-exact template whitespace (task.ts:221-225)") {
    val r = Active911.pipeline(Fixtures.envelopes.toDF("agency_id", "raw"))
      .filter(col("id") === "active911-9001")
      .select(col("properties.remarks")).collect()(0).getString(0)
    val i32 = " " * 32
    val i28 = " " * 28
    assert(r == s"\n${i32}Groups: E4 L2\n${i32}Author: CAD\n${i32}Two story residential\n$i28")
  }

  test("csv: quoted multi-line + unicode fields survive the record split") {
    val csvText = Fixtures.csv(Seq(
      Fixtures.row("id" -> "1", "description" -> "Ünïcôde, \"quoted\"",
        "lat" -> "1", "lon" -> "1", "sent" -> "12/08/2025 12:00:00 UTC",
        "responses" -> "line one\nline two"),
      Fixtures.row("id" -> "2", "description" -> "plain",
        "lat" -> "2", "lon" -> "2", "sent" -> "12/08/2025 12:00:00 UTC")))
    val env = Seq((1, Fixtures.envelope(csvText))).toDF("agency_id", "raw")
    val alerts = Active911.alertsFromEnvelopes(env).collect()
    assert(alerts.length == 2)
    val a1 = alerts.find(_.getAs[String]("id") == "1").get
    assert(a1.getAs[String]("description") == "Ünïcôde, \"quoted\"")
    assert(a1.getAs[String]("responses") == "line one\nline two")
    // one county-sized envelope: 3,000 alerts, each with a multi-line
    // quoted responder log, must decode every row (the record split is
    // linear in the blob, with no per-record regex recursion)
    val n = 3000
    val bulk = Fixtures.csv((1 to n).map(i => Fixtures.row(
      "id" -> i.toString, "description" -> s"alert $i, \"bulk\"",
      "lat" -> "1", "lon" -> "1", "sent" -> "12/08/2025 12:00:00 UTC",
      "responses" -> s"12:00 unit $i\n12:05 \"on scene\", $i")))
    val bulkEnv = Seq((2, Fixtures.envelope(bulk))).toDF("agency_id", "raw")
    val rows = Active911.alertsFromEnvelopes(bulkEnv)
      .select(col("id"), col("description"), col("responses")).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      (1 to n).map(_.toString).sorted)
    rows.foreach { r =>
      assert(r.getString(1) == s"alert ${r.getString(0)}, \"bulk\"")
      assert(r.getString(2) ==
        s"12:00 unit ${r.getString(0)}\n12:05 \"on scene\", ${r.getString(0)}")
    }
  }

  test("pipeline plan is shuffle-free (scales embarrassingly)") {
    val env = Fixtures.envelopes.toDF("agency_id", "raw")
    val plan = Active911.pipeline(env).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }
}
