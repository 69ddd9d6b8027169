package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two
  * `array<float>` columns in one fused pass (dot + both norms), with
  * whole-stage codegen (SURVEY.md §2.13: preference order — built-ins,
  * then a custom `Expression` with `doGenCode`, then UDF).
  *
  * Versus the `zip_with`+`aggregate` higher-order formulation this
  * allocates no intermediate array per comparison and reads the float
  * ArrayData directly — the difference between O(1) and O(dim) garbage
  * per candidate pair in a top-k scan over 10⁸ vectors.
  *
  * Math note: accumulation is left-to-right in element order, exactly
  * like the higher-order version, so results are bit-identical with the
  * DuckDB oracle's double-precision recomputation (after round-6).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session registration for graft's native expressions; exposed to the
  * Column API via `call_function` (the stable Spark 4 bridge — no
  * internal Column↔Expression conversions).
  */
object GraftFunctions {
  val CosineSimName = "graft_cosine_sim"
  val ShingleHashesName = "graft_shingle_hashes"
  val ShingleHashesAllName = "graft_shingle_hashes_all"
  val MinHashSigName = "graft_minhash_sig"
  val WordShinglesName = "graft_word_shingles"
  val HyperplaneBitsName = "graft_hyperplane_bits"
  val ArgMaxCosName = "graft_argmax_cosine"
  val NormalizeName = "graft_normalize"
  val ZOrderName = "graft_zorder"
  val ShingleRowsName = "graft_shingle_rows"
  val SimHashName = "graft_simhash64"
  val PqEncodeName = "graft_pq_encode"
  val PqAdcName = "graft_pq_adc"
  val AsOfOnName = "graft_asof_on"
  val GeohashName = "graft_geohash"
  val HilbertName = "graft_hilbert"
  val BloomAggName = "graft_bloom_agg"
  val MightContainName = "graft_might_contain"

  private def litInt(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  private def litForm(e: Expression): java.text.Normalizer.Form =
    java.text.Normalizer.Form.valueOf(e.eval().toString.toUpperCase)

  /** name → expression builder, the single source of truth shared by
    * per-session [[register]] and config-time [[graft.GraftExtensions]].
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    CosineSimName -> (exprs => CosineSimilarity(exprs(0), exprs(1))),
    ShingleHashesName -> (exprs => ShingleHashes(exprs(0), litInt(exprs(1)))),
    ShingleHashesAllName ->
      (exprs => ShingleHashes(exprs(0), litInt(exprs(1)), distinct = false)),
    MinHashSigName -> (exprs => SeededMinHash(exprs(0), litInt(exprs(1)))),
    WordShinglesName -> (exprs => WordShingles(exprs(0), litInt(exprs(1)))),
    HyperplaneBitsName ->
      (exprs => HyperplaneSignBits(exprs(0), litInt(exprs(1)))),
    ArgMaxCosName -> (exprs => ArgMaxCosine(exprs(0), exprs(1))),
    NormalizeName ->
      (exprs => NfcNormalize(exprs(0),
        if (exprs.length > 1) litForm(exprs(1))
        else java.text.Normalizer.Form.NFC)),
    ZOrderName ->
      (exprs => ZOrderKey(exprs(0), exprs(1),
        if (exprs.length > 2) litInt(exprs(2)) else 16)),
    ShingleRowsName ->
      (exprs => ShingleGenerate(exprs(0), litInt(exprs(1)))),
    SimHashName -> (exprs => SimHash64(exprs(0))),
    PqEncodeName -> (exprs => PqEncode(exprs(0), exprs(1))),
    PqAdcName -> (exprs => PqAdcDistance(exprs(0), exprs(1), exprs(2))),
    AsOfOnName -> (exprs => graft.plans.AsOfJoin.AsOfOn(
      exprs(0), exprs(1), exprs(2), exprs(3), exprs(4), exprs(5))),
    GeohashName -> (exprs => GeohashEncode(exprs(0), exprs(1), exprs(2))),
    HilbertName -> (exprs => HilbertKey(exprs(0), exprs(1),
      litInt(exprs(2)))),
    // Spark's own runtime-filter expressions, surfaced by name: the
    // build is a mergeable typed aggregate, the probe is a codegen'd
    // native expression (BloomFilterMightContain.doGenCode) — the
    // BloomJoin probe must never fall back to a Scala udf eval node
    BloomAggName -> (exprs =>
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(exprs(0), exprs(1), exprs(2))),
    MightContainName -> (exprs =>
      org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs(0), exprs(1))))

  /** Idempotent: names the session's registry already holds (an earlier
    * call, or [[graft.GraftExtensions]]) are skipped, so repeated calls
    * neither re-register nor log Spark's "replaced a previously
    * registered function" warning.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
