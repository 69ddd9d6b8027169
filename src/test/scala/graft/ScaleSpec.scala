package graft

import org.apache.spark.sql.functions._

import graft.ops.Salt

/** Scale-mechanics specs: the techniques that only matter past one
  * machine — salted skew joins and bucketed (pre-shuffled) co-located
  * joins — proven on small data by result equality and plan shape.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("AQE coalesces small shuffle exchanges at runtime") {
    // the runtime re-plan the 100 TB stance leans on: shuffle.partitions
    // is sized for corpus-scale exchanges, and AQE shrinks the small
    // ones instead of scheduling empty tasks
    val df = Graft.table(spark, "/root/testdata/sf0.001", "lineitem")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
      s"expected a coalesced AQE shuffle read:\n$plan")
  }

  test("AQE skew join splits a skewed partition at runtime") {
    // pins the §9.2 stance that AQE handles the skew LONG TAIL (manual
    // salting is for known-hot keys): with skew thresholds scaled to
    // test data, the runtime re-plan must mark the join skewed and
    // split the hot partition — and the result must be unchanged
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    import s.implicits._
    val big = s.createDataset((1 to 50000).map(i =>
      (if (i % 50 == 0) i.toLong else 1L, "payload-padding-padding-" + i)))
      .toDF("k", "payload")
    val dim = s.createDataset((50 to 50000 by 50).map(i => (i.toLong, "v" + i))
      .toSeq :+ (1L, "hot")).toDF("k", "v")
    val joined = big.join(dim, "k")
    // collect() drives joined's OWN QueryExecution, so the AQE final
    // plan is inspectable on it (count() would plan a separate query)
    assert(joined.collect().length == 50000)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("skew"),
      s"expected a runtime skew-split join in:\n$plan")
  }

  test("q98's join under AQE skew handling: OptimizeSkewedJoin applied, result equals the salted rewrite") {
    // SURVEY §9.1 claims AQE's runtime skew split REPLACES manual
    // salting for sort-merge joins at scale; this pins that claim on
    // q98's OWN join (lineitem ⋈ part[p_size<=10] on partkey): the
    // plain join run with skewJoin.enabled must (a) get skew-split by
    // OptimizeSkewedJoin (thresholds scaled to test data, broadcast
    // disabled so the join is SMJ — the only shape AQE can split) and
    // (b) produce exactly the rows of Salt.skewJoin's static rewrite.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val d = "/root/testdata/sf0.001"
    // spread the single-file scan over many map tasks first: AQE splits
    // a skewed reduce partition at MAP-OUTPUT granularity, so a shuffle
    // fed by one mapper (sf0.001's one-split parquet) yields exactly one
    // block per partition and nothing to split — on a real cluster the
    // big side always has many mappers, which is the condition this
    // repartition restores
    val li = Graft.table(s, d, "lineitem")
      .select(col("l_partkey"), col("l_quantity")).repartition(32)
    val pt = Graft.table(s, d, "part").filter(col("p_size") <= 10)
      .select(col("p_partkey"), col("p_size"))
    val aqe = li.join(pt, col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("p_size"))
    // collect() drives aqe's OWN QueryExecution so the final adaptive
    // plan is inspectable on it
    val aqeRows = aqe.collect()
    val plan = aqe.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"expected OptimizeSkewedJoin to mark the SMJ skew-split:\n$plan")
    val salted = graft.ops.Salt
      .skewJoin(li, pt, "l_partkey", "p_partkey", buckets = 8)
      .select(col("l_partkey"), col("l_quantity"), col("p_size"))
    assert(aqeRows.length == salted.count())
    assert(aqe.exceptAll(salted).isEmpty && salted.exceptAll(aqe).isEmpty,
      "AQE skew-split and salted rewrite must produce identical rows")
  }

  test("skewJoin: same result as plain join on a 90%-one-key distribution") {
    val big = (1L to 10000L).map(i => (if (i % 10 == 0) i else 1L, i))
      .toDF("k", "payload")
    val small = Seq((1L, "hot"), (10L, "a"), (20L, "b"), (9990L, "z"))
      .toDF("k2", "v")
    val plain = big.join(small, col("k") === col("k2"))
      .select(col("payload"), col("v"))
    val salted = Salt.skewJoin(big, small, "k", "k2", buckets = 8)
      .select(col("payload"), col("v"))
    assert(plain.count() == salted.count())
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
    // the hot key actually spreads: its rows carry >1 distinct salt
    val spread = big.filter(col("k") === 1L)
      .select(Salt.saltCol(8, big.columns.map(col).toSeq: _*).as("s"))
      .distinct().count()
    assert(spread > 1, s"salt did not spread the hot key (distinct salts = $spread)")
  }

  test("skewJoin: rejects join types that replicate unmatched small-side rows") {
    val big = Seq((1L, "x")).toDF("k", "payload")
    val small = Seq((1L, "v")).toDF("k2", "v")
    val e = intercept[IllegalArgumentException](
      Salt.skewJoin(big, small, "k", "k2", buckets = 4, joinType = "full_outer"))
    assert(e.getMessage.contains("inner/left"))
    // left variants stay allowed
    assert(Salt.skewJoin(big, small, "k", "k2", joinType = "left_semi").count() == 1)
  }

  test("saltedAgg: equals plain aggregation") {
    val df = (1L to 5000L).map(i => (if (i % 100 == 0) i else 7L, i.toDouble))
      .toDF("k", "x")
    val plain = df.groupBy(col("k")).agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    val salted = Salt.saltedAgg(df, col("k"), buckets = 8,
        partial = Seq(sum(col("x")) -> "s", count(lit(1)) -> "n"),
        merge = Seq("s" -> (c => sum(c)), "n" -> (c => sum(c))))
      .withColumnRenamed("__key", "k")
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("capBaskets: a planted whale customer's pair fanout is bounded " +
      "at cap² while everyone under the cap is untouched") {
    import graft.queries.Relational
    // whale customer 1 holds 500 items; normal customers hold ≤ 4
    val whale = (1 to 500).map(i => (1L, i.toLong))
    val normal = for (c <- 2L to 20L; i <- 1L to 4L) yield (c, i)
    val bask = (whale ++ normal).toDF("c", "sv")
    val capped = Relational.capBaskets(bask, "c", "sv", cap = 16)
    // deterministic: the 16 smallest item ids survive for the whale
    val whaleItems = capped.filter(col("c") === 1L)
      .orderBy(col("sv")).as[(Long, Long)].collect().map(_._2).toSeq
    assert(whaleItems == (1L to 16L).toSeq)
    // sub-cap baskets byte-identical
    assert(capped.filter(col("c") =!= 1L).count() == normal.size)
    // the self-join fanout bound the cap exists for: ≤ cap·(cap−1)
    // per customer instead of 500·499 for the whale
    val pairFanout = capped.toDF("c", "sa")
      .join(capped.toDF("c", "sb"), Seq("c"))
      .filter(col("sa") =!= col("sb"))
      .groupBy(col("c")).count()
      .as[(Long, Long)].collect().toMap
    assert(pairFanout(1L) == 16L * 15L,
      s"whale fanout ${pairFanout(1L)} — cap not applied")
    assert(pairFanout.filter(_._1 != 1L).values.forall(_ == 4L * 3L))
  }

  test("spreadIfNarrow: repartitions a single-split scan, no-op on a wide input") {
    val narrow = Graft.table(spark, "/root/testdata/sf0.001", "documents")
    assert(narrow.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
    val spread = Graft.spreadIfNarrow(narrow, col("doc_id"))
    assert(spread.queryExecution.analyzed.toString.contains("RepartitionByExpression"))
    // already at cluster width → identity, no shuffle inserted
    val wide = narrow.repartition(spark.sparkContext.defaultParallelism)
    val kept = Graft.spreadIfNarrow(wide, col("doc_id"))
    assert(kept eq wide)
  }

  test("bucketed tables join without a shuffle (pre-partitioned co-location)") {
    // external tables with explicit paths — the in-memory catalog only
    // tracks metadata, nothing lands in the default warehouse dir
    val whPath = java.nio.file.Files.createTempDirectory("graft_bucket_")
    val wh = whPath.toString
    val d = "/root/testdata/sf0.001"
    val nBuckets = 8
    try {
      Graft.table(spark, d, "orders")
        .write.mode("overwrite")
        .bucketBy(nBuckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/orders_b").saveAsTable("orders_b")
      Graft.table(spark, d, "lineitem")
        .write.mode("overwrite")
        .bucketBy(nBuckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/lineitem_b").saveAsTable("lineitem_b")
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      val joinRegion = plan.substring(0, plan.length) // whole plan
      // the equi-join itself must not introduce a shuffle: both sides are
      // pre-partitioned on the join key by bucketing. (The final small
      // aggregation may still exchange.)
      val exchanges = "Exchange hashpartitioning\\((l_orderkey|o_orderkey)"
        .r.findAllIn(joinRegion).size
      assert(exchanges == 0, s"bucketed join still shuffles:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      Graft.deleteRecursively(whPath)
    }
  }

  test("dynamic partition pruning: a dim-side filter prunes fact " +
      "partitions at runtime") {
    // the other half of the 100 TB scan story beside static pruning
    // (q64/q155): when the fact is partitioned on the join key and the
    // dim filter's surviving keys are only known at runtime, DPP turns
    // the dim's broadcast result into a partition filter on the fact
    // scan — 7 of 10 partition directories are never read. Plan must
    // carry a dynamicpruning expression; results must equal the
    // DPP-off session.
    val whPath = java.nio.file.Files.createTempDirectory("graft_dpp_")
    val wh = whPath.toString
    try {
      val d0 = "/root/testdata/sf0.01"
      Graft.table(spark, d0, "lineitem")
        .withColumn("pk", pmod(col("l_orderkey"), lit(10)))
        .write.mode("overwrite").partitionBy("pk").parquet(s"$wh/fact")
      Graft.table(spark, d0, "nation")
        .select(pmod(col("n_nationkey"), lit(10)).as("k"), col("n_name"))
        .dropDuplicates("k")
        .write.mode("overwrite").parquet(s"$wh/dim")
      def run(s: org.apache.spark.sql.SparkSession): (String, Long) = {
        val fact = s.read.parquet(s"$wh/fact")
        val dim = s.read.parquet(s"$wh/dim")
          .filter(col("n_name").isin("NATION_0", "NATION_1", "NATION_2"))
        val j = fact.join(dim, col("pk") === col("k"))
          .agg(count(lit(1))).as("n")
        (j.queryExecution.executedPlan.toString, j.head().getLong(0))
      }
      val on = spark.newSession()
      on.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
        "true")
      val off = spark.newSession()
      off.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
        "false")
      val (planOn, nOn) = run(on)
      val (planOff, nOff) = run(off)
      assert(planOn.contains("dynamicpruning"),
        s"no dynamic pruning expression in:\n$planOn")
      assert(!planOff.contains("dynamicpruning"))
      assert(nOn == nOff && nOn > 0, s"DPP changed the answer: $nOn vs $nOff")
    } finally {
      Graft.deleteRecursively(whPath)
    }
  }

  test("CBO column stats flip a filtered dim join from sort-merge to " +
      "broadcast (stats-driven planning)") {
    // the 100 TB planner story: a selective dim filter is only
    // broadcast-able if the optimizer KNOWS it is selective. Without
    // column stats the filtered dim keeps the full-table size estimate
    // (SizeInBytesOnly visitors pass the child size through Filter) and
    // the join plans as SMJ; ANALYZE ... FOR ALL COLUMNS + CBO applies
    // the predicate's selectivity and the same query plans as BHJ.
    // Asserted on the STATIC physical plan (sparkPlan) so AQE's runtime
    // rescue cannot mask the difference; results must match exactly.
    val s = spark.newSession()
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", (16 * 1024).toString)
    // sf0.1: the 3-column dim parquet is a few hundred KB — safely ABOVE
    // the 16 KB threshold without stats, while the 49-row filtered
    // estimate with column stats is a couple of KB — safely below
    val d = "/root/testdata/sf0.1"
    val whPath = java.nio.file.Files.createTempDirectory("graft_cbo_")
    val wh = whPath.toString
    s.sql("DROP TABLE IF EXISTS g_cbo_dim")
    s.sql("DROP TABLE IF EXISTS g_cbo_fact")
    try {
      Graft.table(s, d, "part")
        .select(col("p_partkey").cast("long").as("p_partkey"),
          col("p_brand"), col("p_name"))
        .write.mode("overwrite").option("path", s"$wh/dim")
        .saveAsTable("g_cbo_dim")
      Graft.table(s, d, "lineitem")
        .select(col("l_partkey").cast("long").as("l_partkey"),
          col("l_quantity"))
        .write.mode("overwrite").option("path", s"$wh/fact")
        .saveAsTable("g_cbo_fact")
      def joined = s.table("g_cbo_fact")
        .join(s.table("g_cbo_dim").filter(col("p_partkey") < 50),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("l_quantity")).cast("long").as("qty"))
      val before = joined.queryExecution.sparkPlan.toString
      assert(before.contains("SortMergeJoin"),
        s"expected SMJ before ANALYZE:\n$before")
      val rowsBefore = joined.collect().map(r =>
        r.getString(0) -> r.getLong(1)).toMap
      s.sql("ANALYZE TABLE g_cbo_dim COMPUTE STATISTICS FOR ALL COLUMNS")
      s.sql("ANALYZE TABLE g_cbo_fact COMPUTE STATISTICS")
      val after = joined.queryExecution.sparkPlan.toString
      assert(after.contains("BroadcastHashJoin"),
        s"expected BHJ after ANALYZE:\n$after")
      val rowsAfter = joined.collect().map(r =>
        r.getString(0) -> r.getLong(1)).toMap
      assert(rowsBefore == rowsAfter && rowsAfter.nonEmpty,
        "stats changed the physical strategy but must not change results")
    } finally {
      s.sql("DROP TABLE IF EXISTS g_cbo_dim")
      s.sql("DROP TABLE IF EXISTS g_cbo_fact")
      Graft.deleteRecursively(whPath)
    }
  }
}
