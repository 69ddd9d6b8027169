package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Graft.{deleteRecursively, table}

/** File-source coverage beyond parquet (SURVEY.md §2.1): schema-on-read
  * JSONL and quoted/multi-line CSV — the two ingest formats every
  * training-data pipeline meets — with PERMISSIVE corrupt-record
  * routing. Each query round-trips the documents table through the
  * format (plus injected malformed/adversarial records), so the oracle
  * is the plain parquet aggregation UNION the injected rows: a lossy or
  * misframed read cannot hash-match.
  *
  * Scale notes: JSONL is line-splittable — executors scan it in
  * parallel like parquet (minus pushdown: readers prune columns only
  * after parse). CSV with multiLine=true is NOT splittable (quoted
  * newlines break line framing) — one task per file, so at 100 TB keep
  * multi-line CSV in many small files or convert on ingest; that
  * trade-off is exactly what this entry documents.
  */
object Sources {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Pre-materialize optimized-plan hashes per query name — the
    * LocalRelation a [[materialize]] returns erases the real plan, which
    * blinded cross-round plan diffing for exactly the Sources queries
    * (q62/q64/q72 all reported one hash). Bench reads this map to report
    * the plan that actually executed.
    */
  val planHashes: scala.collection.concurrent.TrieMap[String, String] =
    scala.collection.concurrent.TrieMap.empty

  /** The scrubbed plan TEXT behind each [[planHashes]] entry (r10): the
    * default-on bench capture must dump the string the recorded hash
    * was computed FROM — for materialized queries the returned frame is
    * a LocalRelation stub, so capturing its plan would make a flip in
    * exactly this query class un-diffable (the capture's whole purpose).
    */
  val planTexts: scala.collection.concurrent.TrieMap[String, String] =
    scala.collection.concurrent.TrieMap.empty

  /** Materialize a small result so the staging dir can be deleted before
    * returning (the driver re-executes returned frames lazily). Guarded:
    * every caller here is a per-language aggregate (≤ dozens of rows); the
    * bound makes that contract explicit so a future caller can't quietly
    * turn this into a driver-side OOM — collect is capped at `maxRows`+1
    * and anything over throws instead of ballooning.
    */
  private[queries] def materialize(s: SparkSession, name: String,
      df: DataFrame, maxRows: Int = 10000): DataFrame = {
    import scala.jdk.CollectionConverters._
    val text = graft.Graft.planScrub(
      df.queryExecution.optimizedPlan.canonicalized.toString)
    planTexts(name) = text
    planHashes(name) = graft.Graft.md5_8(text)
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"Sources.materialize($name): result exceeds $maxRows rows — " +
        "materialize is for small aggregates only; write large results " +
        "to a sink instead of collecting them")
    s.createDataFrame(rows.toSeq.asJava, df.schema)
  }

  /** [[materialize]] for a rig that already EXECUTED its frame once and
    * holds the rows (r13, VERDICT-r12 #7 — q366 previously ran its DSv2
    * join three times: contract collect, completeness replay, and the
    * materialize re-collect): records `planDf`'s optimized plan for the
    * drift gate exactly as [[materialize]] would, but assembles the
    * result from the caller's collected rows instead of re-executing.
    * The caller guarantees `rows` IS what `planDf` would return.
    */
  private[graft] def materializeCollected(s: SparkSession, name: String,
                                   planDf: DataFrame,
                                   rows: Seq[org.apache.spark.sql.Row],
                                   maxRows: Int = 10000): DataFrame = {
    // r14 (VERDICT-r13 #2 / ADVICE): the same 10k bound [[materialize]]
    // enforces — the one-execution rigs hold collected rows, and without
    // the require a hot probe key or wide band silently becomes a
    // driver-side OOM instead of a loud contract failure.
    require(rows.length <= maxRows,
      s"Sources.materializeCollected($name): result exceeds $maxRows rows " +
        "— the collected-rows pattern is for small probe/band-bounded " +
        "lookups only; write large results to a sink instead")
    import scala.jdk.CollectionConverters._
    val text = graft.Graft.planScrub(
      planDf.queryExecution.optimizedPlan.canonicalized.toString)
    planTexts(name) = text
    planHashes(name) = graft.Graft.md5_8(text)
    s.createDataFrame(rows.asJava, planDf.schema)
  }

  /** Bounded collect for the one-execution rigs' `got`/`want` legs
    * (r14, VERDICT-r13 #2): `limit(maxRows + 1)` bounds the rows that
    * ever reach the driver and the require turns overflow into the same
    * loud failure [[materialize]] raises — under the cap the limit is a
    * no-op (every row comes back), so the compared/returned rows are
    * exactly what the unbounded collect produced.
    */
  private[graft] def collectCapped(name: String, df: DataFrame,
                            maxRows: Int = 10000): Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"Sources.collectCapped($name): leg exceeds $maxRows rows — the " +
        "lookup family's probe/band-bounded contract no longer holds; " +
        "widen the bound deliberately or write to a sink")
    rows
  }

  /** The (event_id, ukey, yq) projection the bloom-lookup family keys
    * on: ukey is the scattered lookup key (multiplicative-hash residue
    * class), yq the hour bucket the layout sorts by.
    */
  private def ukeyBase(s: SparkSession, d: String): DataFrame =
    graft.Graft.normalizeTs(table(s, d, "events"))
      .select(col("event_id"),
        (pmod(col("event_id") * lit(2654435761L), lit(1000000007L))
          * 1000L + 7L).as("ukey"),
        expr("unix_micros(ts) div 3600000000").as("yq"))

  /** The staged bloom LAYOUT + MANIFEST shared by the whole lookup
    * family (r11, VERDICT-r10 #1 — q356/q358/q362 previously each
    * built their own layout, and q356/q358 re-probed every footer per
    * query): two staged generations (base + later-arriving delta, the
    * append shape; 8 sorted files each, footer blooms on ukey), and
    * ONE bloom-bytes manifest relation whose per-file slices are built
    * exactly once per file state ([[graft.ops.ManifestLookup]]). Every
    * lookup in the family serves its kept set from this manifest —
    * "built once, amortized across lookups" is now deployed IN the
    * operators, not demonstrated beside them. Returns (generation
    * dirs, layout file paths, manifest relation).
    */
  private def bloomLayoutManifest(s: SparkSession, d: String)
      : (Seq[String], Seq[String], DataFrame) = {
    val evSrc = s"$d/events.parquet"
    val base = ukeyBase(s, d)
    def layout(nm: String,
               pred: org.apache.spark.sql.Column): String =
      graft.ops.Staged.relationDir(s, nm, "v1", Seq(evSrc)) { tmp =>
        val part = base.filter(pred)
        val n = part.count()
        val k = (n + 7) / 8
        part.repartition(1)
          .sortWithinPartitions(col("yq"), col("event_id"))
          .write.option("maxRecordsPerFile", k)
          .option("parquet.bloom.filter.enabled#ukey", "true")
          .mode("overwrite").parquet(tmp)
      }.toString
    val gens = Seq(
      layout("bmlayout_base", pmod(col("event_id"), lit(10)) =!= 7),
      layout("bmlayout_delta", pmod(col("event_id"), lit(10)) === 7))
    // one listing RPC per generation dir; the manifest's deps are the
    // files themselves, so only NEW files' slices build on append
    val conf = s.sessionState.newHadoopConf()
    val filePaths = gens.flatMap { g =>
      val p = new org.apache.hadoop.fs.Path(g)
      // scheme-free paths: Staged's fingerprint stats them via NIO
      p.getFileSystem(conf).listStatus(p).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toUri.getPath).sorted
    }
    val manifest = graft.ops.ManifestLookup.bloomManifest(
      s, "bloommanifest", "v1", filePaths, "ukey")
    (gens, filePaths, manifest)
  }

  /** The manifest-derived file count as a one-row frame — cross-joined
    * (broadcast) into each lookup's output so the FINAL PLAN carries a
    * scan of the manifest RELATION (the done-criterion observable: the
    * lookup's n_files is an aggregate OVER the manifest, not a driver
    * literal).
    */
  private def manifestFileCount(manifest: DataFrame): DataFrame =
    manifest.select(col("path")).distinct()
      .agg(count(lit(1)).as("n_files"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // JSONL source: schema-on-read with PERMISSIVE corrupt routing. Two
    // malformed lines are injected; they must surface as a '(corrupt)'
    // group, not vanish and not poison valid rows.
    "q62_jsonl_source" -> ((s, d) => {
      val stage = Files.createTempDirectory("graft_jsonl_")
      try {
        table(s, d, "documents")
          .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))).as("value"))
          .coalesce(1).write.mode("overwrite").text(s"$stage/data")
        Files.write(Paths.get(s"$stage/data/corrupt.txt"),
          "this is not json\n{\"doc_id\": oops,}\n".getBytes("UTF-8"))
        val read = s.read
          .schema(docSchema.add("_corrupt_record", StringType))
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(s"$stage/data")
        materialize(s, "q62_jsonl_source", read
          .groupBy(when(col("_corrupt_record").isNotNull, lit("(corrupt)"))
            .otherwise(col("lang")).as("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"))
          .orderBy(col("lang")))
      } finally deleteRecursively(stage)
    }),

    // Partitioned parquet sink → pruned re-read: the training-corpus
    // output layout (partition column = the downstream filter column).
    // The lang-IN filter must prune at the PARTITION level on re-read
    // (asserted in SourcesSpec); the oracle pins the round-trip values.
    "q64_partitioned_sink" -> ((s, d) => {
      val stage = Files.createTempDirectory("graft_psink_")
      try {
        table(s, d, "documents")
          .write.mode("overwrite").partitionBy("lang")
          .parquet(s"$stage/out")
        val read = s.read.parquet(s"$stage/out")
          .filter(col("lang").isin("en", "de"))
        materialize(s, "q64_partitioned_sink", read
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
          .orderBy(col("lang")))
      } finally deleteRecursively(stage)
    }),

    // Range-partitioned + sorted parquet layout: repartitionByRange on
    // (lang, doc_id) then sortWithinPartitions — the zone-map layout
    // that lets parquet row-group min/max stats prune point/range scans
    // at 100 TB. The contract, proven on the READ-BACK files: per-file
    // (min,max) key ranges are pairwise disjoint (files_disjoint), and
    // no content was lost (rows / sum_doc_id vs the oracle). Range
    // boundary sampling is seeded → deterministic across re-runs.
    "q80_sorted_layout" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val stage = Files.createTempDirectory("graft_layout_")
      try {
        table(s, d, "documents")
          .repartitionByRange(8, col("lang"), col("doc_id"))
          .sortWithinPartitions(col("lang"), col("doc_id"))
          .write.mode("overwrite").parquet(s"$stage/out")
        val back = s.read.parquet(s"$stage/out")
          .select(col("doc_id"), col("lang"), input_file_name().as("f"))
        val perFile = back.groupBy(col("f"))
          .agg(min(struct(col("lang"), col("doc_id"))).as("lo"),
            max(struct(col("lang"), col("doc_id"))).as("hi"),
            count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        val flags = perFile
          .withColumn("prev_hi", lag(col("hi"), 1).over(Window.orderBy(col("lo"))))
          .select((col("prev_hi").isNull || col("lo") > col("prev_hi")).as("ok"),
            col("n"), col("sum_id"))
        materialize(s, "q80_sorted_layout", flags.agg(
          sum(col("n")).as("rows"),
          sum(col("sum_id")).as("sum_doc_id"),
          min(col("ok")).as("files_disjoint")))
      } finally deleteRecursively(stage)
    }),

    // Physical footer zone maps (r9, §7.6): q343 models zone-map
    // pruning arithmetically; q80 proves sorted files are key-disjoint
    // at ROW level. This rig closes the loop to the PHYSICAL reader:
    // events are clustered by the native Hilbert key into exact k-row
    // file chunks (repartition(1) + sortWithinPartitions +
    // maxRecordsPerFile — the byte-determinism price; production lays
    // out with repartitionByRange, the same layout class with sampled
    // boundaries), and the per-file zone maps are read back from the
    // REAL parquet FOOTER STATISTICS (parquet-hadoop column-chunk
    // min/max), not recomputed from rows. The pinned contract: the
    // footer-derived box multiset EQUALS the arithmetic model's
    // (row_number chunking — the writer rolls at exactly
    // maxRecordsPerFile rows per file in sort order), so the
    // per-predicate touched counts the oracle replays are exactly what
    // a min/max-pruning reader would do on these bytes. The footer
    // pass runs as ONE distributed metadata job (ops.FooterManifest,
    // r10) — per-file footer IO in executors, only the tiny boxes
    // collected — the same scan a table-format manifest (Iceberg/Delta
    // file stats) serves at 100 TB.
    "q346_footer_zonemap" -> ((s, d) => {
      graft.expr.GraftFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      import scala.jdk.CollectionConverters._
      val base = graft.Graft.normalizeTs(table(s, d, "events"))
        .select(col("event_id"),
          pmod(col("user_id"), lit(256L)).as("xq"),
          pmod(expr("unix_micros(ts) div 3600000000"), lit(256L)).as("yq"))
        .withColumn("hkey",
          call_function(graft.expr.GraftFunctions.HilbertName,
            col("xq"), col("yq"), lit(8)))
      // ONE global sort shared by the layout write and the arithmetic
      // model (r14, guide §1.2 — the q361 move; see that rig's comment)
      val sorted = base.repartition(1)
        .sortWithinPartitions(col("hkey"), col("event_id"))
        .localCheckpoint(true)
      val n = sorted.count() // counts the cached blocks — no rescan
      val k = (n + 15) / 16
      val stage = Files.createTempDirectory("graft_footer_")
      try {
        sorted
          .write.option("maxRecordsPerFile", k)
          .mode("overwrite").parquet(s"$stage/out")
        // r10 (VERDICT-r9 #1): footer IO runs as ONE metadata Spark job
        // (ops.FooterManifest), not a serial driver loop — only the
        // per-file boxes come back; SourcesSpec pins the in-task count
        val (footers, _) = graft.ops.FooterManifest.probe(
          s, s"$stage/out", Seq("xq", "yq"))
        val footerBoxes = footers.map { f =>
          val (x0, x1) = f.range(0)
          val (y0, y1) = f.range(1)
          (x0, x1, y0, y1)
        }
        // rank from the checkpointed single sorted partition (r14 — the
        // q361 move): monotonically_increasing_id on partition 0 is
        // 0..n-1 in row order ≡ row_number over (hkey, event_id)
        val model = sorted
          .withColumn("rn", monotonically_increasing_id() + lit(1L))
          .withColumn("chunk", expr(s"(rn - 1) div $k"))
          .groupBy(col("chunk"))
          .agg(min(col("xq")).as("x0"), max(col("xq")).as("x1"),
            min(col("yq")).as("y0"), max(col("yq")).as("y1"))
          .localCheckpoint(true)
        val modelBoxes = model.select(col("x0"), col("x1"),
            col("y0"), col("y1")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSeq
        val eq = footerBoxes.sorted == modelBoxes.sorted
        import s.implicits._
        val preds = Seq(
          ("x_range", 16L, 31L, 0L, 255L),
          ("y_range", 0L, 255L, 16L, 31L),
          ("xy_box", 16L, 31L, 16L, 31L))
          .toDF("pred", "px0", "px1", "py0", "py1")
        materialize(s, "q346_footer_zonemap", model
          .crossJoin(broadcast(preds))
          .groupBy(col("pred"))
          .agg(count(lit(1)).as("n_chunks"),
            sum((col("x1") >= col("px0") && col("x0") <= col("px1") &&
              col("y1") >= col("py0") && col("y0") <= col("py1"))
              .cast("long")).as("touched"))
          .withColumn("skipped_permille",
            expr("((n_chunks - touched) * 1000) div n_chunks"))
          .withColumn("footer_eq_model", lit(eq))
          .orderBy(col("pred")))
      } finally deleteRecursively(stage)
    }),

    // Bloom-filter file skipping measured end-to-end (r9, §7.6 — the
    // membership layer quantified beside q346's zone maps): files are
    // TIME-clustered, so the per-file (min, max) of a hash-scattered
    // key covers almost any probe (zone maps cannot prune scattered
    // keys); footer BLOOMS on that key can. Two non-obvious
    // constraints the rig encodes: the key must be HIGH-CARDINALITY —
    // parquet skips the bloom entirely when a chunk stays fully
    // dictionary-encoded (the dictionary IS an exact membership
    // filter; probed: a ~150-distinct key wrote bloom=NULL) — and
    // SPARSE by construction (ukey ≡ 7 mod 1000) so an in-range
    // absent probe exists (…+8): minmax_touched for it is most files
    // (replayed exactly by the oracle via the chunk model), while the
    // bloom's effective touch count collapses to ~fpp·files — pinned
    // as contract booleans since DuckDB cannot replay the bloom
    // bytes: zero false negatives (every file truly containing the
    // present key is bloom-hit), effective ⊆ range-hit (a reader
    // consults both), and the absent probe's effective count under a
    // generous fpp bound.
    "q354_bloom_skipping" -> ((s, d) => {
      import s.implicits._
      import scala.jdk.CollectionConverters._
      val base = graft.Graft.normalizeTs(table(s, d, "events"))
        .select(col("event_id"),
          (pmod(col("event_id") * lit(2654435761L), lit(1000000007L))
            * 1000L + 7L).as("ukey"),
          expr("unix_micros(ts) div 3600000000").as("yq"))
      val n = base.count()
      val k = (n + 15) / 16
      val presentKey = base.filter(col("event_id") === 1)
        .select(col("ukey")).head.getLong(0)
      val absentKey = presentKey + 1 // ≡ 8 (mod 1000): in-range, absent
      val stage = Files.createTempDirectory("graft_bloomq_")
      try {
        base.repartition(1)
          .sortWithinPartitions(col("yq"), col("event_id"))
          .write.option("maxRecordsPerFile", k)
          .option("parquet.bloom.filter.enabled#ukey", "true")
          .mode("overwrite").parquet(s"$stage/out")
        // r10 (VERDICT-r9 #1): one distributed metadata job for all
        // footers+blooms — decision logic below is unchanged
        val (footers, _) = graft.ops.FooterManifest.probe(s,
          s"$stage/out", Seq("ukey"), "ukey", Seq(presentKey, absentKey))
        val infos = footers.map { f =>
          val (lo, hi) = f.range(0)
          (f.path, lo, hi, f.anyBloomHit(0), f.anyBloomHit(1))
        }
        def rangeHits(v: Long) = infos.filter(i => i._2 <= v && v <= i._3)
        def effective(v: Long, hit: ((String, Long, Long, Boolean, Boolean)) => Boolean) =
          rangeHits(v).count(hit)
        // files truly containing the present key, from the data itself
        val containing = s.read.parquet(s"$stage/out")
          .filter(col("ukey") === presentKey)
          .select(input_file_name()).distinct()
          .collect().map(_.getString(0)).toSet
        val bloomHitPresent = infos.filter(_._4).map(_._1).toSet
        val noFalseNeg = containing.forall(f =>
          bloomHitPresent.exists(h => h.endsWith(f.split("/").last) ||
            f.endsWith(h.split("/").last)))
        val effPresent = effective(presentKey, _._4)
        val effAbsent = effective(absentKey, _._5)
        Seq(
          ("absent", infos.size.toLong, rangeHits(absentKey).size.toLong,
            true, effAbsent <= rangeHits(absentKey).size,
            effAbsent <= 4),
          ("present", infos.size.toLong, rangeHits(presentKey).size.toLong,
            noFalseNeg, effPresent <= rangeHits(presentKey).size,
            effPresent >= 1))
          .toDF("probe", "n_files", "minmax_touched",
            "no_false_negatives", "effective_le_minmax",
            "effective_prunes")
          .orderBy(col("probe"))
      } finally deleteRecursively(stage)
    }),

    // Bloom-GUIDED scan (r9 operator; r11 rebuilt on the staged
    // manifest, VERDICT-r10 #1): an equality lookup on the scattered
    // key executes as (1) a MANIFEST-RELATION scan — range test +
    // `BlockSplitBloomFilter(bitset)` reconstruction per manifest row
    // (ManifestLookup.keptPaths), ZERO data-file footer IO, the
    // footers were read once at manifest-build time — then (2) a Spark
    // scan over ONLY the kept files. r10's form re-probed every footer
    // per query (distributed, but O(files) metadata round-trips EACH
    // invocation); this is the amortized form a real table format
    // serves: build the file-stats index at commit time, scan it per
    // lookup. Correctness is a theorem (blooms have no false
    // negatives, ranges are exact ⇒ the pruned scan sees every
    // matching row; a NULL bloom — dictionary-encoded chunk, the
    // ADVICE-r9 writer behavior — is kept on range alone), verified
    // in-query by symmetric exceptAll against the full scan AND by the
    // oracle, which replays the lookup over the raw table. Pruning is
    // pinned as kept ≤ 4-of-16 (fpp-bounded); n_files is an aggregate
    // OVER the manifest relation, so the final plan carries the
    // manifest scan. SourcesSpec pins the amortization itself: an
    // unchanged layout's second lookup opens zero footers.
    "q356_bloom_guided_scan" -> ((s, d) => {
      val base = ukeyBase(s, d)
      val probe = base.filter(col("event_id") === 1)
        .select(col("ukey")).head.getLong(0)
      val (gens, _, manifest) = bloomLayoutManifest(s, d)
      val kept = graft.ops.ManifestLookup.keptPaths(s, manifest, Seq(probe))
      // zone ranges are exact and blooms have no false negatives, so an
      // empty kept set means the key holds no rows — but an empty path
      // list would crash the read; keep the plan shape via the gens
      val keptPaths = if (kept.isEmpty) gens else kept
      val pruned = s.read.parquet(keptPaths: _*)
        .filter(col("ukey") === probe)
        .select(col("event_id"), col("ukey"))
      // ONE execution per leg (r13, q366 collected-rows pattern);
      // both collects capped at the materializer bound (r14)
      val got = collectCapped("q356_got", pruned.orderBy(col("event_id")))
      val want = collectCapped("q356_want", s.read.parquet(gens: _*)
        .filter(col("ukey") === probe)
        .select(col("event_id"), col("ukey")))
        .map(r => (r.getLong(0), r.getLong(1)))
      val complete = got.map(r => (r.getLong(0), r.getLong(1))).sorted
        .sameElements(want.sorted)
      val nf = manifestFileCount(manifest).head.getLong(0)
      val keptOk = kept.size <= 4
      val planDf = pruned
        .crossJoin(broadcast(manifestFileCount(manifest)))
        .withColumn("kept_le_4", lit(keptOk))
        .withColumn("result_complete", lit(complete))
        .orderBy(col("event_id"))
      materializeCollected(s, "q356_bloom_guided_scan", planDf,
        got.toSeq.map(r => org.apache.spark.sql.Row(
          r.getLong(0), r.getLong(1), nf, keptOk, complete)))
    }),

    // Bloom semi-join pushdown through the manifest (r9 — q356's
    // probe-SET form, the dim-filtered fact lookup shape; r11 rebuilt
    // on the staged manifest, VERDICT-r10 #1): the probe side is a key
    // SET (here the keys of events 1..8 — in production a broadcast
    // dim's join keys); the kept set is ONE distributed scan of the
    // manifest relation — each manifest row tested against every
    // in-range probe on its reconstructed bloom — then Spark scans
    // only the kept files with the IN-set filter. Zero data-file
    // footer IO per lookup (the r10 form re-probed O(files · |probes|)
    // footers per invocation). Same correctness theorem as q356
    // (per-probe no-false-negatives unions over the set), verified
    // in-query and by the oracle's raw-table replay of the semi-join;
    // pruning pinned as kept ≤ 12-of-16 (8 scattered probes, ≈1 file
    // each, fpp-bounded extras); n_files aggregates OVER the manifest
    // relation. At 100 TB this is bloom-tested dynamic file pruning
    // served from a commit-time file-stats index.
    "q358_bloom_semijoin_scan" -> ((s, d) => {
      val base = ukeyBase(s, d)
      val probes = base.filter(col("event_id").between(1, 8))
        .select(col("ukey")).collect().map(_.getLong(0)).toSeq
      val (gens, _, manifest) = bloomLayoutManifest(s, d)
      val kept = graft.ops.ManifestLookup.keptPaths(s, manifest, probes)
      // empty kept ⇒ no probe holds rows; keep the plan shape (q356)
      val keptPaths = if (kept.isEmpty) gens else kept
      val pruned = s.read.parquet(keptPaths: _*)
        .filter(col("ukey").isin(probes: _*))
        .select(col("event_id"), col("ukey"))
      // ONE execution per leg (r13, q366 collected-rows pattern);
      // both collects capped at the materializer bound (r14)
      val got = collectCapped("q358_got", pruned.orderBy(col("event_id")))
      val want = collectCapped("q358_want", s.read.parquet(gens: _*)
        .filter(col("ukey").isin(probes: _*))
        .select(col("event_id"), col("ukey")))
        .map(r => (r.getLong(0), r.getLong(1)))
      val complete = got.map(r => (r.getLong(0), r.getLong(1))).sorted
        .sameElements(want.sorted)
      val nf = manifestFileCount(manifest).head.getLong(0)
      val keptOk = kept.size <= 12
      val planDf = pruned
        .crossJoin(broadcast(manifestFileCount(manifest)))
        .withColumn("kept_le_12", lit(keptOk))
        .withColumn("result_complete", lit(complete))
        .orderBy(col("event_id"))
      materializeCollected(s, "q358_bloom_semijoin_scan", planDf,
        got.toSeq.map(r => org.apache.spark.sql.Row(
          r.getLong(0), r.getLong(1), nf, keptOk, complete)))
    }),

    // Staged footer-manifest RELATION (r10 — the full Iceberg/Delta
    // manifest move, composing three protocol pieces): (1) the sorted
    // event LAYOUT is a staged directory artifact
    // (Staged.relationDir: fingerprint-keyed, ATOMIC_MOVE-published,
    // file count + sort order controlled by the writer) in TWO
    // generations — base and later-arriving delta, the append shape;
    // (2) the zone-map manifest is a deltaRelation whose deps are the
    // LAYOUT FILES THEMSELVES — each slice derives from exactly one
    // file's footer (per-dep row-locality holds trivially), so an
    // appended generation probes ONLY its own files' footers: the
    // incremental maintenance real table formats get by writing
    // manifest entries at commit time; (3) a range lookup probes the
    // manifest as a COLUMNAR SCAN (filter on [lo, hi] overlap), keeps
    // the overlapping files (selectivity-bounded — the ~2%-of-keyspace
    // band touches ≤ 2 of 8 sorted files per generation), and scans
    // only those. vs q346/q354/q356: those re-probe every footer per
    // query (distributed, but O(files) work each time); the manifest
    // RELATION is built once per layout state and amortizes across
    // every lookup — at 100 TB this is the difference between "list +
    // open 10⁶ footers per query" and "scan one small manifest table".
    // Correctness: zone ranges are exact ⇒ the pruned scan sees every
    // in-range row — verified in-query by symmetric exceptAll vs the
    // full scan AND by the oracle replaying the range lookup over the
    // raw table.
    "q360_manifest_relation" -> ((s, d) => {
      import s.implicits._
      val evSrc = s"$d/events.parquet"
      val base = graft.Graft.normalizeTs(table(s, d, "events"))
        .select(col("event_id"))
      val maxId = base.agg(max(col("event_id"))).head.getLong(0)
      val lo = maxId / 4
      // FIXED band width (r12, caught by the ~sf1 stress rehearsal):
      // the old mx/50 width made the RESULT grow linearly with scale,
      // so the 10x stress input tripped materialize's 10k-row guard —
      // the q302 class again (a rig parameter that silently scales
      // with the data). A range lookup's answer size is a property of
      // the QUERY, not the corpus; 500 keys keeps the band inside
      // every sf's id range (min events table is 1k rows) and the
      // kept-file contract scale-invariant.
      val hi = lo + math.min(500L, maxId / 50L)
      def layout(nm: String,
                 pred: org.apache.spark.sql.Column): String =
        graft.ops.Staged.relationDir(s, nm, "v1", Seq(evSrc)) { tmp =>
          val part = base.filter(pred)
          val n = part.count()
          val k = (n + 7) / 8
          part.repartition(1).sortWithinPartitions(col("event_id"))
            .write.option("maxRecordsPerFile", k)
            .mode("overwrite").parquet(tmp)
        }.toString
      val gens = Seq(
        layout("evtlayout_base", pmod(col("event_id"), lit(10)) =!= 7),
        layout("evtlayout_delta", pmod(col("event_id"), lit(10)) === 7))
      // r13 (VERDICT-r12 #2): the zone-map manifest family is UNIFIED
      // onto the DSv2 table — the r12 rig-local prepublishSlices +
      // deltaRelation serve is retired; graft.sources.ManifestDataSource
      // builds/serves "evtmanifest" through the same ManifestLookup
      // protocol (batched cold build, per-file slices, LSM compaction),
      // and the range lookup is a plain SQL BETWEEN whose >=/<=
      // conjuncts prune files via the manifest's zone ranges at plan
      // time. Bloom is OPTIONAL by construction: this layout writes no
      // footer blooms, so its manifest rows carry NULL bitsets and the
      // range path is the only pruning layer — exactly what a zone-map
      // manifest is. The executed plan carries the RelationV2 manifest
      // scan (the done-criterion observable).
      s.read.format("graft.sources.ManifestDataSource")
        .option("layoutDirs", gens.mkString(","))
        .option("keyColumn", "event_id")
        .option("manifestName", "evtmanifest")
        .load().createOrReplaceTempView("evt_manifested")
      val pruned = s.sql("SELECT event_id FROM evt_manifested " +
        s"WHERE event_id BETWEEN $lo AND $hi")
      // ONE execution of each leg (r13, the q366 collected-rows pattern
      // extended family-wide): the old exceptAll-both-ways + materialize
      // re-collect ran the DSv2 scan three times and the full scan twice
      // per invocation; the completeness check is a driver-side multiset
      // compare on the band-bounded collected rows instead.
      val got = collectCapped("q360_got",
        pruned.orderBy(col("event_id")))
      // the scan's own observables (scoped to this manifest), set by
      // the execution above
      val o = graft.sources.ManifestDataSource.observed("evtmanifest")
      val nf = o.totalFiles.toLong
      val keptOk = o.keptFiles.size <= 4
      val want = collectCapped("q360_want", s.read.parquet(gens: _*)
        .filter(col("event_id").between(lo, hi))
        .select(col("event_id")))
        .map(_.getLong(0))
      val complete = got.map(_.getLong(0)).sorted.sameElements(want.sorted)
      val planDf = pruned
        .withColumn("n_files", lit(nf))
        .withColumn("kept_le_4", lit(keptOk))
        .withColumn("result_complete", lit(complete))
        .orderBy(col("event_id"))
      materializeCollected(s, "q360_manifest_relation", planDf,
        got.toSeq.map(r => org.apache.spark.sql.Row(
          r.getLong(0), nf, keptOk, complete)))
    }),

    // Bloom-BYTES manifest relation (r10 — q360's zone-map manifest
    // extended with the membership layer, the Iceberg-puffin /
    // secondary-index move): the staged per-file manifest slices store
    // the parquet footer blooms' BITSET BYTES alongside the min/max,
    // so an equality lookup on the scattered key probes the manifest
    // RELATION — a distributed filter that range-tests and
    // reconstructs each row's bloom (`BlockSplitBloomFilter(bitset)`,
    // the same XXH64 block-split filter the writer produced, so the
    // zero-false-negatives theorem carries byte-for-byte) — and never
    // reopens a single data-file footer. Footer IO is paid ONCE per
    // file at manifest-build time (deltaRelation per-file slices:
    // appends probe only new files) and each lookup is a scan of a
    // small manifest table + IO on only the kept files. Since r11 the
    // whole lookup family (q356/q358) serves from THIS manifest
    // (VERDICT-r10 #1) — this entry remains the canonical statement of
    // the protocol's three pieces.
    // Correctness is the same theorem verified the same two ways
    // (in-query symmetric exceptAll vs the full scan; oracle replays
    // the lookup raw). A chunk whose bloom the writer omitted (fully
    // dictionary-encoded — the ADVICE-r9 behavior) stores NULL and is
    // kept on range alone: membership pruning degrades, correctness
    // doesn't.
    "q362_bloom_manifest_relation" -> ((s, d) => {
      val base = ukeyBase(s, d)
      val probe = base.filter(col("event_id") === 1)
        .select(col("ukey")).head.getLong(0)
      // the staged layout + manifest shared with q356/q358 (r11): the
      // manifest's per-file slices build once per file state here or
      // in whichever family member runs first — every later lookup is
      // a pure manifest scan (SourcesSpec pins zero footer reopens)
      val (gens, _, manifest) = bloomLayoutManifest(s, d)
      // the lookup: a DISTRIBUTED manifest scan — range test + bloom
      // reconstruction per row, zero data-file IO — then only kept
      // paths are read (typed filter, not a udf: the closure runs on
      // the manifest's executors and the manifest is the small table)
      val kept = graft.ops.ManifestLookup.keptPaths(s, manifest, Seq(probe))
      val keptPaths = if (kept.isEmpty) gens else kept
      val pruned = s.read.parquet(keptPaths: _*)
        .filter(col("ukey") === probe)
        .select(col("event_id"), col("ukey"))
      // ONE execution per leg (r13, q366 collected-rows pattern): the
      // completeness check compares collected probe-bounded rows
      // driver-side instead of exceptAll-both-ways re-executions.
      // Both collects capped at the materializer bound (r14).
      val got = collectCapped("q362_got", pruned.orderBy(col("event_id")))
      val want = collectCapped("q362_want", s.read.parquet(gens: _*)
        .filter(col("ukey") === probe)
        .select(col("event_id"), col("ukey")))
        .map(r => (r.getLong(0), r.getLong(1)))
      val complete = got.map(r => (r.getLong(0), r.getLong(1))).sorted
        .sameElements(want.sorted)
      val nf = manifestFileCount(manifest).head.getLong(0)
      val keptOk = kept.size <= 4
      val planDf = pruned
        .crossJoin(broadcast(manifestFileCount(manifest)))
        .withColumn("kept_le_4", lit(keptOk))
        .withColumn("result_complete", lit(complete))
        .orderBy(col("event_id"))
      materializeCollected(s, "q362_bloom_manifest_relation", planDf,
        got.toSeq.map(r => org.apache.spark.sql.Row(
          r.getLong(0), r.getLong(1), nf, keptOk, complete)))
    }),

    // SQL-reachable manifest pruning (r11, VERDICT-r10 #2 — closes
    // "What's missing #1"): the SAME staged layout + manifest, exposed
    // through the DSv2 table (sources/ManifestDataSource,
    // SupportsPushDownFilters + SupportsPushDownRequiredColumns), so a
    // PLAIN SQL `WHERE ukey = :v` — the q90 gateway user's surface —
    // gets manifest file pruning with zero footer IO at plan time: the
    // r10 machinery required calling FooterManifest/Staged helpers by
    // hand. Catalyst pushes the equality to the scan builder; the scan
    // prunes files via the manifest's range+bloom pass and keeps ALL
    // predicates residual (file-level pruning; Spark re-applies
    // row-level, so bloom fpp costs IO never correctness). The oracle
    // replays the lookup over the raw table; result_complete pins the
    // SQL rows against the unpruned scan in-query; SourcesSpec pins
    // the plan-level behavior (pushed filters recorded, kept ⊂ total,
    // repeat lookup opens zero footers, ReadSchema pruned).
    "q364_sql_manifest_pruning" -> ((s, d) => {
      val base = ukeyBase(s, d)
      val probe = base.filter(col("event_id") === 2)
        .select(col("ukey")).head.getLong(0)
      val (gens, _, manifest) = bloomLayoutManifest(s, d)
      s.read.format("graft.sources.ManifestDataSource")
        .option("layoutDirs", gens.mkString(","))
        .option("keyColumn", "ukey")
        .option("manifestName", "bloommanifest")
        .load().createOrReplaceTempView("events_manifested")
      val sqlRes = s.sql(
        s"SELECT event_id, ukey FROM events_manifested WHERE ukey = $probe")
      // ONE execution per leg (r13, q366 collected-rows pattern);
      // both collects capped at the materializer bound (r14)
      val got = collectCapped("q364_got", sqlRes.orderBy(col("event_id")))
      val want = collectCapped("q364_want", s.read.parquet(gens: _*)
        .filter(col("ukey") === probe)
        .select(col("event_id"), col("ukey")))
        .map(r => (r.getLong(0), r.getLong(1)))
      val complete = got.map(r => (r.getLong(0), r.getLong(1))).sorted
        .sameElements(want.sorted)
      // the kept set the scan used, recomputed over the manifest (zero
      // footer IO — the same path planInputPartitions takes)
      val kept = graft.ops.ManifestLookup.keptPaths(s, manifest, Seq(probe))
      val nf = manifestFileCount(manifest).head.getLong(0)
      val keptOk = kept.size <= 4
      val planDf = sqlRes
        .crossJoin(broadcast(manifestFileCount(manifest)))
        .withColumn("kept_le_4", lit(keptOk))
        .withColumn("result_complete", lit(complete))
        .orderBy(col("event_id"))
      materializeCollected(s, "q364_sql_manifest_pruning", planDf,
        got.toSeq.map(r => org.apache.spark.sql.Row(
          r.getLong(0), r.getLong(1), nf, keptOk, complete)))
    }),

    // RUNTIME file pruning / DPP on the DSv2 manifest table (r12,
    // VERDICT-r11 #1 — the "what's missing #1" completion): q364
    // covers the literal `WHERE ukey = v` form; the dominant warehouse
    // lookup is JOIN-shaped — `fact ⋈ dim WHERE dim.pred`, where the
    // ONLY key predicate lives on the DIM side, so plan-time pushdown
    // sees nothing to prune on. ManifestScan now implements
    // SupportsRuntimeFiltering(keyColumn): Catalyst's PartitionPruning
    // rule plants a DynamicPruningSubquery on the fact scan (reusing
    // the dim's broadcast), and at execution the scan receives the
    // dim's distinct keys as an IN filter and re-plans its kept set
    // through the same manifest range+bloom pass — file pruning from
    // a key set that only exists at runtime. The dim here is 2 keys
    // (event_id ∈ {3,5} → their ukeys), so the 16-file layout prunes
    // to ≤4 kept files AT ANY SF — the contract booleans don't decay
    // with scale. runtime_pruned pins that the runtime filter actually
    // arrived and pruned (kept < total); result_complete pins row
    // equality against the raw-parquet join. Oracle replays the
    // derivation + join over the events table.
    "q366_dpp_manifest_lookup" -> ((s, d) => {
      import graft.sources.ManifestDataSource
      val (gens, _, _) = bloomLayoutManifest(s, d)
      s.read.format("graft.sources.ManifestDataSource")
        .option("layoutDirs", gens.mkString(","))
        .option("keyColumn", "ukey")
        .option("manifestName", "bloommanifest")
        .load().createOrReplaceTempView("events_manifested_dpp")
      ukeyBase(s, d).filter(col("event_id").isin(3L, 5L))
        .select(col("ukey").as("d_ukey"))
        .createOrReplaceTempView("dpp_dim")
      val joined = s.sql("SELECT f.event_id, f.ukey " +
        "FROM events_manifested_dpp f JOIN dpp_dim d ON f.ukey = d.d_ukey")
      // ONE execution of the DSv2 join (r13, VERDICT-r12 #7 — the rig
      // previously ran it three times: contract collect, then the
      // materialize re-collect on top of the completeness replay): the
      // sorted collect below both yields the result rows and sets the
      // runtime-filter observables; the contract booleans are appended
      // to the COLLECTED rows, and materializeCollected records the
      // logical frame's plan without re-executing it.
      val o = ManifestDataSource.observed("bloommanifest")
      o.resetRuntime()
      val got = collectCapped("q366_got",
        joined.orderBy(col("event_id"), col("ukey")))
      val runtimePruned = o.runtimeFilters.nonEmpty &&
        o.runtimeKeptFiles.nonEmpty &&
        o.runtimeKeptFiles.size < o.totalFiles
      val want = collectCapped("q366_want", s.read.parquet(gens: _*)
        .join(ukeyBase(s, d).filter(col("event_id").isin(3L, 5L))
          .select(col("ukey").as("d_ukey")),
          col("ukey") === col("d_ukey"))
        .select(col("event_id"), col("ukey")))
        .map(r => (r.getLong(0), r.getLong(1)))
      val complete = got.map(r => (r.getLong(0), r.getLong(1))).sorted
        .sameElements(want.sorted)
      val planDf = joined
        .withColumn("runtime_pruned", lit(runtimePruned))
        .withColumn("result_complete", lit(complete))
        .orderBy(col("event_id"), col("ukey"))
      materializeCollected(s, "q366_dpp_manifest_lookup", planDf,
        got.toSeq.map(r => org.apache.spark.sql.Row(
          r.getLong(0), r.getLong(1), runtimePruned, complete)))
    }),

    // STRING-key manifested lookups (r13, VERDICT-r12 #1 — "top_next"):
    // the content-hash / doc-id pruning shape every dedup pipeline keys
    // on at warehouse scale, through the same DSv2 table. The layout:
    // documents keyed by skey — a 16-hex content fingerprint
    // (md5 of the doc_id string: deterministic AND DuckDB-replayable,
    // standing in for the sha-of-normalized-text key q35/q108 dedup
    // uses) — sorted by skey into 8 exact chunks with footer blooms on
    // the key. The manifest stores per-block BINARY zone bounds (raw
    // parquet stat bytes, unsigned-lex compared — sound under stat
    // truncation where a decoded-string round-trip is not) plus the
    // bloom bitsets. A plain SQL equality and an IN(3) each prune files
    // at plan time (contract booleans pin kept ≪ total, which holds at
    // ANY sf: the 8-file hash-sorted layout keeps one file per probe);
    // the rows are the oracle's theorem. Both pruned scans execute once
    // (the q366 collected-rows pattern).
    "q368_string_manifest_lookup" -> ((s, d) => {
      import graft.sources.ManifestDataSource
      val docSrc = s"$d/documents.parquet"
      val keyed = table(s, d, "documents")
        .select(col("doc_id"),
          substring(md5(col("doc_id").cast("string")), 1, 16).as("skey"))
      val gen = graft.ops.Staged.relationDir(s, "skeylayout", "v1",
          Seq(docSrc)) { tmp =>
        val n = keyed.count()
        val k = (n + 7) / 8
        keyed.repartition(1).sortWithinPartitions(col("skey"))
          .write.option("maxRecordsPerFile", k)
          .option("parquet.bloom.filter.enabled#skey", "true")
          .mode("overwrite").parquet(tmp)
      }.toString
      s.read.format("graft.sources.ManifestDataSource")
        .option("layoutDirs", gen)
        .option("keyColumn", "skey")
        .option("manifestName", "skeymanifest")
        .load().createOrReplaceTempView("docs_manifested")
      // probes: the 4 smallest doc_ids' keys — deterministic at any sf
      val ids = keyed.orderBy(col("doc_id")).limit(4)
        .select(col("skey")).collect().map(_.getString(0))
      val eqProbe = ids.head
      val inProbes = ids.tail.toSeq
      val o = ManifestDataSource.observed("skeymanifest")
      val eqRes = s.sql(
        s"SELECT doc_id, skey FROM docs_manifested WHERE skey = '$eqProbe'")
      val eqRows = collectCapped("q368_eq", eqRes)
      val eqKept = o.keptFiles.size
      val total = o.totalFiles
      val inRes = s.sql("SELECT doc_id, skey FROM docs_manifested " +
        s"WHERE skey IN (${inProbes.map(p => s"'$p'").mkString(", ")})")
      val inRows = collectCapped("q368_in", inRes)
      val inKept = o.keptFiles.size
      val want = collectCapped("q368_want", s.read.parquet(gen)
        .filter(col("skey").isin((eqProbe +: inProbes): _*))
        .select(col("doc_id"), col("skey")))
        .map(r => (r.getLong(0), r.getString(1)))
      val gotAll = (eqRows ++ inRows).map(r => (r.getLong(0), r.getString(1)))
      val complete = gotAll.sorted.sameElements(want.sorted)
      val eqOk = eqKept <= 2 && eqKept < total
      val inOk = inKept <= 4 && inKept < total
      val planDf = eqRes.unionAll(inRes)
        .withColumn("n_files", lit(total.toLong))
        .withColumn("eq_kept_le_2", lit(eqOk))
        .withColumn("in_kept_le_4", lit(inOk))
        .withColumn("result_complete", lit(complete))
        .orderBy(col("doc_id"))
      materializeCollected(s, "q368_string_manifest_lookup", planDf,
        gotAll.sortBy(_._1).toSeq.map { case (id, k) =>
          org.apache.spark.sql.Row(id, k, total.toLong, eqOk, inOk,
            complete)
        })
    }),

    // STRING-key runtime pruning (r13, VERDICT-r12 #1's DPP variant):
    // the q366 join shape — `fact ⋈ dim` with the ONLY key predicate on
    // the dim side — over the STRING-keyed layout: at execution the
    // scan receives the dim's distinct skeys as an IN of string
    // literals and re-prunes kept files through the binary-zone+bloom
    // manifest pass. Same one-execution rig; the oracle replays the
    // key derivation + join over the raw table.
    "q370_string_dpp_lookup" -> ((s, d) => {
      import graft.sources.ManifestDataSource
      val docSrc = s"$d/documents.parquet"
      val keyed = table(s, d, "documents")
        .select(col("doc_id"),
          substring(md5(col("doc_id").cast("string")), 1, 16).as("skey"))
      // family-shared staged layout (built by whichever of q368/q370
      // runs first; served from the stage after)
      val gen = graft.ops.Staged.relationDir(s, "skeylayout", "v1",
          Seq(docSrc)) { tmp =>
        val n = keyed.count()
        val k = (n + 7) / 8
        keyed.repartition(1).sortWithinPartitions(col("skey"))
          .write.option("maxRecordsPerFile", k)
          .option("parquet.bloom.filter.enabled#skey", "true")
          .mode("overwrite").parquet(tmp)
      }.toString
      s.read.format("graft.sources.ManifestDataSource")
        .option("layoutDirs", gen)
        .option("keyColumn", "skey")
        .option("manifestName", "skeymanifest")
        .load().createOrReplaceTempView("docs_manifested_dpp")
      // dim: the 5th and 6th smallest doc_ids — the selective predicate
      // lives ONLY on the dim side, so plan-time pushdown sees nothing
      val dimIds = keyed.orderBy(col("doc_id")).limit(6)
        .select(col("doc_id")).collect().map(_.getLong(0)).drop(4)
      keyed.filter(col("doc_id").isin(dimIds: _*))
        .select(col("skey").as("d_skey"))
        .createOrReplaceTempView("sdpp_dim")
      val joined = s.sql("SELECT f.doc_id, f.skey " +
        "FROM docs_manifested_dpp f JOIN sdpp_dim d ON f.skey = d.d_skey")
      val o = ManifestDataSource.observed("skeymanifest")
      o.resetRuntime()
      val got = collectCapped("q370_got",
        joined.orderBy(col("doc_id"), col("skey")))
      val runtimePruned = o.runtimeFilters.nonEmpty &&
        o.runtimeKeptFiles.nonEmpty &&
        o.runtimeKeptFiles.size < o.totalFiles
      val want = collectCapped("q370_want", s.read.parquet(gen)
        .join(keyed.filter(col("doc_id").isin(dimIds: _*))
          .select(col("skey").as("d_skey")),
          col("skey") === col("d_skey"))
        .select(col("doc_id"), col("skey")))
        .map(r => (r.getLong(0), r.getString(1)))
      val complete = got.map(r => (r.getLong(0), r.getString(1))).sorted
        .sameElements(want.sorted)
      val planDf = joined
        .withColumn("runtime_pruned", lit(runtimePruned))
        .withColumn("result_complete", lit(complete))
        .orderBy(col("doc_id"), col("skey"))
      materializeCollected(s, "q370_string_dpp_lookup", planDf,
        got.toSeq.map(r => org.apache.spark.sql.Row(
          r.getLong(0), r.getString(1), runtimePruned, complete)))
    }),

    // PAGE-level column-index skipping (r10 — the finest rung of the
    // data-skipping ladder: q343 arithmetic model → q346 row-group
    // footer stats → THIS, parquet's per-page column+offset indexes).
    // The Hilbert-clustered events land in ONE file / one row group
    // cut into exact k-row pages (`parquet.page.row.count.limit` with
    // per-row size checks — probed in SourcesSpec: boundaries are
    // exact and IDENTICAL across column chunks, so a 2-column box
    // model is well-defined), and the per-page (min, max) read back
    // from the REAL column index must equal the arithmetic
    // row_number-chunk model — the q346 contract one granularity
    // down. Why it matters at 100 TB: row-group stats prune at
    // ~128 MB granularity; the column index prunes the SAME predicate
    // at ~1 MB pages WITHOUT any extra scan pass (readers seek
    // straight to qualifying pages via the offset index) — this rig
    // pins that the finer boxes are exactly the model's, so q343's
    // measured skip ratios transfer to page granularity too. The
    // index read is the one distributed metadata job
    // (FooterManifest.probePages).
    "q361_page_index_skipping" -> ((s, d) => {
      graft.expr.GraftFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      val base = graft.Graft.normalizeTs(table(s, d, "events"))
        .select(col("event_id"),
          pmod(col("user_id"), lit(256L)).as("xq"),
          pmod(expr("unix_micros(ts) div 3600000000"), lit(256L)).as("yq"))
        .withColumn("hkey",
          call_function(graft.expr.GraftFunctions.HilbertName,
            col("xq"), col("yq"), lit(8)))
      // ONE global sort for the whole rig (r14, guide §1.2): the layout
      // write and the arithmetic model both need the (hkey, event_id)
      // order, and each previously ran its own single-task sort over a
      // fresh events scan (repartition(1)+sortWithinPartitions for the
      // write, a global row_number window for the model). Sort once,
      // checkpoint the single sorted partition, and both legs read the
      // materialized rows.
      val sorted = base.repartition(1)
        .sortWithinPartitions(col("hkey"), col("event_id"))
        .localCheckpoint(true)
      val n = sorted.count() // counts the cached blocks — no rescan
      val k = (n + 63) / 64
      val stage = Files.createTempDirectory("graft_pgskip_")
      try {
        sorted
          .write
          .option("parquet.page.row.count.limit", k)
          .option("parquet.page.size.row.check.min", "1")
          .option("parquet.page.size.row.check.max", "1")
          // the BYTE limit also cuts pages (default 1 MiB): past ~131k
          // rows/page of INT64 it would fire before the row limit and
          // break the arithmetic model at scales beyond the gate
          // (review-r10 finding) — raise it so the row limit is the
          // only binding cut
          .option("parquet.page.size", String.valueOf(1 << 30))
          // ADVICE-r10 (same guard one level up): past ~128 MB the
          // writer would cut a SECOND row group, pages restart per
          // block, and the global row_number-chunk model stops
          // matching — raise the block size so the single-row-group
          // premise holds beyond the gate scale too
          .option("parquet.block.size", String.valueOf(1L << 33))
          .mode("overwrite").parquet(s"$stage/out")
        val paths = Option(new java.io.File(s"$stage/out").listFiles())
          .getOrElse(Array()).filter(_.getName.endsWith(".parquet"))
          .map(_.getPath).toSeq.sorted
        val (pages, _) = graft.ops.FooterManifest.probePages(
          s, paths, Seq("xq", "yq"))
        // page boxes keyed on the row range (boundaries column-aligned)
        val boxes = pages.groupBy(p => (p.path, p.block, p.page)).map {
          case (_, ps) =>
            val px = ps.find(_.col == "xq").get
            val py = ps.find(_.col == "yq").get
            require(px.firstRow == py.firstRow,
              "column chunks cut pages at different rows")
            (px.lo, px.hi, py.lo, py.hi)
        }.toSeq
        // rank = position in the checkpointed single sorted partition:
        // monotonically_increasing_id on partition 0 is 0..n-1 in row
        // order, which IS row_number over (hkey, event_id) — the global
        // window re-sort is gone. The index_eq_model boolean (oracle-
        // pinned TRUE) and SourcesSpec both fail loudly if this rank
        // ever diverges from the written pages.
        val model = sorted
          .withColumn("rn", monotonically_increasing_id() + lit(1L))
          .withColumn("pg", expr(s"(rn - 1) div $k"))
          .groupBy(col("pg"))
          .agg(min(col("xq")).as("x0"), max(col("xq")).as("x1"),
            min(col("yq")).as("y0"), max(col("yq")).as("y1"))
          .localCheckpoint(true)
        val modelBoxes = model.select(col("x0"), col("x1"),
            col("y0"), col("y1")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSeq
        val eq = boxes.sorted == modelBoxes.sorted
        import s.implicits._
        val preds = Seq(
          ("x_range", 16L, 31L, 0L, 255L),
          ("y_range", 0L, 255L, 16L, 31L),
          ("xy_box", 16L, 31L, 16L, 31L))
          .toDF("pred", "px0", "px1", "py0", "py1")
        materialize(s, "q361_page_index_skipping", model
          .crossJoin(broadcast(preds))
          .groupBy(col("pred"))
          .agg(count(lit(1)).as("n_pages"),
            sum((col("x1") >= col("px0") && col("x0") <= col("px1") &&
              col("y1") >= col("py0") && col("y0") <= col("py1"))
              .cast("long")).as("touched"))
          .withColumn("skipped_permille",
            expr("((n_pages - touched) * 1000) div n_pages"))
          .withColumn("index_eq_model", lit(eq))
          .orderBy(col("pred")))
      } finally deleteRecursively(stage)
    }),

    // Schema evolution on read: corpus v1 (no `quality` column) and v2
    // (adds it) live in one dataset; mergeSchema=true unifies them,
    // v1 rows surface NULL quality. This is how a long-lived training
    // corpus actually evolves — old shards are never rewritten. Scale
    // note: mergeSchema reads every file's FOOTER at planning time; at
    // 100 TB pin the merged schema explicitly (or keep it in a
    // catalog) and pass it to `.schema(...)` instead.
    "q75_schema_evolution" -> ((s, d) => {
      val stage = Files.createTempDirectory("graft_evo_")
      try {
        val docs = table(s, d, "documents")
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$stage/out/v1")
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            (col("n_chars") > 500).as("quality"))
          .write.mode("overwrite").parquet(s"$stage/out/v2")
        val read = s.read.option("mergeSchema", "true")
          .parquet(s"$stage/out/v1", s"$stage/out/v2")
        materialize(s, "q75_schema_evolution", read
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            count(col("quality")).as("n_with_quality"),
            sum(when(col("quality"), 1L).otherwise(0L)).as("n_good"))
          .orderBy(col("lang")))
      } finally deleteRecursively(stage)
    }),

    // ORC round-trip: the second columnar format Spark ships natively.
    // Same splittable/pushdown properties as parquet (stripe-level
    // stats); a lossy round-trip cannot hash-match the parquet oracle.
    "q72_orc_source" -> ((s, d) => {
      val stage = Files.createTempDirectory("graft_orc_")
      try {
        table(s, d, "documents")
          .write.mode("overwrite").orc(s"$stage/out")
        materialize(s, "q72_orc_source", s.read.orc(s"$stage/out")
          .filter(col("n_chars") >= 200)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
          .orderBy(col("lang")))
      } finally deleteRecursively(stage)
    }),

    // binaryFile source: the multimodal ingest path — raw assets land
    // as opaque files and Spark reads (path, modificationTime, length,
    // content) with glob filtering. Staging stays distributed: a
    // deterministic 1-in-25 document subset is written one .txt file
    // per doc via partitionBy (the text sink appends one '\n'); the
    // read-back re-derives doc_id from the directory name and every
    // byte must survive (md5 of content vs md5 of text+'\n', length =
    // byte length + 1 — both pinned per-language by the oracle). Scale
    // notes: content caps at spark.sql.sources.binaryFile.maxLength
    // (2 GB/file) and millions of tiny files bottleneck on driver-side
    // listing — at 100 TB land assets in parquet binary columns
    // (q51/q91's shape) and keep binaryFile for the raw landing zone.
    "q124_binaryfile_source" -> ((s, d) => {
      val stage = Files.createTempDirectory("graft_binf_")
      try {
        val docs = table(s, d, "documents")
          .filter(pmod(col("doc_id"), lit(25)) === 0)
        // Spread the one-file-per-doc staging write (r14, guide §2.6):
        // the subset scan is one input split, so the dynamic-partition
        // writer opened all ~N/25 output files from ONE task serially —
        // measured 2.4-2.5 s of the rig's ~2.8 s at sf0.1. Hash-
        // repartition by the partition column across the executor cores
        // (EXPLICIT count: AQE would coalesce a keyless-width shuffle of
        // this few rows back to one partition, which is exactly the
        // serial writer again) — same files, same bytes, same result,
        // parallel FS ops. defaultParallelism tracks the cluster, not a
        // local constant.
        docs.select(col("doc_id"), col("text"))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .write.mode("overwrite").partitionBy("doc_id")
          .text(s"$stage/out")
        val read = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.txt")
          .option("recursiveFileLookup", "true")
          .load(s"$stage/out")
          .select(regexp_extract(col("path"), "doc_id=([0-9]+)", 1)
            .cast("long").as("doc_id"),
            col("length"), col("content"))
        materialize(s, "q124_binaryfile_source", read
          .join(docs.select(col("doc_id"), col("lang"), col("text")),
            Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_files"),
            sum(col("length")).as("bytes"),
            min(md5(col("content")) ===
              md5(concat(col("text"), lit("\n")))).as("bytes_match"))
          .orderBy(col("lang")))
      } finally deleteRecursively(stage)
    }),

    // Small-files compaction — the table-maintenance pass every
    // long-lived corpus needs: a fragmented write (64 splinter files)
    // is re-laid-out into size-targeted files (total bytes / target
    // size, the math a real compactor runs from the file listing).
    // Content conservation is oracle-exact; the layout contract
    // (file count dropped to exactly the computed target) rides as
    // pinned booleans. At 100 TB this is the same job per partition
    // directory, driven by the catalog's file statistics.
    "q143_compaction" -> ((s, d) => {
      val stage = Files.createTempDirectory("graft_compact_")
      try {
        table(s, d, "documents").repartition(64)
          .write.mode("overwrite").parquet(s"$stage/frag")
        // Using.resource: Files.walk holds directory handles until closed
        val fragBytes = scala.util.Using.resource(
          java.nio.file.Files.walk(Paths.get(s"$stage/frag")))(
          _.filter(p => p.toString.endsWith(".parquet"))
            .mapToLong(p => java.nio.file.Files.size(p)).sum())
        val fragFiles = scala.util.Using.resource(
          java.nio.file.Files.walk(Paths.get(s"$stage/frag")))(
          _.filter(p => p.toString.endsWith(".parquet")).count())
        val targetBytes = 256L * 1024L // ~256KB target at harness scale
        val nTarget = math.max(1L, (fragBytes + targetBytes - 1) / targetBytes)
        s.read.parquet(s"$stage/frag").repartition(nTarget.toInt)
          .write.mode("overwrite").parquet(s"$stage/compact")
        val compactFiles = scala.util.Using.resource(
          java.nio.file.Files.walk(Paths.get(s"$stage/compact")))(
          _.filter(p => p.toString.endsWith(".parquet")).count())
        materialize(s, "q143_compaction", s.read.parquet(s"$stage/compact")
          .agg(count(lit(1)).as("rows"), sum(col("doc_id")).as("sum_doc_id"))
          .select(col("rows"), col("sum_doc_id"),
            lit(compactFiles == nTarget).as("hit_target"),
            lit(compactFiles < fragFiles).as("files_reduced")))
      } finally deleteRecursively(stage)
    }),

    // VARIANT parquet round-trip (Spark 4 storage surface): the
    // semi-structured payload is parsed ONCE at ingest, STORED as the
    // binary variant type, and typed extraction runs against the
    // re-read column — the "parse at the edge, never re-parse
    // downstream" corpus layout (q123 parses per query; this pins the
    // parse-once-persist form). A lossy variant encode/decode cannot
    // hash-match the oracle, which extracts from the original JSON
    // strings.
    // Deterministic 10% subset (q63's argument): the correctness
    // content — variant encode → parquet VARIANT logical type → read →
    // typed variant_get — is identical at any row count; round-tripping
    // the full fact table only scales the staged write (the query was
    // the engine's slowest at sf0.1, 22.7 s, dominated by 3 timed
    // passes each re-writing 2.4M variant rows).
    "q141_variant_roundtrip" -> ((s, d) => {
      val stage = Files.createTempDirectory("graft_var_")
      try {
        table(s, d, "events")
          .filter(pmod(col("event_id"), lit(10)) === 0)
          .select(col("event_id"), col("event_type"),
            parse_json(col("props")).as("props_v"))
          .write.mode("overwrite").parquet(s"$stage/out")
        val read = s.read.parquet(s"$stage/out")
          .select(col("event_type"),
            expr("variant_get(props_v, '$.k', 'bigint')").as("k"))
        materialize(s, "q141_variant_roundtrip", read
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
            count_distinct(col("k")).as("n_distinct_k"))
          .orderBy(col("event_type")))
      } finally deleteRecursively(stage)
    }),

    // Bucketed co-located join (promotes the ScaleSpec plan-shape proof
    // to a driver-checked result): both fact tables written bucketBy
    // the join key into catalog-backed external tables, re-read and
    // joined WITHOUT a join-side exchange (both sides arrive
    // pre-partitioned — the write-once/join-many layout for recurring
    // fact×fact joins at 100 TB; ScaleSpec pins the zero-exchange plan,
    // this entry pins the values). 1-in-5 deterministic subset keeps
    // the staging write proportionate.
    "q140_bucketed_join" -> ((s, d) => {
      val stage = Files.createTempDirectory("graft_buckq_")
      val tag = java.util.UUID.randomUUID.toString.replace("-", "").take(8)
      val (ot, lt) = (s"orders_q140_$tag", s"lineitem_q140_$tag")
      try {
        // Overlap the two independent staging writes (r14, guide §2.6):
        // the writes share no state (distinct tables, distinct paths)
        // and each underfills the executor, so submitting them from two
        // driver threads lets the second job's tasks back-fill the
        // first's tail instead of running strictly after it.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val wo = Future {
          table(s, d, "orders")
            .filter(pmod(col("o_orderkey"), lit(5)) === 0)
            .write.mode("overwrite")
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .option("path", s"$stage/o").saveAsTable(ot)
        }
        val wl = Future {
          table(s, d, "lineitem")
            .filter(pmod(col("l_orderkey"), lit(5)) === 0)
            .write.mode("overwrite")
            .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .option("path", s"$stage/l").saveAsTable(lt)
        }
        // Both writes finish before either outcome is read, so a failed
        // orders write cannot start the cleanup below while the lineitem
        // write is still running.
        Seq(wo, wl).foreach(Await.ready(_, Duration.Inf))
        wo.value.get.get
        wl.value.get.get
        materialize(s, "q140_bucketed_join", s.table(lt)
          .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_lines"),
            sum(round(col("l_extendedprice") * 100, 0).cast("long"))
              .as("cents"))
          .orderBy(col("o_orderpriority")))
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $ot")
        s.sql(s"DROP TABLE IF EXISTS $lt")
        deleteRecursively(stage)
      }
    }),

    // CSV source: header + quoted fields with embedded newline, comma
    // and doubled quotes (multiLine read). The injected adversarial row
    // must parse to exactly one 'xx' document with its fields intact.
    // Deterministic 10% subset: multiLine parsing is single-task by
    // nature (quoted newlines break line framing — the trade-off this
    // entry documents), so round-tripping the full corpus only scales
    // the serial segment without adding correctness content.
    "q63_csv_source" -> ((s, d) => {
      val stage = Files.createTempDirectory("graft_csv_")
      try {
        table(s, d, "documents")
          .filter(pmod(col("doc_id"), lit(10)) === 0)
          .coalesce(1).write.mode("overwrite")
          .option("header", "true").option("quoteAll", "true")
          .option("quote", "\"").option("escape", "\"")
          .csv(s"$stage/data")
        Files.write(Paths.get(s"$stage/data/extra.csv"),
          ("doc_id,text,lang,source,n_chars\n" +
            "\"9999001\",\"line1\nline2, with \"\"quotes\"\"\",\"xx\",\"srcX\",\"42\"\n")
            .getBytes("UTF-8"))
        val read = s.read
          .schema(docSchema)
          .option("header", "true").option("multiLine", "true")
          .option("quote", "\"").option("escape", "\"")
          .csv(s"$stage/data")
        materialize(s, "q63_csv_source", read
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            sum(length(col("text"))).cast("long").as("text_len"))
          .orderBy(col("lang")))
      } finally deleteRecursively(stage)
    }),

    // Gzip-compressed JSONL source (r7): the wire format half the
    // world's corpus dumps actually arrive in. A .gz text file is
    // UNSPLITTABLE — the read plans as ONE task no matter the file
    // size (asserted below: partitions == file count, not size-based
    // splits), so the 100 TB discipline is decompress-then-spread:
    // spreadIfNarrow immediately after the scan, BEFORE any per-row
    // work. The oracle pins the round-tripped values against the
    // source table.
    "q328_gzip_source" -> ((s, d) => {
      val stage = Files.createTempDirectory("graft_gz_")
      try {
        table(s, d, "documents")
          .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))).as("value"))
          .coalesce(1).write.mode("overwrite")
          .option("compression", "gzip").text(s"$stage/data")
        val read = s.read.schema(docSchema).json(s"$stage/data")
        // unsplittable: one .gz file ⇒ one input partition
        require(read.rdd.getNumPartitions == 1,
          "gzip text must plan as one split per file")
        val spread = graft.Graft.spreadIfNarrow(read, col("doc_id"))
        materialize(s, "q328_gzip_source", spread
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            sum(length(col("text"))).cast("long").as("text_len"))
          .orderBy(col("lang")))
      } finally deleteRecursively(stage)
    }),

    // XML source (built into Spark 4 — no external package): documents
    // round-tripped through rowTag-framed XML plus one injected
    // adversarial record (entity escapes, angle brackets, an embedded
    // newline). Unlike multiLine CSV (q63's trade-off), XML IS
    // splittable at scale: records are delimited by the row tag, so
    // XmlInputFormat can split mid-file and scan shards in parallel.
    // ignoreSurroundingSpaces=false preserves byte-parity with the
    // parquet text (the default TRIMS element text). Deterministic 10%
    // subset keeps the staging write proportionate; oracle = parquet
    // aggregation ∪ the injected row (a lossy or misframed read — or
    // an unescaped entity — cannot hash-match).
    "q182_xml_source" -> ((s, d) => {
      val stage = Files.createTempDirectory("graft_xml_")
      try {
        table(s, d, "documents")
          .filter(pmod(col("doc_id"), lit(10)) === 3)
          .coalesce(1).write.mode("overwrite")
          .option("rowTag", "doc").option("rootTag", "docs")
          .xml(s"$stage/data")
        Files.write(Paths.get(s"$stage/data/extra.xml"),
          ("<docs><doc><doc_id>9999002</doc_id>" +
            "<text>a &amp; b &lt;tag&gt; \"q\"\nline2</text>" +
            "<lang>xx</lang><source>srcX</source>" +
            "<n_chars>42</n_chars></doc></docs>").getBytes("UTF-8"))
        val read = s.read.schema(docSchema)
          .option("rowTag", "doc")
          .option("ignoreSurroundingSpaces", "false")
          .xml(s"$stage/data")
        materialize(s, "q182_xml_source", read
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            sum(length(col("text"))).cast("long").as("text_len"))
          .orderBy(col("lang")))
      } finally deleteRecursively(stage)
    }),

    // Dynamic partition overwrite — the surgical re-materialization a
    // partitioned corpus needs (reprocess ONE language/day/source
    // without touching the rest): v1 lands fully partitioned by lang;
    // a corrected zh slice (" v2" appended) overwrites with
    // partitionOverwriteMode=dynamic, which truncates ONLY partitions
    // present in the incoming frame. The re-read must show zh at v2
    // (+3 chars/doc) and every other language byte-identical v1 — a
    // static overwrite (the default) would have deleted them, so the
    // oracle distinguishes the modes structurally. At scale this is
    // the idempotent backfill primitive: reruns replace the same
    // partitions, and untouched partitions never rewrite.
    "q195_dynamic_overwrite" -> ((s, d) => {
      val stage = Files.createTempDirectory("graft_dpo_")
      try {
        val docs0 = table(s, d, "documents")
        docs0.write.partitionBy("lang").mode("overwrite")
          .parquet(s"$stage/t")
        docs0.filter(col("lang") === "zh")
          .withColumn("text", concat(col("text"), lit(" v2")))
          .write.partitionBy("lang").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(s"$stage/t")
        materialize(s, "q195_dynamic_overwrite", s.read.parquet(s"$stage/t")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).cast("long").as("text_len"))
          .orderBy(col("lang")))
      } finally deleteRecursively(stage)
    }),

    // State Data Source reader (Spark 4 `format("statestore")`): the
    // operational window into a live streaming checkpoint — debugging
    // skewed keys, auditing state size, seeding a migration — read as
    // a plain batch DataFrame. The rig runs a streaming two-aggregate
    // rollup (count + integer-cents sum per event_type) to completion
    // under AvailableNow, then reads the aggregation operator's state
    // OFF THE CHECKPOINT (not the sink!) and compares it to the batch
    // recompute: a state row that drifted from its emitted result —
    // the bug class this surface exists to catch — flips the row red.
    // State is O(|keys|); the reader scans one store shard per
    // partition, so the audit parallelizes like any other scan.
    "q178_state_reader" -> ((s0, d) =>
      StreamRig.availableNow(s0, "complete") { (s, stage) =>
        // a session-default checkpoint root keeps the query's checkpoint
        // (at <root>/<query name>) after the query ends, for the reader
        s.conf.set("spark.sql.streaming.checkpointLocation",
          stage.resolve("ckpt").toString)
        val in = stage.resolve("in")
        s.readStream.schema(StreamRig.stageEvents(s, d, in))
          .parquet(in.toString)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      } { sink =>
        val s = sink.sparkSession
        val ckpt = scala.util.Using.resource(Files.list(Paths.get(
          s.conf.get("spark.sql.streaming.checkpointLocation"))))(
          _.findFirst().get())
        materialize(s, "q178_state_reader",
          s.read.format("statestore").option("path", ckpt.toString).load()
            .select(col("key.event_type").as("event_type"),
              col("value.count").as("n"), col("value.sum").as("cents"))
            .orderBy(col("event_type")))
      }),

    // File-source option surface: recursiveFileLookup walks an
    // arbitrary directory tree (partition inference OFF — the escape
    // hatch for lakes that aren't hive-laid-out) and pathGlobFilter
    // keeps only *.parquet leaves, skipping a planted decoy sidecar.
    // A misapplied glob or a non-recursive walk loses rows → the
    // content aggregate can't hash-match.
    "q248_file_options" -> ((s, d) => {
      val stage = Files.createTempDirectory("graft_fopt_")
      try {
        val docs = table(s, d, "documents")
        docs.filter(col("lang") === "en")
          .write.mode("overwrite").parquet(s"$stage/a")
        docs.filter(col("lang") === "de")
          .write.mode("overwrite").parquet(s"$stage/b/nested")
        Files.write(Paths.get(s"$stage/b/nested/decoy.txt"),
          "not parquet".getBytes("UTF-8"))
        val read = s.read
          .option("recursiveFileLookup", "true")
          .option("pathGlobFilter", "*.parquet")
          .parquet(stage.toString)
        materialize(s, "q248_file_options", read
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
          .orderBy(col("lang")))
      } finally deleteRecursively(stage)
    }),

    // Managed-table lifecycle (the catalog path SQL-only users live
    // on): saveAsTable into the warehouse, SQL INSERT INTO appends,
    // read back through the catalog name. Content-checked against the
    // source recompute — a lost append or stale snapshot can't match.
    "q249_managed_table" -> ((s, d) => {
      val tab = "g_mtab_q249"
      s.sql(s"DROP TABLE IF EXISTS $tab")
      try {
        table(s, d, "events")
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .write.mode("overwrite").saveAsTable(tab)
        s.sql(s"""INSERT INTO $tab
                  SELECT event_id, user_id,
                    CAST(round(value * 100) AS BIGINT) AS cents
                  FROM parquet.`$d/events.parquet`
                  WHERE event_type = 'click'""")
        materialize(s, "q249_managed_table",
          s.table(tab).groupBy(col("user_id"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
            .orderBy(col("user_id")))
      } finally { s.sql(s"DROP TABLE IF EXISTS $tab"); () }
    }),

    // Corrupt-file resilience: a 100 TB lake WILL contain truncated/
    // garbage objects; `ignoreCorruptFiles` skips them at scan time
    // instead of failing the job. A planted garbage *.parquet sits
    // beside the good files — the read must survive AND return exactly
    // the good rows (SourcesSpec pins the complement: without the
    // option the same read throws).
    "q255_corrupt_skip" -> ((s, d) => {
      val stage = Files.createTempDirectory("graft_corrupt_")
      try {
        table(s, d, "documents").filter(col("lang").isin("en", "fr"))
          .write.mode("overwrite").parquet(s"$stage/out")
        Files.write(Paths.get(s"$stage/out/zz_garbage.parquet"),
          Array.fill[Byte](256)(0x5a))
        val read = s.read.option("ignoreCorruptFiles", "true")
          .parquet(s"$stage/out")
        materialize(s, "q255_corrupt_skip", read
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
          .orderBy(col("lang")))
      } finally deleteRecursively(stage)
    }))


  val oracles: Map[String, String] = Map(
    "q328_gzip_source" ->
      """SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(SUM(length(text)) AS BIGINT) AS text_len
         FROM documents GROUP BY lang ORDER BY lang""",
    "q248_file_options" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT)
           AS chars
         FROM documents WHERE lang IN ('en', 'de')
         GROUP BY lang ORDER BY lang""",
    "q255_corrupt_skip" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT)
           AS chars
         FROM documents WHERE lang IN ('en', 'fr')
         GROUP BY lang ORDER BY lang""",
    "q249_managed_table" ->
      """SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
         FROM events WHERE event_type IN ('purchase', 'click')
         GROUP BY user_id ORDER BY user_id""",
    // v1 rows (even ids) contribute NULL quality; v2 rows carry the flag
    "q75_schema_evolution" ->
      """SELECT lang, COUNT(*) AS n_docs,
           CAST(COUNT(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT)
             AS n_with_quality,
           CAST(SUM(CASE WHEN doc_id % 2 = 1 AND n_chars > 500
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_good
         FROM documents GROUP BY lang ORDER BY lang""",
    // the ORC round-trip must preserve values exactly
    "q72_orc_source" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
         FROM documents WHERE n_chars >= 200
         GROUP BY lang ORDER BY lang""",
    // the partitioned round-trip must preserve values exactly
    "q64_partitioned_sink" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
         FROM documents WHERE lang IN ('en', 'de')
         GROUP BY lang ORDER BY lang""",
    // content conservation is DuckDB-checkable; disjointness is a
    // file-layout contract (TRUE by construction of a correct range
    // repartition — a misrouted row flips it red)
    "q80_sorted_layout" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS rows,
         CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
         TRUE AS files_disjoint
         FROM documents""",
    // the semi-join's ROWS are the contract: the bloom-pruned scan
    // must return exactly the raw-table IN-set rows
    "q358_bloom_semijoin_scan" ->
      """WITH base AS (
           SELECT event_id,
             (event_id * 2654435761 % 1000000007) * 1000 + 7 AS ukey
           FROM events),
         pv AS (SELECT ukey FROM base WHERE event_id BETWEEN 1 AND 8),
         nb AS (SELECT COUNT(*) AS n FROM base WHERE event_id % 10 <> 7),
         nd AS (SELECT COUNT(*) AS n FROM base WHERE event_id % 10 = 7)
         SELECT event_id, ukey,
           CAST((SELECT (n + ((n + 7) // 8) - 1) // ((n + 7) // 8) FROM nb)
             + (SELECT (n + ((n + 7) // 8) - 1) // ((n + 7) // 8) FROM nd)
             AS BIGINT) AS n_files,
           TRUE AS kept_le_12, TRUE AS result_complete
         FROM base WHERE ukey IN (SELECT ukey FROM pv)
         ORDER BY event_id""",
    // same contract as q356 (the lookup's rows ARE the theorem), with
    // the dual-generation file-count arithmetic
    "q362_bloom_manifest_relation" ->
      """WITH base AS (
           SELECT event_id,
             (event_id * 2654435761 % 1000000007) * 1000 + 7 AS ukey
           FROM events),
         pv AS (SELECT ukey AS v FROM base WHERE event_id = 1),
         nb AS (SELECT COUNT(*) AS n FROM base WHERE event_id % 10 <> 7),
         nd AS (SELECT COUNT(*) AS n FROM base WHERE event_id % 10 = 7)
         SELECT event_id, ukey,
           CAST((SELECT (n + ((n + 7) // 8) - 1) // ((n + 7) // 8) FROM nb)
             + (SELECT (n + ((n + 7) // 8) - 1) // ((n + 7) // 8) FROM nd)
             AS BIGINT) AS n_files,
           TRUE AS kept_le_4, TRUE AS result_complete
         FROM base WHERE ukey = (SELECT v FROM pv)
         ORDER BY event_id""",
    // the SQL-gateway form of the q356 contract: the DSv2-scanned rows
    // must equal the raw-table lookup (pruning is plan-level, pinned
    // in SourcesSpec; the rows ARE the correctness theorem)
    "q364_sql_manifest_pruning" ->
      """WITH base AS (
           SELECT event_id,
             (event_id * 2654435761 % 1000000007) * 1000 + 7 AS ukey
           FROM events),
         pv AS (SELECT ukey AS v FROM base WHERE event_id = 2),
         nb AS (SELECT COUNT(*) AS n FROM base WHERE event_id % 10 <> 7),
         nd AS (SELECT COUNT(*) AS n FROM base WHERE event_id % 10 = 7)
         SELECT event_id, ukey,
           CAST((SELECT (n + ((n + 7) // 8) - 1) // ((n + 7) // 8) FROM nb)
             + (SELECT (n + ((n + 7) // 8) - 1) // ((n + 7) // 8) FROM nd)
             AS BIGINT) AS n_files,
           TRUE AS kept_le_4, TRUE AS result_complete
         FROM base WHERE ukey = (SELECT v FROM pv)
         ORDER BY event_id""",

    // the DPP join replayed over the raw table; the runtime pruning
    // itself is pinned by the in-query contract booleans + SourcesSpec
    "q366_dpp_manifest_lookup" ->
      """WITH base AS (
           SELECT event_id,
             (event_id * 2654435761 % 1000000007) * 1000 + 7 AS ukey
           FROM events),
         dim AS (SELECT ukey AS d_ukey FROM base WHERE event_id IN (3, 5))
         SELECT f.event_id, f.ukey,
           TRUE AS runtime_pruned, TRUE AS result_complete
         FROM base f JOIN dim d ON f.ukey = d.d_ukey
         ORDER BY f.event_id, f.ukey""",

    // the string-key lookup replayed over the raw table: the same
    // 16-hex fingerprint derivation, the eq probe = smallest doc_id's
    // key, the IN probes = the next three; the pruned DSv2 rows must
    // equal this set exactly (file pruning is plan-level, pinned by
    // the contract booleans + SourcesSpec)
    "q368_string_manifest_lookup" ->
      """WITH keyed AS (
           SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS skey
           FROM documents),
         ids AS (SELECT doc_id FROM keyed ORDER BY doc_id LIMIT 4),
         probes AS (
           SELECT skey FROM keyed
           WHERE doc_id IN (SELECT doc_id FROM ids)),
         n AS (SELECT COUNT(*) AS c FROM keyed)
         SELECT k.doc_id, k.skey,
           CAST((SELECT (c + ((c + 7) // 8) - 1) // ((c + 7) // 8)
             FROM n) AS BIGINT) AS n_files,
           TRUE AS eq_kept_le_2, TRUE AS in_kept_le_4,
           TRUE AS result_complete
         FROM keyed k WHERE k.skey IN (SELECT skey FROM probes)
         ORDER BY k.doc_id""",

    // the string-key DPP join replayed over the raw table; runtime
    // pruning is pinned by the in-query contract booleans + SourcesSpec
    "q370_string_dpp_lookup" ->
      """WITH keyed AS (
           SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS skey
           FROM documents),
         ids AS (
           SELECT doc_id FROM keyed ORDER BY doc_id LIMIT 2 OFFSET 4),
         dim AS (
           SELECT skey AS d_skey FROM keyed
           WHERE doc_id IN (SELECT doc_id FROM ids))
         SELECT k.doc_id, k.skey,
           TRUE AS runtime_pruned, TRUE AS result_complete
         FROM keyed k JOIN dim d ON k.skey = d.d_skey
         ORDER BY k.doc_id, k.skey""",

    // q346's contract one granularity down: the page-chunk model
    // replays exactly (SourcesSpec pins model == real column index)
    "q361_page_index_skipping" ->
      s"""WITH RECURSIVE base AS (
           SELECT event_id, user_id % 256 AS xq,
             (epoch_us(ts) // 3600000000) % 256 AS yq
           FROM events),
         psrc AS (
           SELECT DISTINCT xq * 256 + yq AS pid, xq, yq FROM base),
         ${graft.expr.HilbertKey.recursiveSql("hc", "psrc", "pid",
             "xq", "yq", 8)},
         hil AS (
           SELECT id // 256 AS hxq, id % 256 AS hyq, d AS hkey
           FROM hc WHERE s = 0),
         keyed AS (
           SELECT b.event_id, b.xq, b.yq, h.hkey
           FROM base b JOIN hil h ON b.xq = h.hxq AND b.yq = h.hyq),
         nk AS (SELECT (COUNT(*) + 63) // 64 AS k FROM base),
         chunked AS (
           SELECT xq, yq,
             (ROW_NUMBER() OVER (ORDER BY hkey, event_id) - 1)
               // (SELECT k FROM nk) AS pg
           FROM keyed),
         model AS (
           SELECT pg, MIN(xq) AS x0, MAX(xq) AS x1,
             MIN(yq) AS y0, MAX(yq) AS y1
           FROM chunked GROUP BY 1),
         preds AS (
           SELECT * FROM (VALUES
             ('x_range', 16, 31, 0, 255),
             ('y_range', 0, 255, 16, 31),
             ('xy_box', 16, 31, 16, 31))
             AS t(pred, px0, px1, py0, py1)),
         agg AS (
           SELECT pred, COUNT(*) AS n_pages,
             CAST(SUM(CASE WHEN x1 >= px0 AND x0 <= px1
               AND y1 >= py0 AND y0 <= py1 THEN 1 ELSE 0 END) AS BIGINT)
               AS touched
           FROM model CROSS JOIN preds GROUP BY 1)
         SELECT pred, n_pages, touched,
           ((n_pages - touched) * 1000) // n_pages AS skipped_permille,
           TRUE AS index_eq_model
         FROM agg ORDER BY pred""",
    // the manifest-pruned range scan must return exactly the raw
    // table's band; the file-count arithmetic replays the dual-
    // generation layout (8 + 8 exact chunks)
    "q360_manifest_relation" ->
      """WITH m AS (SELECT MAX(event_id) AS mx FROM events),
         nb AS (SELECT COUNT(*) AS n FROM events WHERE event_id % 10 <> 7),
         nd AS (SELECT COUNT(*) AS n FROM events WHERE event_id % 10 = 7)
         SELECT e.event_id,
           CAST((SELECT (n + ((n + 7) // 8) - 1) // ((n + 7) // 8) FROM nb)
             + (SELECT (n + ((n + 7) // 8) - 1) // ((n + 7) // 8) FROM nd)
             AS BIGINT) AS n_files,
           TRUE AS kept_le_4, TRUE AS result_complete
         FROM events e, m
         WHERE e.event_id BETWEEN m.mx // 4
           AND m.mx // 4 + LEAST(500, m.mx // 50)
         ORDER BY e.event_id""",
    // the lookup's ROWS are the contract: the bloom-pruned scan must
    // return exactly the raw-table filter's rows or the hash mismatches
    "q356_bloom_guided_scan" ->
      """WITH base AS (
           SELECT event_id,
             (event_id * 2654435761 % 1000000007) * 1000 + 7 AS ukey
           FROM events),
         pv AS (SELECT ukey AS v FROM base WHERE event_id = 1),
         nb AS (SELECT COUNT(*) AS n FROM base WHERE event_id % 10 <> 7),
         nd AS (SELECT COUNT(*) AS n FROM base WHERE event_id % 10 = 7)
         SELECT event_id, ukey,
           CAST((SELECT (n + ((n + 7) // 8) - 1) // ((n + 7) // 8) FROM nb)
             + (SELECT (n + ((n + 7) // 8) - 1) // ((n + 7) // 8) FROM nd)
             AS BIGINT) AS n_files,
           TRUE AS kept_le_4, TRUE AS result_complete
         FROM base WHERE ukey = (SELECT v FROM pv)
         ORDER BY event_id""",
    // minmax_touched replayed exactly via the chunk model; the bloom
    // side (non-replayable bytes) is pinned by contract booleans
    "q354_bloom_skipping" ->
      """WITH base AS (
           SELECT event_id,
             (event_id * 2654435761 % 1000000007) * 1000 + 7 AS ukey,
             epoch_us(ts) // 3600000000 AS yq
           FROM events),
         nk AS (SELECT ((COUNT(*) + 15) // 16) AS k FROM base),
         pv AS (SELECT ukey AS v FROM base WHERE event_id = 1),
         ch AS (
           SELECT ukey,
             (ROW_NUMBER() OVER (ORDER BY yq, event_id) - 1)
               // (SELECT k FROM nk) AS chunk
           FROM base),
         m AS (
           SELECT chunk, MIN(ukey) AS lo, MAX(ukey) AS hi
           FROM ch GROUP BY 1),
         c AS (
           SELECT
             (SELECT COUNT(*) FROM m) AS n_files,
             (SELECT COUNT(*) FROM m
              WHERE lo <= (SELECT v FROM pv) AND (SELECT v FROM pv) <= hi)
               AS mt_present,
             (SELECT COUNT(*) FROM m
              WHERE lo <= (SELECT v + 1 FROM pv)
                AND (SELECT v + 1 FROM pv) <= hi) AS mt_absent)
         SELECT 'absent' AS probe, CAST(n_files AS BIGINT) AS n_files,
           CAST(mt_absent AS BIGINT) AS minmax_touched,
           TRUE AS no_false_negatives, TRUE AS effective_le_minmax,
           TRUE AS effective_prunes
         FROM c
         UNION ALL
         SELECT 'present', CAST(n_files AS BIGINT),
           CAST(mt_present AS BIGINT), TRUE, TRUE, TRUE
         FROM c
         ORDER BY probe""",
    // full model replay (Hilbert recursive CTE over the distinct pair
    // grid, row_number chunking, zone-map intersections); the
    // footer-equals-model boolean pins the physical bytes to it
    "q346_footer_zonemap" ->
      s"""WITH RECURSIVE base AS (
           SELECT event_id, user_id % 256 AS xq,
             (epoch_us(ts) // 3600000000) % 256 AS yq
           FROM events),
         psrc AS (
           SELECT DISTINCT xq * 256 + yq AS pid, xq, yq FROM base),
         ${graft.expr.HilbertKey.recursiveSql("hc", "psrc", "pid",
             "xq", "yq", 8)},
         hil AS (
           SELECT id // 256 AS hxq, id % 256 AS hyq, d AS hkey
           FROM hc WHERE s = 0),
         keyed AS (
           SELECT b.event_id, b.xq, b.yq, h.hkey
           FROM base b JOIN hil h ON b.xq = h.hxq AND b.yq = h.hyq),
         nk AS (SELECT (COUNT(*) + 15) // 16 AS k FROM base),
         chunked AS (
           SELECT xq, yq,
             (ROW_NUMBER() OVER (ORDER BY hkey, event_id) - 1)
               // (SELECT k FROM nk) AS chunk
           FROM keyed),
         model AS (
           SELECT chunk, MIN(xq) AS x0, MAX(xq) AS x1,
             MIN(yq) AS y0, MAX(yq) AS y1
           FROM chunked GROUP BY 1),
         preds AS (
           SELECT * FROM (VALUES
             ('x_range', 16, 31, 0, 255),
             ('y_range', 0, 255, 16, 31),
             ('xy_box', 16, 31, 16, 31))
             AS t(pred, px0, px1, py0, py1)),
         agg AS (
           SELECT pred, COUNT(*) AS n_chunks,
             CAST(SUM(CASE WHEN x1 >= px0 AND x0 <= px1
               AND y1 >= py0 AND y0 <= py1 THEN 1 ELSE 0 END) AS BIGINT)
               AS touched
           FROM model CROSS JOIN preds GROUP BY 1)
         SELECT pred, n_chunks, touched,
           ((n_chunks - touched) * 1000) // n_chunks AS skipped_permille,
           TRUE AS footer_eq_model
         FROM agg ORDER BY pred""",
    // conservation is exact; the layout contract booleans pin TRUE
    "q143_compaction" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS rows,
         CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
         TRUE AS hit_target, TRUE AS files_reduced
         FROM documents""",
    // extraction from the stored variant must equal extraction from
    // the original JSON strings
    "q141_variant_roundtrip" ->
      """SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
           AS BIGINT) AS sum_k,
         CAST(COUNT(DISTINCT CAST(json_extract_string(props, '$.k')
           AS BIGINT)) AS BIGINT) AS n_distinct_k
         FROM events WHERE event_id % 10 = 0
         GROUP BY event_type ORDER BY event_type""",
    // the co-located join must land exactly on the plain join
    "q140_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE l.l_orderkey % 5 = 0 AND o.o_orderkey % 5 = 0
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // per-file byte counts re-derived from the text itself (+1 for the
    // sink's newline); a truncated or re-encoded read can't hash-match
    "q124_binaryfile_source" ->
      """SELECT lang, COUNT(*) AS n_files,
         CAST(SUM(octet_length(encode(text)) + 1) AS BIGINT) AS bytes,
         TRUE AS bytes_match
         FROM documents WHERE doc_id % 25 = 0
         GROUP BY lang ORDER BY lang""",
    // valid rows must aggregate exactly like the parquet table; the two
    // injected malformed lines form the '(corrupt)' group
    "q62_jsonl_source" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
         FROM documents GROUP BY lang
         UNION ALL SELECT '(corrupt)', 2, NULL
         ORDER BY lang""",
    // parquet groups plus the injected row; its text length is computed
    // from the same literal, so misparsed framing cannot hash-match
    "q63_csv_source" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(SUM(len(text)) AS BIGINT) AS text_len
         FROM documents WHERE doc_id % 10 = 0 GROUP BY lang
         UNION ALL SELECT 'xx', 1, 42,
           len('line1' || chr(10) || 'line2, with "quotes"')
         ORDER BY lang""",
    // zh reflects v2 (+3 chars/doc); every other lang must be
    // untouched v1 — a static overwrite would have emptied them
    "q195_dynamic_overwrite" ->
      """SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(text))
                + CASE WHEN lang = 'zh' THEN 3 * COUNT(*) ELSE 0 END
             AS BIGINT) AS text_len
         FROM documents GROUP BY lang ORDER BY lang""",
    // parquet aggregation ∪ the injected row, entities decoded
    "q182_xml_source" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(SUM(len(text)) AS BIGINT) AS text_len
         FROM documents WHERE doc_id % 10 = 3 GROUP BY lang
         UNION ALL SELECT 'xx', 1, 42,
           len('a & b <tag> "q"' || chr(10) || 'line2')
         ORDER BY lang""",
    // the checkpoint's aggregation state must equal the batch rollup
    "q178_state_reader" ->
      """SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM events GROUP BY event_type ORDER BY event_type""")
}
