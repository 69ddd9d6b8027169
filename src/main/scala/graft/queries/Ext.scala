package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.{roundz, spreadIfNarrow, table}
import graft.ext.{Embeddings, Multimodal, NearDup, Retrieval, Similarity}
import graft.ops.{Active911, Fixtures}

/** EXT query entries: near-dup detection, vector similarity, embedding
  * stats, and the full Active911 reference pipeline over built-in wire
  * fixtures. Every entry carries a DuckDB oracle: hash/LSH-derived
  * values that DuckDB cannot recompute are checked via CONTRACT
  * booleans instead (invariants on injected exact duplicates, in-job
  * recall vs brute force — the q43/q66/q76 pattern), so a regression in
  * any pipeline stage still flips the driver row red; byte-level
  * semantics additionally pinned by ScalaTest specs.
  */
object Ext {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MinHash + LSH banding, CONTRACT-ORACLE form: the signatures/band
    // keys are xxhash64-derived (DuckDB cannot recompute a value), so
    // the oracle instead pins hash-free INVARIANTS the pipeline must
    // satisfy on deterministically injected exact duplicates (doc_id%21
    // == 5 → copy at +500000, reproducible in SQL): an exact dup has the
    // identical shingle-hash set, hence identical signature, identical
    // band keys, and MUST surface as a candidate pair. A regression in
    // shingling, signing, banding, or bucket-join flips a boolean red.
    // Byte-level semantics stay pinned in NearDupSpec.
    "q36_minhash" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val dup = docs.filter(pmod(col("doc_id"), lit(21)) === 5)
        .withColumn("doc_id", col("doc_id") + 500000L)
      val corpus = spreadIfNarrow(docs.unionByName(dup), col("doc_id"))
      // checkpoint: pairs/origs/copies all reference the signed pass
      // (r13, the minhashNearDups discipline)
      val signed = NearDup.signed(corpus, "doc_id", "text")
        .localCheckpoint(true)
      val pairs = NearDup.candidatePairs(signed)
      val origs = signed
        .filter(pmod(col("doc_id"), lit(21)) === 5 && col("doc_id") < 500000L)
        .select(col("doc_id").as("orig_id"),
          col("sig").as("sig_o"), col("band_keys").as("bk_o"))
      val copies = signed.filter(col("doc_id") >= 500000L)
        .select((col("doc_id") - 500000L).as("orig_id"),
          col("sig").as("sig_c"), col("band_keys").as("bk_c"))
      val found = pairs.filter(col("id_b") === col("id_a") + 500000L)
        .select(col("id_a").as("orig_id"), lit(true).as("__found"))
      origs.join(copies, Seq("orig_id"))
        .join(found, Seq("orig_id"), "left")
        .select(col("orig_id"),
          (col("sig_o") === col("sig_c")).as("sig_equal"),
          (col("bk_o") === col("bk_c")).as("bands_equal"),
          coalesce(col("__found"), lit(false)).as("candidate_found"))
        .orderBy(col("orig_id"))
    }),

    // SimHash, CONTRACT-ORACLE form (same injection as q36): an exact
    // dup has identical token hashes → identical bit votes → hamming 0,
    // and the 16-bit-band blocking path must emit the pair. The hashes
    // themselves stay non-recomputable; the invariants are not.
    // Determinism/ordering semantics pinned in NearDupSpec.
    "q37_simhash" -> ((s, d) => {
      graft.expr.GraftFunctions.register(s)
      val docs = table(s, d, "documents")
      val dup = docs.filter(pmod(col("doc_id"), lit(21)) === 5)
        .withColumn("doc_id", col("doc_id") + 500000L)
      val corpus = spreadIfNarrow(docs.unionByName(dup), col("doc_id"))
      val sims = corpus
        .select(col("doc_id"), NearDup.tokenHashes(col("text")).as("hs"))
        .select(col("doc_id"), NearDup.simhashFromHashes(col("hs")).as("simhash"))
      val o = sims.filter(pmod(col("doc_id"), lit(21)) === 5 &&
          col("doc_id") < 500000L)
        .select(col("doc_id").as("orig_id"), col("simhash").as("sim_o"))
      val c = sims.filter(col("doc_id") >= 500000L)
        .select((col("doc_id") - 500000L).as("orig_id"), col("simhash").as("sim_c"))
      val banded = NearDup.simhashNearDups(corpus, "doc_id", "text", maxDist = 3)
        .filter(col("id_b") === col("id_a") + 500000L)
        .select(col("id_a").as("orig_id"), lit(true).as("__found"))
      o.join(c, Seq("orig_id"))
        .join(banded, Seq("orig_id"), "left")
        .select(col("orig_id"),
          (NearDup.hamming(col("sim_o"), col("sim_c")) === 0).as("hamming_zero"),
          coalesce(col("__found"), lit(false)).as("band_pair_found"))
        .orderBy(col("orig_id"))
    }),

    // Top blocked n-gram-Jaccard pairs (lang + length-bucket blocking).
    "q38_jaccard_pairs" -> ((s, d) =>
      NearDup.blockedJaccardPairs(table(s, d, "documents"), 50)),

    // Embedding-cosine near-dup pairs (exact all-pairs baseline at
    // verify scale; graft.ext.Similarity.lshNearDupPairs is the banded
    // 100 TB path, recall-pinned against this in SimilaritySpec).
    "q39_embedding_neardup" -> ((s, d) => {
      val emb = spreadIfNarrow(table(s, d, "embeddings"), col("vec_id"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.cosinePairsExact(emb, 0.4).orderBy(col("id_a"), col("id_b"))
    }),

    // The PRODUCTION near-dup path at 100 TB: banded hyperplane-LSH
    // candidates verified by exact cosine (Similarity.lshNearDupPairs) —
    // q39's designated scale replacement, now driver-watched, not just
    // spec-pinned. The pair set is hyperplane-hash-derived, so the
    // oracle pins the CONTRACT vs the exact all-pairs baseline computed
    // in the same job: precision is 1.0 by construction (every
    // candidate is re-verified on true vectors), recall governed by
    // (nPlanes=24, bandBits=3): 8 bands of 3 bits ⇒ ~0.90 match prob
    // for a pair AT the tau=0.4 boundary, higher above it. n_exact is
    // DuckDB-recomputable (q39's SQL, counted).
    "q97_lsh_neardup" -> ((s, d) => {
      import s.implicits._
      val emb = spreadIfNarrow(table(s, d, "embeddings"), col("vec_id"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val approx = Similarity.lshNearDupPairs(emb, 0.4, nPlanes = 24, bandBits = 3)
        .select(col("id_a"), col("id_b"), lit(1L).as("__a"))
      val exact = Similarity.cosinePairsExact(emb, 0.4)
        .select(col("id_a"), col("id_b"), lit(1L).as("__e"))
      // ONE job for all three counts (exact/approx each execute once —
      // the separate count()/semi-join form ran both legs twice)
      val r = approx.join(exact, Seq("id_a", "id_b"), "full_outer")
        .agg(sum(col("__e")).as("n_exact"), sum(col("__a")).as("n_approx"),
          sum(col("__a") * col("__e")).as("n_common"))
        .head()
      val (nExact, nApprox, nCommon) =
        (r.getLong(0), r.getLong(1), r.getLong(2))
      Seq((nExact, nCommon == nApprox, nCommon.toDouble / nExact >= 0.7))
        .toDF("n_exact", "precision_ok", "recall_ok")
    }),

    // Mutual-kNN graph (Similarity.mutualKnnGraph) — the
    // graph-construction step of SemDeDup/graph-based curation: edges
    // survive only when BOTH endpoints rank each other top-k among the
    // banded-LSH candidates. CONTRACT-ORACLE form (the q36 injection
    // pattern): every nonzero-norm vec_id%17==4 vector re-appears as an
    // exact copy at +1000000 — identical sign bits guarantee shared
    // bands, cosine 1.0 is the maximum so the pair must be mutually
    // top-ranked; a regression in banding, ranking, or the mutuality
    // join flips a boolean. The asymmetric-neighbor semantics (hub
    // pruning) are pinned in SimilaritySpec.
    "q187_mutual_knn" -> ((s, d) => {
      val base = table(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val dup = base.filter(pmod(col("id"), lit(17)) === 4 &&
          aggregate(col("vec"), lit(0.0d),
            (acc, x) => acc + x * x) > 0)
        .select((col("id") + 1000000L).as("id"), col("vec"))
      val emb = spreadIfNarrow(base.unionByName(dup), col("id"))
      val edges = Similarity.mutualKnnGraph(emb, k = 4, tau = 0.4,
        nPlanes = 24, bandBits = 3)
      val expected = dup.select((col("id") - 1000000L).as("orig_id"))
      val found = edges.filter(col("id_b") === col("id_a") + 1000000L)
        .select(col("id_a").as("orig_id"),
          lit(true).as("__f"), (col("cos6") === 1.0).as("__one"))
      expected.join(found, Seq("orig_id"), "left")
        .select(col("orig_id"),
          coalesce(col("__f"), lit(false)).as("mutual_found"),
          coalesce(col("__one"), lit(false)).as("cos_is_one"))
        .orderBy(col("orig_id"))
    }),

    // SemDeDup-style semantic dedup (Similarity.semDedupPairs): drop
    // every vector with an earlier bucket-mate at cosine ≥ 0.4, buckets
    // = first-4-coordinate signs (the deterministic, SQL-recomputable
    // stand-in for the paper's k-means cells — the clustered variant is
    // q153's kmeans + the same within-bucket pairing). Pair join is an
    // equi-join on the bucket, never all-pairs; the oracle recomputes
    // cosine the q39 way (exploded coordinates, double accumulation)
    // restricted to same-bucket pairs. No float column is emitted —
    // the drop set and integer witness/multiplicity only.
    "q161_semdedup" -> ((s, d) => {
      val emb = spreadIfNarrow(table(s, d, "embeddings"), col("vec_id"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.semDedupPairs(emb, tau = 0.4, signBits = 4)
        .orderBy(col("dropped_id"))
    }),

    // Johnson–Lindenstrauss sign-matrix projection (Embeddings
    // .randomProjection): 64 → 16 dims via a fixed ±1 matrix given by
    // an integer formula of (i, j) — deterministic, engine-
    // recomputable, no stored state. A narrow per-row map (16 codegen'd
    // zip_with folds), zero shuffle; long (id, j, y6) output keeps the
    // compare scalar. √16 = 4 exactly, so the one division is
    // engine-identical; roundz/+0.0 guards the signed zero.
    "q165_jl_projection" -> ((s, d) =>
      Embeddings.randomProjection(
          spreadIfNarrow(table(s, d, "embeddings"), col("vec_id")),
          "vec_id", "embedding", inDim = 64, outDim = 16)
        .orderBy(col("vec_id"), col("j"))),

    // PCA over embeddings (graft.ext.Embeddings): ONE distributed Gram
    // pass (GramMoments UDAF — O(D²) buffer per partition, element-wise
    // merge; the only scalable covariance shape), then driver-side
    // finalization + deterministic cyclic-Jacobi eigensolve. Output =
    // the full upper-triangle covariance, which DuckDB recomputes
    // independently via the slow exploded-coordinate join (2M products
    // at verify scale — exactly what you must NOT do at 100 TB, which
    // is why it makes a good independent oracle), plus eigen contracts
    // (residual, orthogonality, λ bounds) pinned TRUE.
    "q101_pca_covariance" -> ((s, d) => {
      import s.implicits._
      val m = Embeddings.moments(table(s, d, "embeddings"), "embedding", 64)
      val e = Embeddings.symEigen(m.cov, 2)
      val resid = math.max(
        Embeddings.eigenResidual(m.cov, e.values(0), e.vectors(0)),
        Embeddings.eigenResidual(m.cov, e.values(1), e.vectors(1)))
      val ortho = math.abs(
        e.vectors(0).zip(e.vectors(1)).map { case (a, b) => a * b }.sum)
      val residOk = resid < 1e-8 * math.max(1.0, math.abs(e.values(0)))
      val orthoOk = ortho < 1e-8
      val evrOk = e.values(0) > 0 &&
        e.values(1) <= e.values(0) &&
        e.values(0) <= m.trace * (1 + 1e-12)
      val tri = for { i <- 0 until 64; j <- i until 64 }
        yield (i, j, m.cov(i)(j))
      tri.toDF("i", "j", "cov")
        .select(col("i"), col("j"), roundz(col("cov"), 6).as("cov_r"),
          lit(residOk).as("resid_ok"), lit(orthoOk).as("ortho_ok"),
          lit(evrOk).as("evr_ok"))
        .orderBy(col("i"), col("j"))
    }),

    // Distributed spherical k-means over embeddings
    // (graft.ext.Embeddings.kmeans) — semantic clustering for
    // topic-balanced mixing / SemDeDup-style curation. Narrow native
    // ArgMaxCosine assignment against a broadcast centroid literal, one
    // O(k·dim)-state aggregate per round, deterministic seeds (first k
    // unit vectors by id). CONTRACT-ORACLE form: the cluster geometry is
    // data-derived (DuckDB cannot cheaply replay float argmax ladders),
    // so the oracle recomputes n_total (nonzero-norm corpus) and pins
    // in-job invariants: every vector's cluster attains the max cosine
    // (re-verified through cosineNative + greatest, an independent code
    // path from the native argmax), Lloyd objective non-increasing
    // across rounds, and 1 ≤ nonempty clusters ≤ k.
    "q153_kmeans_clusters" -> ((s, d) => {
      import s.implicits._
      val km = Embeddings.kmeans(
        table(s, d, "embeddings"), "vec_id", "embedding", k = 8, iters = 2)
      val ass = km.assigned.persist()
      try {
        val cm = km.centroids
        val maxCos = greatest(cm.indices.map(i =>
          Similarity.cosineNative(col("__u"), typedlit(cm(i)))): _*)
        val ownCos = Similarity.cosineNative(col("__u"),
          element_at(typedlit(cm), col("cluster") + 1))
        // ONE action for all three contract scalars (r14, guide §1.2):
        // the count/k-nonempty pair and the assignment-consistency
        // count are aggregates over the same persisted frame — the
        // separate .count() job paid the per-job floor a second time
        val r = ass.agg(count(lit(1)).as("n"),
          countDistinct(col("cluster")).as("kne"),
          sum(when(ownCos < maxCos - lit(1e-6), 1L).otherwise(0L))
            .as("nbad")).head()
        val (nTotal, kNonEmpty) = (r.getLong(0), r.getLong(1))
        val nBad = r.getLong(2)
        // n-relative tolerance (r11 — q302's stress-caught class): the
        // objective is an O(n) sum, so partition-order float noise
        // scales with n while an absolute epsilon does not. Floored at
        // the prior absolute 1e-9 (ADVICE-r11) so the relative bound
        // only ever relaxes the contract small-sf runs were green on.
        val monotone = km.objective.zip(km.objective.tail)
          .forall { case (a, b) => b <= a + math.max(1e-9, 1e-12 * nTotal) }
        Seq((8, nTotal, nBad == 0L, monotone, kNonEmpty >= 1 && kNonEmpty <= 8))
          .toDF("k", "n_total", "assignment_consistent",
            "objective_monotone", "clusters_bounded")
      } finally { ass.unpersist(); () }
    }),

    // IVF index LAYOUT — the disk half of vector search at 100 TB: the
    // kmeans-assigned corpus lands as cluster-partitioned parquet
    // (one directory per inverted list), and a probe touches ONLY its
    // lists' partitions — Catalyst partition pruning turns nprobe/k
    // into the scan fraction. CONTRACT-ORACLE form: DuckDB recomputes
    // the nonzero-norm corpus count; booleans pin (a) pruning actually
    // happened (probed-read file set ⊂ full file set, every file under
    // a probed cluster= directory), (b) the read-back probed content
    // equals the in-memory assignment exactly (float arrays round-trip
    // parquet bit-exact — symmetric except() empty both ways).
    "q155_ann_index_layout" -> ((s, d) => {
      import s.implicits._
      val stage = java.nio.file.Files.createTempDirectory("graft_ivf_")
      try {
        val km = Embeddings.kmeans(
          table(s, d, "embeddings"), "vec_id", "embedding", k = 8, iters = 1)
        val assigned = km.assigned
          .select(col("vec_id"), col("embedding"), col("cluster"))
          .persist()
        try {
          assigned.write.mode("overwrite").partitionBy("cluster")
            .parquet(s"$stage/ivf")
          // probe lists for the first 3 corpus vectors: top-2 centroids
          // by cosine, computed driver-side from the (k×dim) matrix —
          // model material, same as the IVF coarse quantizer
          val qs = assigned.orderBy(col("vec_id")).limit(3)
            .select(col("vec_id"), col("embedding")).collect()
            .map(r => r.getLong(0) -> r.getSeq[Float](1))
          def cos(a: Seq[Float], b: Seq[Float]): Double = {
            var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
            while (i < a.length) {
              dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
              nb += b(i).toDouble * b(i); i += 1
            }
            if (na == 0 || nb == 0) -2.0 else dot / math.sqrt(na * nb)
          }
          val probed = qs.flatMap { case (_, v) =>
            km.centroids.zipWithIndex
              .map { case (c, i) => (cos(v, c), i) }
              .sortBy { case (cs, i) => (-cs, i) }.take(2).map(_._2)
          }.distinct.sorted.toSeq
          val full = s.read.parquet(s"$stage/ivf")
          val back = full.filter(col("cluster").isin(probed: _*))
          val backFiles = back.select(input_file_name().as("f")).distinct()
          val memProbed = assigned.filter(col("cluster").isin(probed: _*))
            .select(col("vec_id"), col("cluster"), col("embedding"))
          val diskProbed = back
            .select(col("vec_id"), col("cluster").cast("int").as("cluster"),
              col("embedding"))
          // ONE action for all six contract scalars (r14, guide §1.2 —
          // the q152 cross-join-of-one-row-aggregates move): the old rig
          // ran six sequential count jobs over these independent
          // subtrees; the in-probed-dirs count folds into the backFiles
          // aggregate, so the persist is gone too (single reference).
          val tele = full.select(input_file_name().as("f")).distinct()
            .agg(count(lit(1)).as("files_all"))
            .crossJoin(backFiles.agg(count(lit(1)).as("files_read"),
              coalesce(sum(when(
                probed.map(c => col("f").contains(s"cluster=$c/"))
                  .reduce(_ || _), 1L).otherwise(0L)), lit(0L))
                .as("files_in_dirs")))
            .crossJoin(diskProbed.exceptAll(memProbed)
              .agg(count(lit(1)).as("dm")))
            .crossJoin(memProbed.exceptAll(diskProbed)
              .agg(count(lit(1)).as("md")))
            .crossJoin(assigned.agg(count(lit(1)).as("n_total")))
            .head()
          val filesAll = tele.getLong(0)
          val (filesRead, filesInProbedDirs) = (tele.getLong(1), tele.getLong(2))
          val roundTripExact = tele.getLong(3) == 0 && tele.getLong(4) == 0
          val nTotal = tele.getLong(5)
          Seq((nTotal, 8,
              probed.nonEmpty && probed.length <= 6,
              filesRead < filesAll && filesRead > 0,
              filesInProbedDirs == filesRead, roundTripExact))
            .toDF("n_total", "k_lists", "probes_bounded",
              "pruned", "files_in_probed_dirs", "roundtrip_exact")
        } finally { assigned.unpersist(); () }
      } finally graft.Graft.deleteRecursively(stage)
    }),

    // Embedding outlier screen (diagonal-covariance Mahalanobis):
    // moments from the one-pass Gram aggregate, scoring as a narrow
    // zip_with fold over broadcast literal mean/std — a pure scan.
    // DuckDB re-derives moments AND scores from exploded coordinates.
    "q109_embedding_outliers" -> ((s, d) =>
      Embeddings.outlierScores(table(s, d, "embeddings"), "embedding", 64)
        .select(col("vec_id"), roundz(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(20)),

    // Okapi BM25 keyword retrieval (graft.ext.Retrieval): inverted
    // postings probed by the broadcast query vocabulary — corpus-side
    // work is proportional to MATCHING postings, never |corpus|×|q|.
    // All math is SQL arithmetic over integer tf/df/dl, so the oracle
    // recomputes the full pipeline (tokenize → postings → df → idf →
    // score → rounded rank) in DuckDB. Fixed literal query set shared
    // verbatim with the oracle VALUES clause.
    "q99_bm25_topk" -> ((s, d) => {
      import s.implicits._
      val qs = retrievalQueries(s)
      Retrieval.bm25TopK(table(s, d, "documents"), "doc_id", "text", qs, k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // Hybrid lexical fusion: BM25 top-10 and distinct-token-overlap
    // top-10 fused by reciprocal-rank fusion (1/(60+rank), full outer).
    // Ranks are integers and each RRF term is a single IEEE division in
    // fixed order, so DuckDB recomputes everything bit-identically.
    "q100_rrf_fusion" -> ((s, d) => {
      import s.implicits._
      val docs = table(s, d, "documents")
      val qs = retrievalQueries(s)
      val bm = Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 10)
      val ov = Retrieval.overlapTopK(docs, "doc_id", "text", qs, k = 10)
      Retrieval.rrfFuse(bm, ov, "doc_id", k = 5)
        .orderBy(col("qid"), col("rank"))
    }),

    // TF-IDF cosine retrieval (ltc vector-space model): the third
    // lexical leg next to BM25 (q99) and raw overlap (q100's second
    // list). Distinguishing build step: cosine needs document L2 norms
    // over the FULL vocabulary, so the complete inverted index is
    // weighted (df via ONE count-over-term window on postings — no
    // vocabulary join) before the broadcast query probe. All math is
    // ln/×/÷ over integers in a mirrored op order → full DuckDB
    // recompute, rounded-rank ordering as in q99.
    "q173_tfidf_cosine" -> ((s, d) => {
      val qs = retrievalQueries(s)
      Retrieval.tfidfTopK(table(s, d, "documents"), "doc_id", "text", qs, k = 10)
        .orderBy(col("qid"), col("rank"))
    }),

    // Directed containment (NearDup.containmentPairs): the excerpt
    // detector symmetric Jaccard can't be — a 10-shingle fragment of a
    // long doc has Jaccard ≈ 0 but containment 1.0. Deterministic
    // excerpt injection (every doc_id%41==6 with ≥14 tokens re-appears
    // as its tokens[3..14] slice at +2000000) guarantees perfect
    // containment pairs exist; the oracle replays injection and the
    // full inverted-index recompute with STRING shingles (q38's
    // equivalence stance on 64-bit shingle hashing).
    "q189_containment" -> ((s, d) => {
      val base = table(s, d, "documents").select(col("doc_id"), col("text"))
      val exc = base
        .filter(pmod(col("doc_id"), lit(41)) === 6 &&
          size(split(lower(col("text")), " ")) >= 14)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          array_join(slice(split(lower(col("text")), " "), 3, 12), " ")
            .as("text"))
      NearDup.containmentPairs(base.unionByName(exc), "doc_id", "text",
          tau = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Blocked fuzzy match (entity resolution): all row pairs within a
    // blocking key (first name token) scored by edit distance ≤ 3,
    // aggregated per block. Two scale moves, both standard:
    //  1. blocking — candidates come from an equi-join on the block
    //     key, never an all-pairs product;
    //  2. multiplicity compression — the name column is highly
    //     duplicated (~80 distinct names over 20k rows at sf0.1), so
    //     ROW pairs are quadratic in duplicate counts (21M here, 51 s
    //     of levenshtein). Dedup to (name, count) FIRST, score only
    //     distinct-name pairs (~hundreds), and weight: an x≠y pair
    //     represents cnt_x·cnt_y row pairs, an x=x "pair" C(cnt_x, 2).
    // The oracle computes the NAIVE row-pair definition — the
    // compression must be invisible in the result. At 100 TB add
    // complementary blocking keys for recall and cap degenerate blocks
    // (cf. NearDup.candidatePairs' maxBucket).
    "q70_fuzzy_match" -> ((s, d) => {
      val names = table(s, d, "part")
        .select(element_at(split(col("p_name"), " "), 1).as("blk"),
          col("p_name"))
        .groupBy(col("blk"), col("p_name")).agg(count(lit(1)).as("cnt"))
      val a = names.select(col("blk"), col("p_name").as("name_a"),
        col("cnt").as("cnt_a"))
      val b = names.select(col("blk").as("blk_b"), col("p_name").as("name_b"),
        col("cnt").as("cnt_b"))
      a.join(b, col("blk") === col("blk_b") && col("name_a") <= col("name_b"))
        .withColumn("dist", when(col("name_a") === col("name_b"), lit(0))
          .otherwise(levenshtein(col("name_a"), col("name_b"))))
        .filter(col("dist") <= 3)
        .withColumn("mult",
          when(col("name_a") === col("name_b"),
            (col("cnt_a") * (col("cnt_a") - 1) / 2).cast("long"))
            .otherwise(col("cnt_a") * col("cnt_b")))
        .groupBy(col("blk"))
        .agg(sum(col("mult")).cast("long").as("n_pairs"),
          sum(when(col("dist") <= 1, col("mult")).otherwise(lit(0L)))
            .cast("long").as("n_close"),
          sum(col("dist") * col("mult")).cast("long").as("sum_dist"))
        .orderBy(col("blk"))
    }),

    // Near-dup pairs → dedup CLUSTERS: connected components by
    // iterative hash-min propagation (NearDup.connectedComponents) over
    // the same exact-cosine edge set as q39; canonical = min id per
    // component. The oracle recomputes components independently with a
    // recursive CTE (min reachable id), so a propagation bug — not just
    // an edge bug — flips the row. At 100 TB the edge input swaps to
    // lshNearDupPairs; the component step is unchanged.
    "q69_dedup_clusters" -> ((s, d) => {
      val emb = spreadIfNarrow(table(s, d, "embeddings"), col("vec_id"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val edges = Similarity.cosinePairsExact(emb, 0.4)
      NearDup.connectedComponents(edges, "id_a", "id_b")
        .select(col("id"), col("comp"), (col("id") === col("comp")).as("canonical"))
        .orderBy(col("id"))
    }),

    // Entity resolution END-TO-END: blocked fuzzy pairing (q70's
    // machinery, tightened to edit distance ≤ 1) → connected components
    // (q69's operator) → golden-record survivorship (q95's rule) in one
    // composed plan. Deterministic typo variants are injected (every
    // nid%3==0 name re-appears with its last char dropped — same block,
    // distance exactly 1) so clusters really form on this clean
    // catalog. Self-loop edges carry singleton entities through CC, so
    // the output is a TOTAL partition of the name universe. Canonical =
    // highest record count, then smallest name. Scale: the block join
    // bounds candidate pairs (q70), CC is the q69 hash-min ladder, and
    // the rollup is one comp-keyed window+aggregate.
    "q184_entity_resolution" -> ((s, d) => {
      val base = table(s, d, "part")
        .groupBy(col("p_name").as("name"))
        .agg(min(col("p_partkey")).as("nid"), count(lit(1)).as("cnt"))
      val variants = base
        .filter(pmod(col("nid"), lit(3)) === 0 && length(col("name")) > 3)
        .select(expr("substr(name, 1, length(name) - 1)").as("name"),
          (col("nid") + 1000000L).as("nid"), lit(1L).as("cnt"))
      val nodes = base.unionByName(variants)
        .groupBy(col("name"))
        .agg(min(col("nid")).as("nid"), sum(col("cnt")).as("cnt"))
        .withColumn("blk", element_at(split(col("name"), " "), 1))
      val a = nodes.select(col("blk"), col("name").as("name_a"),
        col("nid").as("nid_a"))
      val b = nodes.select(col("blk"), col("name").as("name_b"),
        col("nid").as("nid_b"))
      val edges = a.join(b, Seq("blk"))
        .filter(col("name_a") < col("name_b") &&
          levenshtein(col("name_a"), col("name_b")) <= 1)
        .select(col("nid_a"), col("nid_b"))
      val selfE = nodes.select(col("nid").as("nid_a"), col("nid").as("nid_b"))
      val comp0 = NearDup.connectedComponents(
        edges.unionByName(selfE), "nid_a", "nid_b")
      // CC iterates in a right-sized cloned session; re-parent its tiny
      // (id, comp) frame before joining plans from this session
      val comp = s.createDataFrame(comp0.rdd, comp0.schema)
      val labeled = nodes.join(comp.withColumnRenamed("id", "nid"), Seq("nid"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("comp")).orderBy(col("cnt").desc, col("name"))
      labeled.withColumn("rk", row_number().over(w))
        .groupBy(col("comp"))
        .agg(max(when(col("rk") === 1, col("name"))).as("canonical"),
          count(lit(1)).as("n_names"),
          sum(col("cnt")).cast("long").as("n_records"))
        .orderBy(col("comp"))
    }),

    // IVF approximate top-3 (coarse-quantizer + inverted-list probe),
    // CONTRACT-ORACLE form: the neighbor ids depend on the k-means
    // training loop (reproducing it in SQL would be a second
    // implementation, not a check), so the query measures ITSELF against
    // the exact brute-force top-k in the same job and emits the accuracy
    // contract as booleans the oracle pins TRUE. Recall is aggregate
    // over the query set (per-query probe recall is stochastic by
    // design); the threshold sits ~2x under measured (see SURVEY §9.3).
    // no_self_ok pins the qid≠nid exclusion; per-path recall is also
    // spec-pinned in SimilaritySpec.
    "q44_ann_ivf" -> ((s, d) => {
      import s.implicits._
      val emb = table(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = spreadIfNarrow(emb, col("vec_id"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val ivf = Similarity.ivfTopK(qs, corpus, 3)
        .select(col("qid"), col("nid"), lit(1L).as("__l"))
      val brute = Similarity.bruteTopK(qs, corpus, 3)
        .select(col("qid"), col("nid"), lit(1L).as("__b"))
      // ONE job for all three contract counts (each leg executes once)
      val r = ivf.join(brute, Seq("qid", "nid"), "full_outer")
        .agg(sum(col("__b")).as("nb"), sum(col("__l") * col("__b")).as("nh"),
          sum(when(col("__l") === 1L && col("qid") === col("nid"), 1L)
            .otherwise(0L)).as("ns"))
        .head()
      val (nBrute, nHit, nSelf) = (r.getLong(0), r.getLong(1), r.getLong(2))
      Seq((qs.count(), 3, nHit.toDouble / nBrute >= 0.3, nSelf == 0L))
        .toDF("n_queries", "k", "recall_ok", "no_self_ok")
    }),

    // Exact cosine top-5 for the first 10 vectors (brute force, double
    // precision) — DuckDB oracle recomputes with the same math.
    "q40_cosine_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = spreadIfNarrow(emb, col("vec_id"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.bruteTopK(qs, corpus, 5).orderBy(col("qid"), col("rank"))
    }),

    // LSH parameter sweep — the tuning curve behind every banded
    // near-dup config in the library: the SAME 16-hash MinHash
    // signature banded as 4×4 / 8×2 / 16×1, recall measured against an
    // injected ground truth (near-copies with one appended token on
    // ≥14-token docs, so the planted Jaccard is high and analyzable).
    // Contract booleans pin the theory: per-config recall floors
    // (collision probability 1−(1−J^r)^b rises as r shrinks) and
    // endpoint monotonicity recall(16×1) ≥ recall(4×4). The three
    // sweep legs are bounded driver-side counts (q261's scalar class)
    // ANN recall frontier (r8, the q280 move for the VECTOR indexes):
    // one sweep over the recall knob of each ANN family in the library
    // — IVF nprobe (1→4→16=nlist), LSH multi-probe hamming radius
    // (0→1→8=nPlanes), graph-beam hop count (1→3) — each measured as
    // recall@10 against the brute-force truth over the same 6-query
    // panel. This is the operating curve a 100 TB vector-search
    // deployment reads first: which knob buys recall, and where the
    // curve saturates. The contract pins two THEOREMS, not measured
    // floors: (a) recall is MONOTONE along every knob, because each
    // step's candidate set (IVF probed lists, LSH probed buckets) or
    // visited set (beam hops) is a SUPERSET of the previous step's,
    // and a truth node in the candidate set can only be displaced from
    // the reported top-k by other truth nodes (anything ranked above a
    // global-top-k member is itself global-top-k); (b) the exhaustive
    // endpoints — nprobe=nlist scans every inverted list, hamming=
    // nPlanes probes every bucket — degenerate to the exact scan, so
    // endpoint recall is EXACTLY 1.0 (same (cos desc, id) total order
    // as brute). Graph-beam has no exhaustive endpoint (connectivity-
    // bounded), so its endpoint boolean is honestly NULL; beam WIDTH
    // is deliberately not swept — wider beams do not guarantee
    // superset visited sets (a wide beam can visit a node early and
    // anti-join it out of a later frontier), so monotonicity there is
    // an empirical tendency, not a theorem. IVF runs lloydIters=0
    // (seed centroids, fully deterministic) so the sweep legs share
    // one exact centroid matrix. Cost: each leg is the operator's own
    // bounded plan (broadcast query panel, equi-join probes); the
    // kNN graph + seeds build once and serve all beam legs.
    "q331_ann_recall_frontier" -> ((s, d) => {
      import s.implicits._
      val emb = table(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 6)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .localCheckpoint(true)
      val corpus = spreadIfNarrow(emb, col("vec_id"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
        .localCheckpoint(true)
      val k = 10
      val truth = Similarity.bruteTopK(qs, corpus, k)
        .select(col("qid"), col("nid")).localCheckpoint(true)
      val nTruth = truth.count()
      // r13 (guide §1.2/§2.6): the sweep's 8 recall legs used to run as
      // 8 sequential join+count JOBS, and each IVF leg re-collected the
      // seed centroid matrix and re-ran the narrow assignment pass. The
      // quantizer/assignment now build ONCE (lloydIters=0 ⇒ every leg
      // shared the exact same matrix already), and all legs union into
      // ONE tagged semi-join + count aggregate — identical per-leg hit
      // counts, one job instead of eight.
      val cmat = Similarity.ivfCentroids(corpus, nlist = 16, lloydIters = 0)
      val assigned = Similarity.ivfAssign(corpus, cmat)
      val ivfLegs = Seq(1, 4, 16).map(p => s"ivf_$p" ->
        Similarity.ivfProbeTopK(qs, assigned, cmat, k, nprobe = p))
      val lshLegs = Seq(0, 1, 8).map(h => s"lsh_$h" ->
        Similarity.lshTopK(qs, corpus, k, nPlanes = 8, maxProbeHamming = h))
      val graph = annGraph(s, d).localCheckpoint(true)
      val seeds = Similarity.lshSeedCandidates(qs, corpus)
        .unionByName(Similarity.uniformSeedCandidates(qs, corpus))
        .localCheckpoint(true)
      // ONE tagged beam search for both hop budgets (r14,
      // Similarity.graphBeamSweep): the hops=1 leg is the same
      // deterministic search stopped one hop earlier, so a single
      // 3-hop ladder emits both legs' top-k — adjacency, seed scoring
      // and per-hop frontiers computed once instead of twice
      val beamSweep = Similarity.graphBeamSweep(qs, corpus, graph, seeds,
        k, beams = Seq(4), emitHops = Seq(1, 3))
      val beamLegs = Seq(1, 3).map(h => s"beam_$h" ->
        beamSweep.filter(col("hops") === h))
      val tagged = (ivfLegs ++ lshLegs ++ beamLegs)
        .map { case (tag, df) =>
          df.select(lit(tag).as("leg"), col("qid"), col("nid")) }
        .reduce(_ unionByName _)
      // per-leg hit counts in one aggregate; a leg with zero hits is
      // absent from the result, hence the default
      val hit = tagged.join(truth, Seq("qid", "nid"), "left_semi")
        .groupBy(col("leg")).agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
        .withDefaultValue(0L)
      def recall(tag: String): Double = hit(tag).toDouble / nTruth
      val ivf = Seq(1, 4, 16).map(p => recall(s"ivf_$p"))
      val lsh = Seq(0, 1, 8).map(h => recall(s"lsh_$h"))
      val beam = Seq(1, 3).map(h => recall(s"beam_$h"))
      def mono(rs: Seq[Double]): Boolean =
        rs.zip(rs.tail).forall { case (a, b) => a <= b }
      Seq(
        ("beam_hops", 2L, nTruth, mono(beam), None: Option[Boolean]),
        ("ivf_nprobe", 3L, nTruth, mono(ivf), Some(ivf.last == 1.0)),
        ("lsh_hamming", 3L, nTruth, mono(lsh), Some(lsh.last == 1.0)))
        .toDF("method", "n_params", "n_truth", "monotone_ok",
          "endpoint_exact_ok")
        .orderBy(col("method"))
    }),

    // Beam-WIDTH sweep (r9, the knob q331 honestly left unswept): plain
    // width sweeps carry NO superset theorem — a wide beam can visit a
    // node early and anti-join it out of a later frontier, so
    // recall(beam=8) < recall(beam=4) is possible and pinning
    // monotonicity would be pinning luck. The deployable form that DOES
    // have a theorem is the ANYTIME sweep: run widths 2→4→8, KEEP every
    // visited candidate, and re-rank the accumulated pool at each step
    // with the exact scorer (cosineNative, (cos desc, id) — brute's
    // total order). Then (a) the pool only grows, and a truth node in
    // the pool can be displaced from top-k only by other truth nodes
    // (anything ranked above a global-top-k member is itself
    // global-top-k), so CUMULATIVE recall is monotone — a theorem; and
    // (b) each cumulative step's pool contains that width's own result
    // set, so cumulative ≥ single at every width — also a theorem. The
    // single_monotone_guaranteed column is the honest schema: FALSE,
    // constant, documenting that no such theorem exists for the
    // un-accumulated sweep. Pool re-ranks are tiny equi-joins (≤
    // queries × Σ k candidates); graph + seeds build once and serve all
    // legs — at 100 TB this is "spend more search, never lose recall"
    // without re-touching the corpus.
    "q338_beam_width_anytime" -> ((s, d) => {
      import s.implicits._
      val emb = table(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 6)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .localCheckpoint(true)
      val corpus = spreadIfNarrow(emb, col("vec_id"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
        .localCheckpoint(true)
      val k = 10
      val truth = Similarity.bruteTopK(qs, corpus, k)
        .select(col("qid"), col("nid")).localCheckpoint(true)
      val nTruth = truth.count()
      val graph = annGraph(s, d).localCheckpoint(true)
      val seeds = Similarity.lshSeedCandidates(qs, corpus)
        .unionByName(Similarity.uniformSeedCandidates(qs, corpus))
        .localCheckpoint(true)
      val widths = Seq(2, 4, 8)
      // ONE tagged beam search for all three widths (r14,
      // Similarity.graphBeamSweep): every join/window inside is keyed
      // by (bw, qid), so each width's rows are exactly its separate
      // graphBeamTopK result — adjacency, seed scoring and per-hop
      // frontiers computed once instead of three times, and one
      // checkpoint holds all legs
      val sweep = Similarity.graphBeamSweep(qs, corpus, graph, seeds,
          k, beams = widths, emitHops = Seq(2))
        .select(col("bw"), col("qid"), col("nid")).localCheckpoint(true)
      val legs = widths.map(b => sweep.filter(col("bw") === b)
        .select(col("qid"), col("nid")))
      val qb = broadcast(qs)
      // r13 (guide §1.2/§2.6): the 6 pool re-ranks (3 single + 3
      // cumulative) used to run as 6 sequential jobs over the same 3
      // checkpointed legs. All pools now union into ONE tagged frame;
      // the per-pool dedup/re-rank/semi-join/count is identical per
      // tag (window partitioned by (pool, qid) ≡ per-qid inside each
      // isolated pool), so the per-pool hit counts — and therefore
      // every recall — are unchanged, in one job instead of six.
      val pools: Seq[(String, DataFrame)] =
        widths.indices.map(i => (s"single_$i", legs(i))) ++
          widths.indices.map(i =>
            (s"cum_$i", legs.take(i + 1).reduce(_ unionByName _)))
      val taggedPools = pools.map { case (tag, df) =>
        df.select(lit(tag).as("pool"), col("qid"), col("nid")) }
        .reduce(_ unionByName _)
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("pool"), col("qid"))
        .orderBy(col("cos").desc, col("nid"))
      val poolHits = taggedPools.dropDuplicates("pool", "qid", "nid")
        .join(corpus.select(col("id").as("nid"), col("vec")), Seq("nid"))
        .join(qb, Seq("qid"))
        .select(col("pool"), col("qid"), col("nid"),
          Similarity.cosineNative(col("qvec"), col("vec")).as("cos"))
        .withColumn("rk", row_number().over(wp)).filter(col("rk") <= k)
        .join(truth, Seq("qid", "nid"), "left_semi")
        .groupBy(col("pool")).agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
        .withDefaultValue(0L)
      val single = widths.indices.map(i =>
        poolHits(s"single_$i").toDouble / nTruth)
      val cum = widths.indices.map(i =>
        poolHits(s"cum_$i").toDouble / nTruth)
      val cumMono = cum.zip(cum.tail).forall { case (a, b) => a <= b }
      widths.zipWithIndex.map { case (b, i) =>
        (b.toLong, nTruth, cumMono, cum(i) >= single(i), false)
      }.toDF("beam", "n_truth", "cum_monotone_ok", "cum_ge_single_ok",
        "single_monotone_guaranteed")
        .orderBy(col("beam"))
    }),

    // Incremental ANN index maintenance (r9, VERDICT-r8 #6): q155's IVF
    // layout meets q108's delta stance. Appended vectors are assigned
    // to the EXISTING (frozen) centroid matrix — one |Δ|-sized narrow
    // native pass, the main index untouched; probes scan main ∪ delta
    // lists; the compaction fold merges delta partitions into the main
    // layout (repartition by list_id — at 100 TB, a partitioned-parquet
    // rewrite of only the lists the delta touched). The contract pins
    // the THEOREM: per-row assignment against a fixed matrix commutes
    // with union, so probe(main ∪ delta) ≡ probe(full rebuild at the
    // same centroids) ≡ probe(compacted) — three plans, one answer,
    // verified by symmetric exceptAll emptiness inside the query. What
    // is NOT claimed: rebuild with RETRAINED centroids (drifted data
    // wants re-clustering — that's a rebuild, not maintenance).
    "q340_ivf_delta_index" -> ((s, d) => {
      import s.implicits._
      val emb = table(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 6)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .localCheckpoint(true)
      val corpus = spreadIfNarrow(emb, col("vec_id"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
        .localCheckpoint(true)
      val main = corpus.filter(pmod(col("id"), lit(5)) =!= 4)
      val delta = corpus.filter(pmod(col("id"), lit(5)) === 4)
      val cmat = Similarity.ivfCentroids(main, nlist = 16, lloydIters = 1)
      val mainIdx = Similarity.ivfAssign(main, cmat).localCheckpoint(true)
      val deltaIdx = Similarity.ivfAssign(delta, cmat).localCheckpoint(true)
      val k = 10
      val np = 4
      val incr = Similarity.ivfProbeTopK(qs,
        mainIdx.unionByName(deltaIdx), cmat, k, np).localCheckpoint(true)
      val rebuild = Similarity.ivfProbeTopK(qs,
        Similarity.ivfAssign(corpus, cmat), cmat, k, np)
      val compacted = mainIdx.unionByName(deltaIdx)
        .repartition(col("list_id")).localCheckpoint(true)
      val comp = Similarity.ivfProbeTopK(qs, compacted, cmat, k, np)
      def eq(a: DataFrame, b: DataFrame): Boolean =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      Seq((main.count(), delta.count(), qs.count(),
          eq(incr, rebuild), eq(incr, comp)))
        .toDF("n_main", "n_delta", "n_queries",
          "incr_eq_rebuild", "compact_eq_incr")
    }),

    // over a checkpointed ~500-doc sample — the sweep is how a 100 TB
    // dedup picks (b, r) BEFORE the full-corpus run.
    "q280_lsh_param_recall" -> ((s, d) => {
      import s.implicits._
      val base = table(s, d, "documents")
        .filter(col("doc_id") < 400 &&
          size(split(lower(col("text")), " ")) >= 14)
        .select(col("doc_id"), col("text"))
      val inj = base.filter(pmod(col("doc_id"), lit(7)) === 3)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat(col("text"), lit(" zqparamtoken")).as("text"))
      val u = base.unionByName(inj).localCheckpoint(true)
      val truth = u.filter(col("doc_id") >= 500000L)
        .select((col("doc_id") - 500000L).as("id_a"),
          col("doc_id").as("id_b")).localCheckpoint(true)
      val nTruth = truth.count()
      val recall = Seq(4, 8, 16).map { b =>
        val cands = NearDup.candidatePairs(
          NearDup.signed(u, "doc_id", "text", k = 16, bands = b))
        val found = cands.join(truth, Seq("id_a", "id_b"), "left_semi")
          .count()
        b -> found.toDouble / nTruth
      }.toMap
      val monotone = recall(16) >= recall(4)
      Seq(
        (4L, 4L, nTruth, recall(4) >= 0.5, monotone),
        (8L, 2L, nTruth, recall(8) >= 0.8, monotone),
        (16L, 1L, nTruth, recall(16) >= 0.9, monotone))
        .toDF("bands", "rows_per_band", "n_truth", "floor_ok",
          "monotone_ok")
        .orderBy(col("bands"))
    }),

    // ColBERT-style late-interaction retrieval (Similarity.maxSim):
    // documents are BAGS of vectors (label = the bag), queries are a
    // 4-vector set, score = Σ_q max_v cos(q, v). The per-(doc, q) max
    // is order-insensitive, the Σ over q is an ordered cumsum, and the
    // native cosine accumulates in ascending index order — the q40
    // determinism stack. Broadcast query set × corpus scan (q40's
    // class; ANN shortlists swap in at scale).
    "q278_maxsim_retrieval" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val docs = emb.filter(col("vec_id") >= 4)
        .select(col("label").as("doc"), col("embedding").as("vec"))
      val nv = emb.filter(col("vec_id") >= 4)
        .groupBy(col("label").as("doc")).agg(count(lit(1)).as("n_vecs"))
      Similarity.maxSim(qs, docs).join(nv, Seq("doc"))
        .select(col("doc"), col("n_vecs"),
          roundz(col("maxsim"), 6).as("maxsim6"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("maxsim6").desc, col("doc"))).cast("long"))
        .orderBy(col("rank"))
    }),

    // Hard-negative mining for contrastive training: each query's top-3
    // most-similar vectors with a DIFFERENT label — the "hard" negatives
    // that actually move a retrieval/embedding model (random negatives
    // are trivially separable). Broadcast query set × narrow corpus scan
    // with the label-mismatch predicate fused into the join, exact
    // cosine via the codegen'd native expression, one qid-keyed window
    // for top-k (the q40 plan plus a label anti-predicate). At 100 TB
    // the corpus side swaps in any ANN shortlist (q41/q44/q107) —
    // mining composes with every index in the library.
    "q156_hard_negatives" -> ((s, d) => {
      graft.expr.GraftFunctions.register(s)
      val emb = table(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      val corpus = spreadIfNarrow(emb, col("vec_id"))
        .select(col("vec_id").as("nid"), col("embedding").as("vec"),
          col("label"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
      corpus.join(broadcast(qs),
          col("nid") =!= col("qid") && col("label") =!= col("qlabel"))
        .select(col("qid"), col("nid"), col("label").as("neg_label"),
          Similarity.cosineNative(col("qvec"), col("vec")).as("cos"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("nid"), col("neg_label"), col("rank"),
          roundz(col("cos"), 6).as("cos6"))
        .orderBy(col("qid"), col("rank"))
    }),

    // Lazy shingle UDTF: graft_shingle_rows streams one row per window
    // straight out of GenerateExec — no per-doc shingle array ever
    // materializes (the explode(graft_word_shingles(...)) form's cost on
    // huge documents). Aggregated per doc so DuckDB recomputes counts
    // and lexicographic extremes from plain string n-grams.
    "q92_shingle_generator" -> ((s, d) => {
      graft.expr.GraftFunctions.register(s)
      spreadIfNarrow(table(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"), split(lower(col("text")), " ").as("wr"))
        .select(col("doc_id"),
          call_function(graft.expr.GraftFunctions.ShingleRowsName,
            col("wr"), lit(3)).as("shingle"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          min(col("shingle")).as("min_sh"), max(col("shingle")).as("max_sh"))
        .orderBy(col("doc_id"))
    }),

    // Batched per-partition media decode (the mapPartitions shape a
    // real codec needs — context per batch, iterator through). The stub
    // codec header-parses the leading bytes, so with text-as-bytes
    // payloads DuckDB recomputes every value from ascii() arithmetic —
    // this pins the BATCHED path end-to-end, not just column stubs.
    "q91_media_batch_decode" -> ((s, d) => {
      import s.implicits._
      val media = spreadIfNarrow(table(s, d, "documents"), col("doc_id"))
        .select(col("doc_id").as("media_id"),
          col("text").cast("binary").as("media"))
        .as[Multimodal.MediaIn]
      Multimodal.decodeBatched(media).toDF().orderBy(col("media_id"))
    }),

    // REAL media decode (q91 pins the batched plumbing with the stub
    // codec; this runs an actual pure-JVM 24-bit BMP decoder through
    // the same mapPartitions shape). Fixture: every 29th doc becomes a
    // true BMP (proper headers, 4-byte row padding, bottom-up rows,
    // B,G,R channel order) whose pixel (x,y) is a closed-form function
    // of (doc_id, x, y) with per-channel offsets — so DuckDB recomputes
    // dimensions, per-channel means AND the top-left pixel analytically
    // with no codec. The corner pixel is the order-sensitive probe: a
    // decoder that skips the vertical flip, miscomputes the row stride,
    // or swaps R/B lands on different values while the means still
    // pass. Encode is fixture construction; DECODE is the operator
    // under test — a bug in either flips the row red.
    "q201_bmp_decode" -> ((s, d) => {
      import s.implicits._
      val media = spreadIfNarrow(
          table(s, d, "documents")
            .filter(pmod(col("doc_id"), lit(29)) === 3)
            .select(col("doc_id")), col("doc_id"))
        .as[Long]
        .map { n =>
          val w = (4 + n % 5).toInt
          val h = (3 + n % 4).toInt
          Multimodal.MediaIn(n, Multimodal.encodeBmp(w, h, (x, y) => (
            ((n + x + y) % 256).toInt,
            ((n + y + 7) % 256).toInt,
            ((n + x + 13) % 256).toInt)))
        }
      Multimodal.decodeBmpBatched(media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("tl_r"), col("tl_g"), col("tl_b"))
        .orderBy(col("media_id"))
    }),

    // REAL lossy-codec decode (r7): JPEG — THE production image format
    // — through the batched path; the JDK reader runs actual inverse
    // DCT + chroma upsampling. JPEG is lossy, so the oracle is a
    // TOLERANCE CONTRACT (q44's recall-contract stance): dimensions
    // must match exactly, decoded channel means must land within ±8 of
    // the closed-form gradient's analytic means, the top-left pixel
    // within ±24 per channel — booleans pinned TRUE on both engines.
    // The gradient fixture is smooth (low-frequency) on purpose: it's
    // the signal class JPEG preserves, so the bounds are tight without
    // being brittle across JDK encoder versions.
    "q327_jpeg_decode" -> ((s, d) => {
      import s.implicits._
      val media = spreadIfNarrow(
          table(s, d, "documents")
            .filter(pmod(col("doc_id"), lit(41)) === 6)
            .select(col("doc_id")), col("doc_id"))
        .as[Long]
        .map { n =>
          val w = (8 + n % 5).toInt
          val h = (6 + n % 4).toInt
          Multimodal.MediaIn(n, Multimodal.encodeJpeg(w, h, (x, y) => (
            100 + x * 3 + y * 2 + (n % 16).toInt,
            80 + x * 2,
            120 + y * 3)))
        }
      val out = Multimodal.decodeJpegBatched(media).toDF()
      val er = lit(100.0) + lit(1.5) * (col("width") - 1) +
        (col("height") - 1).cast("double") +
        pmod(col("media_id"), lit(16)).cast("double")
      val eg = lit(80.0) + (col("width") - 1).cast("double")
      val eb = lit(120.0) + lit(1.5) * (col("height") - 1)
      out.select(col("media_id"), col("width"), col("height"),
          (abs(col("mean_r") - er) <= 8.0).as("mean_r_ok"),
          (abs(col("mean_g") - eg) <= 8.0).as("mean_g_ok"),
          (abs(col("mean_b") - eb) <= 8.0).as("mean_b_ok"),
          (abs(col("tl_r") - (lit(100) + pmod(col("media_id"), lit(16))))
            <= 24 &&
           abs(col("tl_g") - 80) <= 24 &&
           abs(col("tl_b") - 120) <= 24).as("tl_ok"))
        .orderBy(col("media_id"))
    }),

    // Graph ANN (HNSW-class): beam search over the q187 mutual-kNN
    // proximity graph — entry points are a deterministic hash-uniform
    // seed set; each hop expands the per-query beam one adjacency join
    // deep, so probe work is O(queries·beam·degree) per hop and never
    // scans the corpus. CONTRACT-ORACLE form (q44's construction): the
    // graph/beam are hash-derived, so the oracle pins the in-job
    // accuracy contract vs bruteTopK — aggregate recall over the query
    // set + self-exclusion.
    "q210_graph_ann_beam" -> ((s, d) => {
      import s.implicits._
      val emb = table(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = spreadIfNarrow(emb, col("vec_id"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val graph = annGraph(s, d)
      val seeds = Similarity.lshSeedCandidates(qs, corpus)
        .unionByName(Similarity.uniformSeedCandidates(qs, corpus))
      val beamed = Similarity.graphBeamTopK(qs, corpus, graph, seeds,
          k = 3, beam = 8, hops = 3)
        .select(col("qid"), col("nid"), lit(1L).as("__l"))
      val brute = Similarity.bruteTopK(qs, corpus, 3)
        .select(col("qid"), col("nid"), lit(1L).as("__b"))
      val r = beamed.join(brute, Seq("qid", "nid"), "full_outer")
        .agg(sum(col("__b")).as("nb"), sum(col("__l") * col("__b")).as("nh"),
          sum(when(col("__l") === 1L && col("qid") === col("nid"), 1L)
            .otherwise(0L)).as("ns"))
        .head()
      val (nBrute, nHit, nSelf) = (r.getLong(0), r.getLong(1), r.getLong(2))
      // measured recall 0.87-0.97 across sf0.001/0.01/0.1 (flat in corpus
      // size — the LSH-seeded property); threshold pinned 1.7x under worst
      Seq((qs.count(), 3, nHit.toDouble / nBrute >= 0.5, nSelf == 0L))
        .toDF("n_queries", "k", "recall_ok", "no_self_ok")
    }),

    // REAL audio decode (q201's counterpart for the audio modality):
    // 16-bit mono PCM WAV through the batched mapPartitions path. The
    // fixture encoder inserts an odd-sized junk chunk between fmt and
    // data, so the decoder MUST walk RIFF chunks (with word-alignment
    // padding) rather than assume samples at byte 44 — `first_s` is the
    // probe that flips red if it doesn't. Samples are a closed-form
    // function of (doc_id, t), so DuckDB recomputes rate, exact integer
    // moments, peak and the first sample analytically with no codec.
    "q209_wav_decode" -> ((s, d) => {
      import s.implicits._
      val media = spreadIfNarrow(
          table(s, d, "documents")
            .filter(pmod(col("doc_id"), lit(31)) === 4)
            .select(col("doc_id")), col("doc_id"))
        .as[Long]
        .map { n =>
          val ns = (50 + n % 64).toInt
          Multimodal.MediaIn(n, Multimodal.encodeWav(8000, ns,
            t => (((n * 37 + t.toLong * t * 11) % 4001) - 2000).toInt))
        }
      Multimodal.decodeWavBatched(media).toDF().orderBy(col("media_id"))
    }),

    // REAL compressed-AUDIO decode (r8): FLAC through the batched
    // mapPartitions path — the boundary the r7 verdict flagged (the
    // JDK ships image codecs but NO compressed-audio codec, and the
    // no-new-deps rule holds), closed by implementing the FIXED-
    // prediction FLAC subset from the public format in ext/Flac.scala:
    // metadata walk past a PADDING block, frame sync + CRC-8/CRC-16
    // verification, UTF-8 frame indices, rice partitions. Multi-frame
    // fixture (block size 256, ~2 frames per doc) with samples a
    // closed form of (doc_id, t) — FLAC is LOSSLESS, so unlike q327's
    // JPEG tolerance contract every output moment is EXACT and DuckDB
    // recomputes it analytically with no codec. MP3/AAC/video remain
    // out of scope (patent-era formats with no JDK codec and no
    // tractable zero-dep subset) — the SURVEY §8 boundary row.
    "q335_flac_decode" -> ((s, d) => {
      import s.implicits._
      val media = spreadIfNarrow(
          table(s, d, "documents")
            .filter(pmod(col("doc_id"), lit(41)) === 6)
            .select(col("doc_id")), col("doc_id"))
        .as[Long]
        .map { n =>
          val ns = (300 + n % 128).toInt
          // alternate encodings: even docs FIXED, odd docs LPC
          // (Levinson–Durbin order 4) — both lossless, so ONE oracle
          // pins that the two subframe families decode identically
          Multimodal.MediaIn(n, graft.ext.Flac.encodeFlac(16000, ns,
            t => (((n * 53 + t.toLong * t * 13) % 3001) - 1500).toInt,
            useLpc = n % 2 == 1))
        }
      graft.ext.Flac.decodeFlacBatched(media).toDF()
        .orderBy(col("media_id"))
    }),

    // REAL compressed-image decode (r7): PNG through the batched
    // mapPartitions path — the JDK's ImageIO does actual zlib inflate +
    // scanline defiltering, so unlike q201's hand-walked BMP this pins
    // the library-backed codec seam a production corpus needs. Fixture:
    // every 37th doc becomes a real PNG (IHDR/IDAT, deflate) whose
    // pixel (x,y) is a closed-form function of (doc_id, x, y); DuckDB
    // recomputes dimensions, per-channel means and the top-left pixel
    // analytically with no codec. The corner pixel stays the
    // order-sensitive probe (x/y swap or channel swap flips it while
    // means can collide).
    "q315_png_decode" -> ((s, d) => {
      import s.implicits._
      val media = spreadIfNarrow(
          table(s, d, "documents")
            .filter(pmod(col("doc_id"), lit(37)) === 5)
            .select(col("doc_id")), col("doc_id"))
        .as[Long]
        .map { n =>
          val w = (5 + n % 4).toInt
          val h = (4 + n % 3).toInt
          Multimodal.MediaIn(n, Multimodal.encodePng(w, h, (x, y) => (
            ((n + x + 2 * y) % 256).toInt,
            ((n + 2 * x + 5) % 256).toInt,
            ((n + y + 11) % 256).toInt)))
        }
      Multimodal.decodePngBatched(media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("tl_r"), col("tl_g"), col("tl_b"))
        .orderBy(col("media_id"))
    }),

    // REAL codec #6 (r9): GIF through the batched media seam — the
    // first codec whose DECOMPRESSOR is from scratch (variable-width
    // LZW with clear-code resets and the k-omega case) while the
    // fixture bytes come from an EXTERNAL encoder (the JDK GIF writer
    // over an exact indexed palette, lossless) — so unlike a
    // self-paired codec, a decoder bug cannot cancel against an
    // encoder bug. Lossless palette round-trip ⇒ EXACT oracle on the
    // formula pixels (q315's contract class, not JPEG's tolerance).
    "q349_gif_decode" -> ((s, d) => {
      import s.implicits._
      val media = spreadIfNarrow(
          table(s, d, "documents")
            .filter(pmod(col("doc_id"), lit(43)) === 9)
            .select(col("doc_id")), col("doc_id"))
        .as[Long]
        .map { n =>
          val w = (6 + n % 4).toInt
          val h = (5 + n % 3).toInt
          Multimodal.MediaIn(n, Multimodal.encodeGif(w, h, (x, y) => (
            ((n + 3 * x + y) % 256).toInt,
            ((n + x + 4 * y + 7) % 256).toInt,
            ((n + 2 * x + 2 * y + 3) % 256).toInt)))
        }
      Multimodal.decodeGifBatched(media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("tl_r"), col("tl_g"), col("tl_b"))
        .orderBy(col("media_id"))
    }),

    // Animated-GIF frame sampling (r9 — the video-adjacent path gets a
    // REAL codec): each payload is a multi-frame GIF from the JDK
    // sequence writer (per-frame exact palettes, lossless); the
    // sampler decodes every 2nd frame and LENGTH-WALKS the rest (no
    // LZW work for unsampled frames — sampling 1-in-k pays 1/k of the
    // decode cost, the property that matters when the payload is a
    // 10k-frame video). One output row per sampled frame; exact
    // formula oracle over the sampled frame indices.
    "q353_gif_frame_sample" -> ((s, d) => {
      import s.implicits._
      val media = spreadIfNarrow(
          table(s, d, "documents")
            .filter(pmod(col("doc_id"), lit(47)) === 11)
            .select(col("doc_id")), col("doc_id"))
        .as[Long]
        .map { n =>
          val w = (5 + n % 3).toInt
          val h = (4 + n % 2).toInt
          val nf = (4 + n % 3).toInt
          Multimodal.MediaIn(n, Multimodal.encodeAnimatedGif(w, h, nf,
            f => (x, y) => (
              ((n + 7 * f + x + 2 * y) % 256).toInt,
              ((n + 3 * f + 2 * x + y + 5) % 256).toInt,
              ((n + 11 * f + x + 3 * y + 9) % 256).toInt)))
        }
      Multimodal.sampleGifFramesBatched(media, sampleEvery = 2).toDF()
        .select(col("media_id"), col("frame"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("tl_r"), col("tl_g"), col("tl_b"))
        .orderBy(col("media_id"), col("frame"))
    }),

    // GCE-aware animation composition (r9 — completes q353's GIF
    // animation model): frames are PARTIAL rectangles composited onto
    // a persistent canvas under Graphic-Control-Extension disposal
    // semantics (the fixture uses method 1, leave-in-place; method 2
    // restore-to-background is spec-pinned; method 3 is q357's,
    // transparency q365's). The fixture bytes come from the hand-rolled
    // GIF89a
    // writer (uncompressed-LZW literal coding — the JDK sequence
    // writer cannot author partial frames), whose validity the spec
    // anchors against the JDK READER. Unlike q353, EVERY frame must be
    // LZW-decoded — composition is a running fold over the canvas,
    // the same reason video codecs need keyframes — so sampling
    // selects emitted SNAPSHOTS, not decoded frames. The oracle
    // replays the composition arithmetically: each canvas pixel at
    // sampled frame f shows the LATEST frame g <= f whose rect covers
    // it.
    "q355_gif_composition" -> ((s, d) => {
      import s.implicits._
      val media = spreadIfNarrow(
          table(s, d, "documents")
            .filter(pmod(col("doc_id"), lit(53)) === 13)
            .select(col("doc_id")), col("doc_id"))
        .as[Long]
        .map { n =>
          val W = 7; val H = 5
          val nf = (4 + n % 3).toInt
          def colOf(g: Int, x: Int, y: Int): (Int, Int, Int) = (
            ((n + 5 * g + x + 2 * y) % 256).toInt,
            ((n + 7 * g + 2 * x + y + 3) % 256).toInt,
            ((n + 11 * g + x + 3 * y + 6) % 256).toInt)
          def rect(g: Int): (Int, Int, Int, Int) =
            if (g == 0) (0, 0, W, H)
            else (((n + 2 * g) % 5).toInt, ((n + g) % 4).toInt, 3, 2)
          val allColors = (0 until nf).flatMap { g =>
            val (l, t, w, h) = rect(g)
            for (yy <- t until t + h; xx <- l until l + w)
              yield colOf(g, xx, yy)
          }.distinct
          val pi = allColors.zipWithIndex.toMap
          val frames = (0 until nf).map { g =>
            val (l, t, w, h) = rect(g)
            val idx = (for (yy <- t until t + h; xx <- l until l + w)
              yield pi(colOf(g, xx, yy)).toByte).toArray
            Multimodal.GifRawFrame(l, t, w, h, disposal = 1, idx)
          }
          Multimodal.MediaIn(n,
            Multimodal.encodeGifComposed(W, H, allColors, frames))
        }
      Multimodal.sampleGifCompositedBatched(media, sampleEvery = 2).toDF()
        .select(col("media_id"), col("frame"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("tl_r"), col("tl_g"), col("tl_b"))
        .orderBy(col("media_id"), col("frame"))
    }),

    // Restore-to-previous disposal (r9 — q355's remaining GCE method):
    // frames with disposal 3 are TRANSIENT overlays — displayed at
    // their own tick, then the canvas reverts to its pre-frame state
    // (one saved canvas copy, bounded memory). The fixture mixes
    // methods: every third frame (g ≥ 1, g % 3 = 2) is a d3 overlay,
    // the rest persist — so the oracle's visibility rule is "latest
    // covering NON-TRANSIENT frame g ≤ f, except f itself counts even
    // if transient", replayed arithmetically per canvas pixel.
    "q357_gif_restore_previous" -> ((s, d) => {
      import s.implicits._
      val media = spreadIfNarrow(
          table(s, d, "documents")
            .filter(pmod(col("doc_id"), lit(59)) === 17)
            .select(col("doc_id")), col("doc_id"))
        .as[Long]
        .map { n =>
          val W = 7; val H = 5
          val nf = (4 + n % 3).toInt
          def colOf(g: Int, x: Int, y: Int): (Int, Int, Int) = (
            ((n + 5 * g + x + 2 * y) % 256).toInt,
            ((n + 7 * g + 2 * x + y + 3) % 256).toInt,
            ((n + 11 * g + x + 3 * y + 6) % 256).toInt)
          def rect(g: Int): (Int, Int, Int, Int) =
            if (g == 0) (0, 0, W, H)
            else (((n + 2 * g) % 5).toInt, ((n + g) % 4).toInt, 3, 2)
          val allColors = (0 until nf).flatMap { g =>
            val (l, t, w, h) = rect(g)
            for (yy <- t until t + h; xx <- l until l + w)
              yield colOf(g, xx, yy)
          }.distinct
          val pi = allColors.zipWithIndex.toMap
          val frames = (0 until nf).map { g =>
            val (l, t, w, h) = rect(g)
            val idx = (for (yy <- t until t + h; xx <- l until l + w)
              yield pi(colOf(g, xx, yy)).toByte).toArray
            val disposal = if (g >= 1 && g % 3 == 2) 3 else 1
            Multimodal.GifRawFrame(l, t, w, h, disposal, idx)
          }
          Multimodal.MediaIn(n,
            Multimodal.encodeGifComposed(W, H, allColors, frames))
        }
      Multimodal.sampleGifCompositedBatched(media, sampleEvery = 1).toDF()
        .select(col("media_id"), col("frame"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("tl_r"), col("tl_g"), col("tl_b"))
        .orderBy(col("media_id"), col("frame"))
    }),

    // GCE transparency compositing (r11, VERDICT-r10 #7 — the one loud
    // fail left in the animation model): frames g ≥ 1 carry a
    // transparent palette index; flagged pixels PASS THROUGH, leaving
    // the canvas pixel from the latest earlier frame visible — the
    // sprite-overlay shape real animated GIFs use. The fixture makes a
    // deterministic ~1/3 of each partial frame's pixels transparent,
    // so every canvas pixel mixes paint generations within one frame
    // rect; the oracle replays visibility per pixel: latest g ≤ f that
    // covers the pixel AND is opaque there (g = 0 is full-screen
    // opaque, so visibility is total). Compositor fuzz (MultimodalSpec)
    // cross-checks whole canvases against the JDK reader's
    // alpha-channel ground truth under random transparency.
    "q365_gif_transparency" -> ((s, d) => {
      import s.implicits._
      val media = spreadIfNarrow(
          table(s, d, "documents")
            .filter(pmod(col("doc_id"), lit(61)) === 19)
            .select(col("doc_id")), col("doc_id"))
        .as[Long]
        .map { n =>
          val W = 7; val H = 5
          val nf = (4 + n % 3).toInt
          def colOf(g: Int, x: Int, y: Int): (Int, Int, Int) = (
            ((n + 5 * g + x + 2 * y) % 256).toInt,
            ((n + 7 * g + 2 * x + y + 3) % 256).toInt,
            ((n + 11 * g + x + 3 * y + 6) % 256).toInt)
          def rect(g: Int): (Int, Int, Int, Int) =
            if (g == 0) (0, 0, W, H)
            else (((n + 2 * g) % 5).toInt, ((n + g) % 4).toInt, 3, 2)
          def transparent(g: Int, x: Int, y: Int): Boolean =
            g >= 1 && (n + g + x + 2 * y) % 3 == 0
          val allColors = (0 until nf).flatMap { g =>
            val (l, t, w, h) = rect(g)
            for (yy <- t until t + h; xx <- l until l + w
                 if !transparent(g, xx, yy))
              yield colOf(g, xx, yy)
          }.distinct
          val pi = allColors.zipWithIndex.toMap
          val ti = allColors.size // the reserved transparent slot
          val frames = (0 until nf).map { g =>
            val (l, t, w, h) = rect(g)
            val idx = (for (yy <- t until t + h; xx <- l until l + w)
              yield (if (transparent(g, xx, yy)) ti
                     else pi(colOf(g, xx, yy))).toByte).toArray
            Multimodal.GifRawFrame(l, t, w, h, disposal = 1, idx,
              transparentIndex = if (g >= 1) ti else -1)
          }
          Multimodal.MediaIn(n, Multimodal.encodeGifComposed(
            W, H, allColors :+ ((0, 0, 0)), frames))
        }
      Multimodal.sampleGifCompositedBatched(media, sampleEvery = 1).toDF()
        .select(col("media_id"), col("frame"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("tl_r"), col("tl_g"), col("tl_b"))
        .orderBy(col("media_id"), col("frame"))
    }),

    // Two-stage retrieve-then-rerank (r7) — the production retrieval
    // shape: a CHEAP blocked candidate generator (4-bit hyperplane-sign
    // bucket equi-join — q161's blocking, zero all-pairs work) feeding
    // an EXPENSIVE exact-cosine reranker over only the candidates, then
    // top-2 per query on the ROUNDED score (round-6 before ranking, id
    // tie-break — fully deterministic). At 100 TB the stage-1 join is
    // the only corpus-wide touch and it's keyed on the bucket; rerank
    // cost is O(candidates), independent of corpus size. Oracle replays
    // both stages in SQL (q161's coordinate-join dot products).
    "q318_rerank" -> ((s, d) => {
      graft.expr.GraftFunctions.register(s)
      val signBits = 4
      def bucket(c: org.apache.spark.sql.Column) = (0 until signBits)
        .map(b => when(element_at(c, b + 1) >= 0,
          lit(1 << (signBits - 1 - b))).otherwise(lit(0)))
        .reduce(_ + _)
      val corpus = spreadIfNarrow(table(s, d, "embeddings"), col("vec_id"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          bucket(col("embedding")).as("bk"))
      val qs = corpus.filter(col("id") < 30)
        .select(col("id").as("qid"), col("vec").as("qvec"), col("bk"))
      val cand = corpus.join(broadcast(qs), Seq("bk"))
        .filter(col("id") =!= col("qid"))
        .withColumn("cos6",
          round(Similarity.cosineNative(col("qvec"), col("vec")), 6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos6").desc, col("id"))
      cand.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 2)
        .select(col("qid"), col("rk"), col("id"),
          graft.Graft.roundz(col("cos6"), 6).as("cos6"))
        .orderBy(col("qid"), col("rk"))
    }),

    // Int8 embedding quantization with exact reconstruction-error
    // audit: scale, L1 mass of the quantized vector, and worst-case
    // per-element error — the compression step before a 100 TB ANN
    // index. Pure narrow math (codegen'd HOFs, round-half-up), so
    // DuckDB recomputes every value from the same floats.
    "q79_embedding_quantize" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      emb.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("qz", Similarity.quantizeInt8(col("v")))
        .select(col("vec_id"),
          round(col("qz.scale"), 6).as("scale_r"),
          aggregate(col("qz.q"), lit(0L), (a, x) => a + abs(x)).as("l1"),
          round(array_max(
            Similarity.dequantError(col("v"), col("qz.q"), col("qz.scale"))),
            6).as("max_err"))
        .orderBy(col("vec_id"))
    }),

    // Approximate top-3 via multi-probe random-hyperplane LSH (each
    // query scans buckets within hamming 3 of its sign pattern — ~36%
    // of the corpus; the fixture embeddings have weak neighbor
    // structure, avg top-3 cos ≈ 0.37, so tighter probing is
    // legitimately blind here — measured recall 0.59-0.70 at h=3
    // across SFs, threshold pinned >2x under). CONTRACT-ORACLE form (same construction
    // as q44): bucket membership is xxhash64-derived, so the oracle
    // pins the accuracy contract computed in-job vs bruteTopK —
    // aggregate recall over the query set (per-query probe recall is
    // stochastic by design), plus the self-exclusion invariant.
    "q41_ann_lsh" -> ((s, d) => {
      import s.implicits._
      val emb = table(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = spreadIfNarrow(emb, col("vec_id"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val lsh = Similarity.lshTopK(qs, corpus, 3, nPlanes = 8, maxProbeHamming = 3)
        .select(col("qid"), col("nid"), lit(1L).as("__l"))
      val brute = Similarity.bruteTopK(qs, corpus, 3)
        .select(col("qid"), col("nid"), lit(1L).as("__b"))
      // ONE job for all three contract counts (each leg executes once)
      val r = lsh.join(brute, Seq("qid", "nid"), "full_outer")
        .agg(sum(col("__b")).as("nb"), sum(col("__l") * col("__b")).as("nh"),
          sum(when(col("__l") === 1L && col("qid") === col("nid"), 1L)
            .otherwise(0L)).as("ns"))
        .head()
      val (nBrute, nHit, nSelf) = (r.getLong(0), r.getLong(1), r.getLong(2))
      Seq((qs.count(), 3, nHit.toDouble / nBrute >= 0.25, nSelf == 0L))
        .toDF("n_queries", "k", "recall_ok", "no_self_ok")
    }),

    // Product-quantization ANN (graft.ext.Similarity.pqTopKRerank +
    // native PqEncode/PqAdcDistance): the MEMORY-side ANN scale path —
    // corpus encoded once into m=8 codes (32× less scan volume than
    // float32), ADC shortlist over the codes, then exact re-rank of
    // ONLY the shortlisted vectors (broadcast — no corpus shuffle).
    // Codebook trained driver-side on an id-ordered sample (the IVF
    // split). Contract: recall@10 vs in-job brute force ≥ threshold +
    // no self matches, all counts from ONE fused job.
    "q107_ann_pq" -> ((s, d) => {
      import s.implicits._
      val emb = table(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = spreadIfNarrow(emb, col("vec_id"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val train = emb.filter(col("vec_id") < 256).orderBy(col("vec_id"))
        .select(col("embedding")).collect().map(_.getSeq[Float](0)).toSeq
      val cb = Similarity.pqTrain(train, m = 8, k = 16)
      val pq = Similarity.pqTopKRerank(qs, corpus, 10, shortlist = 100, cb)
        .select(col("qid"), col("nid"), lit(1L).as("__l"))
      val brute = Similarity.bruteTopK(qs, corpus, 10)
        .select(col("qid"), col("nid"), lit(1L).as("__b"))
      val r = pq.join(brute, Seq("qid", "nid"), "full_outer")
        .agg(sum(col("__b")).as("nb"), sum(col("__l") * col("__b")).as("nh"),
          sum(when(col("__l") === 1L && col("qid") === col("nid"), 1L)
            .otherwise(0L)).as("ns"))
        .head()
      val (nBrute, nHit, nSelf) = (r.getLong(0), r.getLong(1), r.getLong(2))
      Seq((qs.count(), 10, nHit.toDouble / nBrute >= 0.4, nSelf == 0L))
        .toDF("n_queries", "k", "recall_ok", "no_self_ok")
    }),

    // Incremental (delta) dedup — the daily-ingest screen: a synthetic
    // new batch (exact copies, one-token-appended near copies, and
    // token-reversed fresh docs) classified against the full corpus.
    // Cascade: 32-byte-hash semi join first, survivors into the q38
    // inverted-index Jaccard screen. Statuses are engine-portable
    // (normalized sha + string-shingle Jaccard), so DuckDB re-derives
    // every classification independently.
    "q108_delta_dedup" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val exactCopies = docs.filter(pmod(col("doc_id"), lit(21)) === 5)
        .withColumn("doc_id", col("doc_id") + 500000L)
      val nearCopies = docs.filter(pmod(col("doc_id"), lit(17)) === 3)
        .withColumn("doc_id", col("doc_id") + 600000L)
        .withColumn("text", concat(col("text"), lit(" zzzz")))
      val fresh = docs.filter(pmod(col("doc_id"), lit(13)) === 1)
        .withColumn("doc_id", col("doc_id") + 700000L)
        .withColumn("text",
          array_join(reverse(split(col("text"), " ")), " "))
      val newBatch = spreadIfNarrow(
        exactCopies.unionByName(nearCopies).unionByName(fresh),
        col("doc_id"))
      NearDup.deltaDedup(newBatch, docs, "doc_id", "text", tau = 0.5)
        .orderBy(col("doc_id"))
    }),

    // Hybrid retrieval: metadata-filtered vector search (the RAG shape) —
    // corpus restricted to English documents via a doc_id=vec_id join
    // BEFORE the similarity scan, then exact cosine top-3 per query.
    // At scale the lang predicate prunes the corpus ahead of any
    // distance math; the filter composes with the IVF/LSH paths the same
    // way.
    "q47_hybrid_search" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val en = table(s, d, "documents").filter(col("lang") === "en")
        .select(col("doc_id"))
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = spreadIfNarrow(
        emb.join(en, col("vec_id") === col("doc_id")), col("vec_id"))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.bruteTopK(qs, corpus, 3).orderBy(col("qid"), col("rank"))
    }),

    // Per-label embedding stats (norms in deterministic double math).
    "q42_embedding_stats" -> ((s, d) => {
      table(s, d, "embeddings")
        .select(col("label").cast("long").as("label"),
          Similarity.norm(col("embedding")).as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), round(avg(col("nrm")), 4).as("avg_norm"))
        .orderBy(col("label"))
    }),

    // Multimodal plumbing over synthetic binary payloads (documents text
    // bytes as stand-in media; decode/resize/features are deterministic
    // stubs — see graft.ext.Multimodal). Oracle-checked since the stubs
    // moved to header-parse math (the q91 trick): with ASCII payloads
    // every output value is plain `ascii(substr(...))` arithmetic DuckDB
    // recomputes independently — decode dims, the 512-cap resize, the
    // byte-derived f0 feature, the frame count. Batch-shape/partitioning
    // semantics remain pinned in MultimodalSpec.
    "q51_multimodal" -> ((s, d) => {
      val media = spreadIfNarrow(table(s, d, "documents"), col("doc_id"))
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes"),
          concat(lit("text/plain;src="), col("source")).as("mtype"))
      graft.ext.Multimodal.enrich(media, "doc_id", "bytes", "mtype")
        .select(col("media_id"), col("media_type"),
          col("resized.width").as("width"), col("resized.height").as("height"),
          col("decoded.n_bytes").as("n_bytes"),
          element_at(col("features"), 1).as("f0"),
          size(col("frames")).cast("long").as("n_frames"))
        .orderBy(col("media_id"))
    }),

    // The reference dataflow end-to-end on built-in wire fixtures
    // (SURVEY.md §7.2 minimum slice; golden parity in Active911Spec).
    // Oracle-checked on the non-tz columns: DuckDB RE-DERIVES the id
    // prefixing, JS-Number coordinate fix/fallback/drop, and the exact
    // remarks template from the fixture alert FIELDS (transcribed as
    // VALUES — the JSONP/base64/CSV framing is not SQL-expressible and
    // is spec-pinned instead). `start` and `links` need the tz-abbrev
    // parse (no ICU in offline DuckDB) — byte-pinned by the golden
    // FeatureCollection in Active911Spec and exercised end-to-end by
    // the streaming entry q53.
    "q50_active911_features" -> ((s, d) => {
      import s.implicits._
      val env = Fixtures.envelopes.toDF("agency_id", "raw")
      // `geometry` read once: read twice, its non-cheap `array` keeps the
      // optimizer from inlining the Feature projection, and the links and
      // `start` q50 never reads are computed
      Active911.pipeline(env)
        .select(col("id"), col("type"),
          col("properties.callsign").as("callsign"),
          col("geometry.coordinates").as("coordinates"),
          col("properties.remarks").as("remarks"))
        .select(col("id"), col("type"), col("callsign"),
          element_at(col("coordinates"), 1).as("lon"),
          element_at(col("coordinates"), 2).as("lat"),
          col("remarks"))
        .orderBy(col("id"))
    }),

    // Spatial grid aggregation over the pipeline's GeoJSON output:
    // alert density per 0.5° cell — the map-tile rollup a CloudTAK
    // consumer renders, and THE spatial scale pattern (grid keys are
    // plain integer math → an equi-keyed hash aggregate; no spatial
    // index needed for density rollups). Oracle re-derives the features
    // independently and re-bins them.
    "q122_geo_grid" -> ((s, d) => {
      import s.implicits._
      val env = Fixtures.envelopes.toDF("agency_id", "raw")
      Active911.pipeline(env)
        .select(col("id"),
          element_at(col("geometry.coordinates"), 1).as("lon"),
          element_at(col("geometry.coordinates"), 2).as("lat"))
        .groupBy(floor(col("lon") / 0.5).cast("long").as("cell_lon"),
          floor(col("lat") / 0.5).cast("long").as("cell_lat"))
        .agg(count(lit(1)).as("n_alerts"), min(col("id")).as("first_id"))
        .orderBy(col("cell_lon"), col("cell_lat"))
    }),

    // k-center greedy coreset selection (Gonzalez farthest-first) over
    // embeddings — the geometric data-PRUNING primitive: k rounds, each
    // picking the point farthest (cosine distance, rounded 6 dp before
    // the argmax so the ladder is engine-replayable, ties → min vec_id)
    // from the already-selected set. Scale shape = q153's kmeans loop:
    // the selected set is O(k·dim) driver-side model material inlined
    // as literals, so every round is ONE narrow scan computing
    // least(dist-to-center₁..ᵣ) + a top-1 — no join, no all-pairs;
    // radius6 (the max min-distance among unselected = the (k+1)-th
    // Gonzalez value, the classic 2-approx coverage certificate) is one
    // more narrow pass. The oracle replays the identical ladder from an
    // all-pairs distance CTE — the O(n²) spelling that is exactly what
    // this operator exists to avoid at 100 TB.
    "q312_kcenter_coreset" -> ((s, d) => {
      import s.implicits._
      graft.expr.GraftFunctions.register(s)
      val k = 6
      val emb = table(s, d, "embeddings")
        .filter(aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x) > 0)
        .select(col("vec_id"), col("embedding"))
        .localCheckpoint(true) // k+1 selection/radius passes share one scan
      def vecOf(id: Long): Seq[Float] =
        emb.filter(col("vec_id") === id).head().getSeq[Float](1)
      val seed = emb.agg(min(col("vec_id"))).head().getLong(0)
      var selIds = Vector(seed)
      var selVecs = Vector(vecOf(seed))
      var rows = Vector((1L, seed, Option.empty[Double]))
      def minDist: org.apache.spark.sql.Column = {
        val ds = selVecs.map(v => round(lit(1.0) -
          Similarity.cosineNative(col("embedding"), typedlit(v)), 6))
        if (ds.size == 1) ds.head else least(ds: _*)
      }
      for (r <- 2L to k) {
        val pick = emb.filter(!col("vec_id").isin(selIds: _*))
          .select(col("vec_id"), minDist.as("dd"))
          .orderBy(col("dd").desc, col("vec_id")).limit(1).head()
        // + 0.0 = the roundz signed-zero normalization, driver-side
        val (id, dd) = (pick.getLong(0), pick.getDouble(1) + 0.0)
        selIds :+= id; selVecs :+= vecOf(id)
        rows :+= ((r, id, Some(dd)))
      }
      val radius = emb.filter(!col("vec_id").isin(selIds: _*))
        .agg(max(minDist)).head().getDouble(0) + 0.0
      rows.map { case (r, id, dd) => (r, id, dd, radius) }
        .toDF("sel_round", "vec_id", "dist6", "radius6")
        .orderBy(col("sel_round"))
    }))

  /** Staged ANN navigation graph (r9, ops.Staged's second adopter —
    * VERDICT-r8 #7): q210, q331, and q338 all consume the SAME
    * deterministic kNN graph (LSH pair generation at tau=0.2,
    * nPlanes=24, bandBits=3 → directed k=6 neighbor lists), each
    * paying the banded self-join + window rebuild per run. Staged like
    * the co-purchase edges: built once per (code version, input
    * fingerprint), published atomically, read back as a columnar scan.
    * Determinism: the pair relation is hash-derived (no sampling), the
    * per-node rank is totally ordered by (cos6 desc, nb), and
    * duplicate band hits are identical rows — so the staged parquet is
    * bit-equal to the fresh plan (pinned by StagedSpec). Bump the
    * version on ANY edit to [[buildAnnGraph]] (the ADVICE-r8 staleness
    * rule).
    */
  private[graft] val AnnGraphVersion = "v1"
  private[graft] def annGraphDeps(d: String): Seq[String] =
    Seq(s"$d/embeddings.parquet")
  private[graft] def annGraphStagePath(d: String): java.nio.file.Path =
    graft.ops.Staged.stagePath("ann_knn_graph", AnnGraphVersion,
      annGraphDeps(d))
  private[graft] def annGraph(s: SparkSession, d: String): DataFrame =
    graft.ops.Staged.relation(s, "ann_knn_graph", AnnGraphVersion,
        annGraphDeps(d))(buildAnnGraph(s, d))
      .select(col("id"), col("nb"))

  /** The un-staged graph plan (also StagedSpec's reference). */
  private[graft] def buildAnnGraph(s: SparkSession, d: String): DataFrame = {
    val corpus = spreadIfNarrow(table(s, d, "embeddings"), col("vec_id"))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.knnGraphFromPairs(
      Similarity.lshNearDupPairs(corpus, tau = 0.2,
        nPlanes = 24, bandBits = 3), k = 6)
  }

  /** JS `Number(x)` semantics in DuckDB SQL (''→0, numeric-shape cast,
    * otherwise NaN) — mirrors [[graft.ops.Active911.jsNumber]].
    */
  private def jsnumSql(x: String): String =
    s"""CASE WHEN trim($x) = '' THEN 0.0
        WHEN regexp_matches(trim($x), '^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$$')
          THEN CAST(trim($x) AS DOUBLE)
        ELSE CAST('nan' AS DOUBLE) END"""

  /** The q50/q53 oracle: the feature assembly re-derived in SQL from the
    * fixture alert FIELDS (Fixtures.agency101Csv/agency102Csv transcribed
    * as VALUES; agency 103 is the API-error envelope and never reaches
    * the feature output) — JS Number() semantics, the zero-coordinate
    * predicate, the lat-first place fallback with silent drop
    * (task.ts:172-184), id prefixing (task.ts:215), and the exact remarks
    * whitespace template (task.ts:221-225). The JSONP/base64/CSV framing
    * is not SQL-expressible and is spec-pinned instead; q53's dedup of
    * the redelivered batch must collapse to these same rows.
    */
  val active911FeaturesOracle: String =
    s"""WITH alerts(id, description, lat, lon, place, units, source, details) AS (VALUES
         ('9001','Structure Fire','39.7392','-104.9903','Station 4','E4 L2','CAD','Two story residential'),
         ('9002','MVA','40.0150','-105.2705','','M1','Dispatch','Highway 36 at exit 12'),
         ('9003','Medical','21.3069','-157.8583','','A7','CAD','Chest pain'),
         ('9101','Grass Fire','0','0','41.8781,-87.6298','B2','CAD','North field'),
         ('9102','Alarm','','','48.8566, 2.3522, Paris','E9','Panel','Panel zone 3'),
         ('9103','Dropped Alert','0','-122.4','Corner of 5th and Main','E1','CAD','No usable location')),
       n AS (
         SELECT *, ${jsnumSql("lat")} AS lat_n, ${jsnumSql("lon")} AS lon_n,
                string_split(trim(place), ',') AS pp
         FROM alerts),
       c AS (
         SELECT *, (lon_n = 0 OR lat_n = 0) AS needfix,
                ${jsnumSql("pp[1]")} AS p1,
                CASE WHEN len(pp) >= 2 THEN ${jsnumSql("pp[2]")} END AS p2
         FROM n)
       SELECT 'active911-' || id AS id, 'Feature' AS "type",
         description AS callsign,
         CASE WHEN needfix THEN p2 ELSE lon_n END AS lon,
         CASE WHEN needfix THEN p1 ELSE lat_n END AS lat,
         chr(10) || repeat(' ', 32) || 'Groups: ' || units ||
         chr(10) || repeat(' ', 32) || 'Author: ' || source ||
         chr(10) || repeat(' ', 32) || details ||
         chr(10) || repeat(' ', 28) AS remarks
       FROM c
       WHERE NOT needfix
          OR (len(pp) >= 2 AND NOT isnan(p1) AND NOT isnan(p2))
       ORDER BY id"""

  /** Fixed literal retrieval query set — shared verbatim between the
    * Spark entries (q99/q100) and the oracle VALUES clauses so both
    * engines rank exactly the same queries. Terms drawn from the
    * synthetic documents vocabulary; "nosuchterm" deliberately matches
    * nothing (df=0 ⇒ no postings row ⇒ contributes no score).
    */
  private val retrievalQuerySet: Seq[(Long, String)] = Seq(
    (1L, "spark join merge"),
    (2L, "hash table scan"),
    (3L, "stream window batch"),
    (4L, "vector customer nosuchterm"))

  private def retrievalQueries(s: SparkSession): DataFrame = {
    import s.implicits._
    retrievalQuerySet.toDF("qid", "qtext")
  }

  /** BM25 top-10 fully recomputed in DuckDB, ending in CTE `bm`.
    * Every numeric literal is cast to DOUBLE: DuckDB would otherwise
    * type `0.5`/`1.2` as DECIMAL and evaluate the idf/tf ratios in
    * decimal arithmetic, whose rounding diverges from Spark's IEEE
    * doubles. Operation order mirrors Retrieval.bm25Scores exactly.
    */
  private val bm25TopKSql: String = {
    val queryValues = retrievalQuerySet
      .map { case (i, t) => s"(CAST($i AS BIGINT), '$t')" }.mkString(", ")
    s"""WITH qs(qid, qtext) AS (VALUES $queryValues),
       toks AS (
         SELECT doc_id,
                list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
         FROM documents WHERE text IS NOT NULL),
       toks2 AS (SELECT * FROM toks WHERE len(tk) > 0),
       stats AS (SELECT COUNT(*) AS n_docs, avg(len(tk)) AS avgdl FROM toks2),
       post AS (
         SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
           SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks2)
         GROUP BY doc_id, dl, term),
       qt AS (SELECT DISTINCT qid, term FROM (
           SELECT qid, unnest(list_filter(string_split(lower(qtext), ' '),
                                          t -> t <> '')) AS term FROM qs)),
       dfq AS (SELECT term, COUNT(*) AS df FROM post
               WHERE term IN (SELECT term FROM qt) GROUP BY term),
       scored AS (
         SELECT qt.qid, post.doc_id,
           sum(ln(CAST(1.0 AS DOUBLE)
                  + (post.n_docs - dfq.df + CAST(0.5 AS DOUBLE))
                    / (dfq.df + CAST(0.5 AS DOUBLE)))
               * (post.tf * CAST(2.2 AS DOUBLE))
               / (post.tf + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * post.dl / post.avgdl))) AS score
         FROM (SELECT p.*, s.n_docs, s.avgdl FROM post p CROSS JOIN stats s)
           AS post
         JOIN dfq ON post.term = dfq.term
         JOIN qt ON post.term = qt.term
         GROUP BY qt.qid, post.doc_id),
       bm AS (
         SELECT qid, doc_id, rank, score_r FROM (
           SELECT qid, doc_id,
             row_number() OVER (PARTITION BY qid
               ORDER BY round(score, 4) DESC, doc_id) AS rank,
             round(score, 4) + 0.0 AS score_r
           FROM scored)
         WHERE rank <= 10)"""
  }

  /** TF-IDF (ltc) cosine top-10 fully recomputed in DuckDB — mirrors
    * `Retrieval.tfidfTopK` stage by stage (postings → window df →
    * weights → norms → broadcast probe → rounded rank). Same DOUBLE
    * casts as [[bm25TopKSql]].
    */
  private val tfidfTopKSql: String = {
    val queryValues = retrievalQuerySet
      .map { case (i, t) => s"(CAST($i AS BIGINT), '$t')" }.mkString(", ")
    s"""WITH qs(qid, qtext) AS (VALUES $queryValues),
       toks AS (
         SELECT doc_id,
                list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
         FROM documents WHERE text IS NOT NULL),
       toks2 AS (SELECT * FROM toks WHERE len(tk) > 0),
       stats AS (SELECT COUNT(*) AS n_docs FROM toks2),
       post AS (
         SELECT doc_id, term, COUNT(*) AS tf FROM (
           SELECT doc_id, unnest(tk) AS term FROM toks2)
         GROUP BY doc_id, term),
       postd AS (
         SELECT *, COUNT(*) OVER (PARTITION BY term) AS df FROM post),
       wtd AS (
         SELECT doc_id, term, tf, df,
           ln(CAST(n_docs AS DOUBLE) / df) AS idf,
           (CAST(1.0 AS DOUBLE) + ln(CAST(tf AS DOUBLE)))
             * ln(CAST(n_docs AS DOUBLE) / df) AS w_dt
         FROM postd CROSS JOIN stats),
       norms AS (
         SELECT doc_id, sqrt(sum(w_dt * w_dt)) AS norm_d FROM wtd
         GROUP BY doc_id HAVING sqrt(sum(w_dt * w_dt)) > 0),
       qt AS (SELECT DISTINCT qid, term FROM (
           SELECT qid, unnest(list_filter(string_split(lower(qtext), ' '),
                                          t -> t <> '')) AS term FROM qs)),
       m AS (SELECT qt.qid, w.* FROM wtd w JOIN qt ON w.term = qt.term),
       qn AS (
         SELECT qid, sqrt(sum(idf * idf)) AS norm_q FROM (
           SELECT DISTINCT qid, term, idf FROM m)
         GROUP BY qid HAVING sqrt(sum(idf * idf)) > 0),
       sc AS (SELECT qid, doc_id, sum(w_dt * idf) AS dot
              FROM m GROUP BY qid, doc_id),
       tfidf AS (
         SELECT qid, doc_id, rank, score_r FROM (
           SELECT s.qid, s.doc_id,
             row_number() OVER (PARTITION BY s.qid
               ORDER BY round(s.dot / (n.norm_d * q.norm_q), 4) DESC,
                        s.doc_id) AS rank,
             round(s.dot / (n.norm_d * q.norm_q), 4) + 0.0 AS score_r
           FROM sc s JOIN norms n ON s.doc_id = n.doc_id
                     JOIN qn q ON s.qid = q.qid)
         WHERE rank <= 10)"""
  }

  /** The exact-cosine pair count CTE chain shared by q39/q69/q97 —
    * q97's oracle re-derives the baseline pair count independently.
    */
  private val exactPairCountSql: String =
    """WITH f AS (
         SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                CAST(unnest(embedding) AS DOUBLE) AS v
         FROM embeddings),
       norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM f GROUP BY vec_id),
       dots AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v*b.v) AS dot
         FROM f a JOIN f b ON a.i = b.i AND a.vec_id < b.vec_id
         GROUP BY a.vec_id, b.vec_id),
       sims AS (
         SELECT d.id_a, d.id_b, d.dot / (na.nrm * nb.nrm) AS cos
         FROM dots d JOIN norms na ON d.id_a = na.vec_id
                     JOIN norms nb ON d.id_b = nb.vec_id)"""

  val oracles: Map[String, String] = Map(
    // invariants of the injected exact duplicates (doc_id%21=5 → copy):
    // identical shingle set ⇒ identical signature ⇒ identical bands ⇒
    // candidate pair MUST surface; any pipeline regression flips a bool
    "q36_minhash" ->
      """SELECT doc_id AS orig_id, TRUE AS sig_equal, TRUE AS bands_equal,
           TRUE AS candidate_found
         FROM documents WHERE doc_id % 21 = 5 ORDER BY orig_id""",
    "q37_simhash" ->
      """SELECT doc_id AS orig_id, TRUE AS hamming_zero,
           TRUE AS band_pair_found
         FROM documents WHERE doc_id % 21 = 5 ORDER BY orig_id""",
    // accuracy contracts computed in-job vs brute force, pinned TRUE
    "q41_ann_lsh" ->
      """SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id < 50)
           AS n_queries,
         CAST(3 AS INT) AS k, TRUE AS recall_ok, TRUE AS no_self_ok""",
    "q44_ann_ivf" ->
      """SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id < 50)
           AS n_queries,
         CAST(3 AS INT) AS k, TRUE AS recall_ok, TRUE AS no_self_ok""",
    "q210_graph_ann_beam" ->
      """SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id < 50)
           AS n_queries,
         CAST(3 AS INT) AS k, TRUE AS recall_ok, TRUE AS no_self_ok""",
    "q107_ann_pq" ->
      """SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id < 50)
           AS n_queries,
         CAST(10 AS INT) AS k, TRUE AS recall_ok, TRUE AS no_self_ok""",
    // full re-derivation: same normalized sha-256 exact screen, then
    // string-shingle Jaccard (the hashed-key Spark join is count-
    // equivalent, q38's stance) with the identical <3-token fallback
    "q108_delta_dedup" ->
      """WITH newb AS (
           SELECT doc_id + 500000 AS doc_id, text FROM documents
           WHERE doc_id % 21 = 5
           UNION ALL
           SELECT doc_id + 600000, text || ' zzzz' FROM documents
           WHERE doc_id % 17 = 3
           UNION ALL
           SELECT doc_id + 700000,
             array_to_string(list_reverse(string_split(text, ' ')), ' ')
           FROM documents WHERE doc_id % 13 = 1),
         nt AS (
           SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
           FROM newb),
         et AS (
           SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
           FROM documents),
         eh AS (SELECT DISTINCT sha256(t) AS h FROM et),
         exact AS (
           SELECT nt.doc_id FROM nt JOIN eh ON sha256(nt.t) = eh.h),
         shn AS (
           SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                                      for i in generate_series(1, len(toks)-2)])
             END AS sh
           FROM (SELECT doc_id, string_split(t, ' ') AS toks FROM nt
                 WHERE doc_id NOT IN (SELECT doc_id FROM exact))),
         she AS (
           SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                                      for i in generate_series(1, len(toks)-2)])
             END AS sh
           FROM (SELECT doc_id, string_split(t, ' ') AS toks FROM et)),
         en AS (SELECT doc_id, len(sh) AS na, unnest(sh) AS h FROM shn),
         ee AS (SELECT doc_id, len(sh) AS nb, unnest(sh) AS h FROM she),
         near AS (
           SELECT DISTINCT nid FROM (
             SELECT en.doc_id AS nid, ee.doc_id AS eid,
               any_value(na) AS na, any_value(nb) AS nb, COUNT(*) AS inter
             FROM en JOIN ee ON en.h = ee.h
             GROUP BY en.doc_id, ee.doc_id)
           WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5)
         SELECT n.doc_id,
           CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN nr.nid IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS status
         FROM newb n LEFT JOIN exact ex ON n.doc_id = ex.doc_id
           LEFT JOIN near nr ON n.doc_id = nr.nid
         ORDER BY n.doc_id""",
    "q97_lsh_neardup" ->
      (exactPairCountSql +
        """
         SELECT (SELECT COUNT(*) FROM sims WHERE cos >= 0.4) AS n_exact,
           TRUE AS precision_ok, TRUE AS recall_ok"""),
    // covariance recomputed the slow independent way (exploded
    // coordinates, vec-aligned self-join); eigen facts are in-job
    // contracts
    "q101_pca_covariance" ->
      """WITH f AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         nn AS (SELECT COUNT(*) AS n FROM embeddings),
         m AS (SELECT i, avg(v) AS mu FROM f GROUP BY i),
         g AS (SELECT a.i AS i, b.i AS j, sum(a.v * b.v) AS sp
               FROM f a JOIN f b ON a.vec_id = b.vec_id AND a.i <= b.i
               GROUP BY a.i, b.i)
         SELECT CAST(g.i - 1 AS INT) AS i, CAST(g.j - 1 AS INT) AS j,
           round(g.sp / nn.n - mi.mu * mj.mu, 6) + 0.0 AS cov_r,
           TRUE AS resid_ok, TRUE AS ortho_ok, TRUE AS evr_ok
         FROM g CROSS JOIN nn
           JOIN m mi ON mi.i = g.i JOIN m mj ON mj.i = g.j
         ORDER BY i, j""",
    // nonzero-norm corpus count recomputed; layout/pruning/round-trip
    // pinned by in-job contracts (see the queries entry)
    "q155_ann_index_layout" ->
      """SELECT
           (SELECT COUNT(*) FROM embeddings
            WHERE len(list_filter(embedding, x -> x <> 0)) > 0) AS n_total,
           8 AS k_lists, TRUE AS probes_bounded, TRUE AS pruned,
           TRUE AS files_in_probed_dirs, TRUE AS roundtrip_exact""",
    // nonzero-norm corpus count recomputed; cluster geometry pinned by
    // in-job contracts (see the queries entry)
    "q153_kmeans_clusters" ->
      """SELECT 8 AS k,
           (SELECT COUNT(*) FROM embeddings
            WHERE len(list_filter(embedding, x -> x <> 0)) > 0) AS n_total,
           TRUE AS assignment_consistent, TRUE AS objective_monotone,
           TRUE AS clusters_bounded""",
    // population moments and z² scores re-derived from exploded
    // coordinates
    "q109_embedding_outliers" ->
      """WITH f AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         m AS (
           SELECT i, avg(v) AS mu, avg(v * v) - avg(v) * avg(v) AS var
           FROM f GROUP BY i),
         s AS (
           SELECT f.vec_id,
             sum(CASE WHEN m.var > 0
                 THEN ((f.v - m.mu) / sqrt(m.var)) ^ 2 ELSE 0 END) AS sc
           FROM f JOIN m ON f.i = m.i GROUP BY f.vec_id)
         SELECT vec_id, round(sc, 4) + 0.0 AS score FROM s
         ORDER BY score DESC, vec_id LIMIT 20""",
    // full BM25 recompute: tokenize → postings → df → idf → score →
    // rounded rank, all in DuckDB (see bm25TopKSql for the DOUBLE-cast
    // rationale)
    "q99_bm25_topk" ->
      (bm25TopKSql +
        """
         SELECT qid, doc_id, rank, score_r FROM bm ORDER BY qid, rank"""),
    // full TF-IDF cosine recompute: inverted index with window df,
    // ltc weights, L2 norms, broadcast probe, rounded rank
    "q173_tfidf_cosine" ->
      (tfidfTopKSql +
        """
         SELECT qid, doc_id, rank, score_r FROM tfidf ORDER BY qid, rank"""),
    // BM25 ∪ token-overlap fused by RRF; ranks are integers and each
    // RRF term is one IEEE division, so the fused score is recomputed
    // bit-identically
    "q100_rrf_fusion" ->
      (bm25TopKSql +
        """,
       dt AS (SELECT DISTINCT doc_id, term FROM (
           SELECT doc_id, unnest(tk) AS term FROM toks)),
       ovs AS (
         SELECT qt.qid, dt.doc_id, COUNT(*) AS inter
         FROM dt JOIN qt ON dt.term = qt.term
         GROUP BY qt.qid, dt.doc_id),
       ov AS (
         SELECT qid, doc_id, rank FROM (
           SELECT qid, doc_id,
             row_number() OVER (PARTITION BY qid
               ORDER BY inter DESC, doc_id) AS rank
           FROM ovs)
         WHERE rank <= 10),
       fused AS (
         SELECT coalesce(bm.qid, ov.qid) AS qid,
                coalesce(bm.doc_id, ov.doc_id) AS doc_id,
                bm.rank AS rank_a, ov.rank AS rank_b,
                coalesce(CAST(1.0 AS DOUBLE) / (60 + bm.rank),
                         CAST(0.0 AS DOUBLE))
                + coalesce(CAST(1.0 AS DOUBLE) / (60 + ov.rank),
                           CAST(0.0 AS DOUBLE)) AS rrf
         FROM bm FULL OUTER JOIN ov
           ON bm.qid = ov.qid AND bm.doc_id = ov.doc_id)
         SELECT qid, doc_id, rank, rank_a, rank_b, rrf6 FROM (
           SELECT qid, doc_id, rank_a, rank_b,
             row_number() OVER (PARTITION BY qid
               ORDER BY rrf DESC, doc_id) AS rank,
             round(rrf, 6) + 0.0 AS rrf6
           FROM fused)
         WHERE rank <= 5 ORDER BY qid, rank"""),
    // every value is header-parse arithmetic over ASCII payloads:
    // decode dims from the first four bytes, the 512-cap resize, the
    // byte-5 feature, the constant frame count
    "q51_multimodal" ->
      """WITH b AS (
           SELECT doc_id,
             'text/plain;src=' || source AS media_type,
             (ascii(substr(text, 1, 1))*256 + ascii(substr(text, 2, 1)))
               % 1920 + 1 AS w,
             (ascii(substr(text, 3, 1))*256 + ascii(substr(text, 4, 1)))
               % 1080 + 1 AS h,
             CAST(length(text) AS BIGINT) AS n_bytes,
             ascii(substr(text, 5, 1)) / 256.0 AS f0
           FROM documents)
         SELECT doc_id AS media_id, media_type,
           CASE WHEN greatest(w, h) <= 512 THEN w
                ELSE CAST(floor(w * (512.0 / greatest(w, h))) AS INT)
           END AS width,
           CASE WHEN greatest(w, h) <= 512 THEN h
                ELSE CAST(floor(h * (512.0 / greatest(w, h))) AS INT)
           END AS height,
           n_bytes, f0, CAST(4 AS BIGINT) AS n_frames
         FROM b ORDER BY media_id""",
    // every fixture doc has ≥ 3 words, so count = len-2 and the
    // windowed string n-grams match the generator's rows exactly
    "q92_shingle_generator" ->
      """WITH toks AS (
           SELECT doc_id, string_split(lower(text), ' ') AS w
           FROM documents),
         g AS (
           SELECT doc_id, array_to_string(w[i:i+2], ' ') AS sh
           FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w)-2)) AS i) ix)
         SELECT doc_id, COUNT(*) AS n_shingles,
           MIN(sh) AS min_sh, MAX(sh) AS max_sh
         FROM g GROUP BY 1 ORDER BY doc_id""",
    // full analytic recompute of the BMP fixture: dims from the doc_id
    // formula, channel means as exact integer sums over the pixel grid,
    // corner pixel from the closed form at (0,0) — no codec needed
    "q201_bmp_decode" ->
      """WITH d AS (
           SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS w,
                  CAST(3 + doc_id % 4 AS INT) AS h
           FROM documents WHERE doc_id % 29 = 3),
         px AS (
           SELECT doc_id, w, h, xs.x AS x, ys.y AS y
           FROM d,
           LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs,
           LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys)
         SELECT doc_id AS media_id, w AS width, h AS height,
           round(SUM((doc_id + x + y) % 256) * 1.0 / (w * h), 6) AS mean_r,
           round(SUM((doc_id + y + 7) % 256) * 1.0 / (w * h), 6) AS mean_g,
           round(SUM((doc_id + x + 13) % 256) * 1.0 / (w * h), 6) AS mean_b,
           CAST(doc_id % 256 AS INT) AS tl_r,
           CAST((doc_id + 7) % 256 AS INT) AS tl_g,
           CAST((doc_id + 13) % 256 AS INT) AS tl_b
         FROM px GROUP BY doc_id, w, h ORDER BY media_id""",
    // full analytic recompute of the WAV fixture: per-sample values from
    // the (doc_id, t) closed form over a generated series — exact integer
    // moments, no codec needed
    // lossless codec => exact analytic recompute (q209's form)
    "q335_flac_decode" ->
      """WITH d AS (
           SELECT doc_id, CAST(300 + doc_id % 128 AS BIGINT) AS ns
           FROM documents WHERE doc_id % 41 = 6),
         s AS (
           SELECT doc_id, ns,
             (doc_id*53 + ts.t*ts.t*13) % 3001 - 1500 AS v
           FROM d,
           LATERAL (SELECT unnest(generate_series(0, CAST(ns - 1 AS INT))) AS t) ts)
         SELECT doc_id AS media_id, CAST(16000 AS INT) AS sample_rate,
           ns AS n_samples,
           CAST(ns * 1000 // 16000 AS BIGINT) AS duration_ms,
           CAST(MAX(abs(v)) AS INT) AS peak,
           CAST(doc_id*53 % 3001 - 1500 AS INT) AS first_s,
           CAST(SUM(v) AS BIGINT) AS sum_s,
           CAST(SUM(v*v) AS BIGINT) AS sumsq_s
         FROM s GROUP BY doc_id, ns ORDER BY media_id""",
    "q209_wav_decode" ->
      """WITH d AS (
           SELECT doc_id, CAST(50 + doc_id % 64 AS BIGINT) AS ns
           FROM documents WHERE doc_id % 31 = 4),
         s AS (
           SELECT doc_id, ns,
             (doc_id*37 + ts.t*ts.t*11) % 4001 - 2000 AS v
           FROM d,
           LATERAL (SELECT unnest(generate_series(0, CAST(ns - 1 AS INT))) AS t) ts)
         SELECT doc_id AS media_id, CAST(8000 AS INT) AS sample_rate,
           ns AS n_samples,
           CAST(ns * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(MAX(abs(v)) AS INT) AS peak,
           CAST(doc_id*37 % 4001 - 2000 AS INT) AS first_s,
           CAST(SUM(v) AS BIGINT) AS sum_s,
           CAST(SUM(v*v) AS BIGINT) AS sumsq_s
         FROM s GROUP BY doc_id, ns ORDER BY media_id""",
    "q318_rerank" ->
      """WITH bk AS (
           SELECT vec_id,
             (CASE WHEN embedding[1] >= 0 THEN 8 ELSE 0 END
            + CASE WHEN embedding[2] >= 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[3] >= 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) AS bk
           FROM embeddings),
         f AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm
                   FROM f GROUP BY vec_id),
         q AS (SELECT vec_id AS qid, bk FROM bk WHERE vec_id < 30),
         cand AS (
           SELECT q.qid, b.vec_id AS id
           FROM q JOIN bk b ON b.bk = q.bk AND b.vec_id <> q.qid),
         dots AS (
           SELECT c.qid, c.id, SUM(fq.v * fc.v) AS dot
           FROM cand c
           JOIN f fq ON fq.vec_id = c.qid
           JOIN f fc ON fc.vec_id = c.id AND fc.i = fq.i
           GROUP BY c.qid, c.id),
         sims AS (
           SELECT d.qid, d.id,
             round(d.dot / (nq.nrm * nc.nrm), 6) AS cos6
           FROM dots d JOIN norms nq ON nq.vec_id = d.qid
                       JOIN norms nc ON nc.vec_id = d.id),
         r AS (
           SELECT qid, id, cos6,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY cos6 DESC, id) AS BIGINT) AS rk
           FROM sims)
         SELECT qid, rk, id, cos6 + 0.0 AS cos6
         FROM r WHERE rk <= 2 ORDER BY qid, rk""",
    // full analytic recompute of the PNG fixture (q201's pattern): the
    // closed-form pixel function over a generated (x, y) grid — the
    // oracle needs no codec, so any inflate/defilter/channel bug in the
    // JVM-side decode flips the row red
    "q315_png_decode" ->
      """WITH d AS (
           SELECT doc_id, CAST(5 + doc_id % 4 AS INT) AS w,
                  CAST(4 + doc_id % 3 AS INT) AS h
           FROM documents WHERE doc_id % 37 = 5),
         px AS (
           SELECT doc_id, w, h, xs.x AS x, ys.y AS y
           FROM d,
           LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs,
           LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys)
         SELECT doc_id AS media_id, w AS width, h AS height,
           round(SUM((doc_id + x + 2*y) % 256) * 1.0 / (w * h), 6) AS mean_r,
           round(SUM((doc_id + 2*x + 5) % 256) * 1.0 / (w * h), 6) AS mean_g,
           round(SUM((doc_id + y + 11) % 256) * 1.0 / (w * h), 6) AS mean_b,
           CAST(doc_id % 256 AS INT) AS tl_r,
           CAST((doc_id + 5) % 256 AS INT) AS tl_g,
           CAST((doc_id + 11) % 256 AS INT) AS tl_b
         FROM px GROUP BY doc_id, w, h ORDER BY media_id""",
    // transparency visibility rule replayed per pixel: latest frame
    // g <= f that covers the pixel AND is opaque there (g = 0 is
    // full-screen opaque, so every pixel resolves)
    "q365_gif_transparency" ->
      """WITH d AS (
           SELECT doc_id, CAST(4 + doc_id % 3 AS INT) AS nf
           FROM documents WHERE doc_id % 61 = 19),
         fr AS (
           SELECT doc_id, fs.f AS f
           FROM d, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) fs),
         px AS (
           SELECT doc_id, f, xs.x AS x, ys.y AS y
           FROM fr,
           LATERAL (SELECT unnest(generate_series(0, 6)) AS x) xs,
           LATERAL (SELECT unnest(generate_series(0, 4)) AS y) ys),
         src AS (
           SELECT doc_id, f, x, y, MAX(gs.g) AS g
           FROM px, LATERAL (SELECT unnest(generate_series(0, f)) AS g) gs
           WHERE gs.g = 0
              OR (x >= (doc_id + 2*gs.g) % 5
                  AND x < (doc_id + 2*gs.g) % 5 + 3
                  AND y >= (doc_id + gs.g) % 4
                  AND y < (doc_id + gs.g) % 4 + 2
                  AND (doc_id + gs.g + x + 2*y) % 3 <> 0)
           GROUP BY 1, 2, 3, 4),
         vals AS (
           SELECT doc_id, f, x, y,
             (doc_id + 5*g + x + 2*y) % 256 AS r,
             (doc_id + 7*g + 2*x + y + 3) % 256 AS gg,
             (doc_id + 11*g + x + 3*y + 6) % 256 AS b
           FROM src)
         SELECT doc_id AS media_id, CAST(f AS INT) AS frame,
           CAST(7 AS INT) AS width, CAST(5 AS INT) AS height,
           round(SUM(r) * 1.0 / 35, 6) AS mean_r,
           round(SUM(gg) * 1.0 / 35, 6) AS mean_g,
           round(SUM(b) * 1.0 / 35, 6) AS mean_b,
           CAST(MAX(CASE WHEN x = 0 AND y = 0 THEN r END) AS INT) AS tl_r,
           CAST(MAX(CASE WHEN x = 0 AND y = 0 THEN gg END) AS INT) AS tl_g,
           CAST(MAX(CASE WHEN x = 0 AND y = 0 THEN b END) AS INT) AS tl_b
         FROM vals GROUP BY doc_id, f ORDER BY media_id, frame""",

    // transient-overlay visibility rule replayed per pixel: latest
    // covering non-transient frame g <= f, except f itself counts
    // even when transient
    "q357_gif_restore_previous" ->
      """WITH d AS (
           SELECT doc_id, CAST(4 + doc_id % 3 AS INT) AS nf
           FROM documents WHERE doc_id % 59 = 17),
         fr AS (
           SELECT doc_id, fs.f AS f
           FROM d, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) fs),
         px AS (
           SELECT doc_id, f, xs.x AS x, ys.y AS y
           FROM fr,
           LATERAL (SELECT unnest(generate_series(0, 6)) AS x) xs,
           LATERAL (SELECT unnest(generate_series(0, 4)) AS y) ys),
         src AS (
           SELECT doc_id, f, x, y, MAX(gs.g) AS g
           FROM px, LATERAL (SELECT unnest(generate_series(0, f)) AS g) gs
           WHERE (gs.g = f OR NOT (gs.g >= 1 AND gs.g % 3 = 2))
             AND (gs.g = 0
              OR (x >= (doc_id + 2*gs.g) % 5
                  AND x < (doc_id + 2*gs.g) % 5 + 3
                  AND y >= (doc_id + gs.g) % 4
                  AND y < (doc_id + gs.g) % 4 + 2))
           GROUP BY 1, 2, 3, 4),
         vals AS (
           SELECT doc_id, f, x, y,
             (doc_id + 5*g + x + 2*y) % 256 AS r,
             (doc_id + 7*g + 2*x + y + 3) % 256 AS gg,
             (doc_id + 11*g + x + 3*y + 6) % 256 AS b
           FROM src)
         SELECT doc_id AS media_id, CAST(f AS INT) AS frame,
           CAST(7 AS INT) AS width, CAST(5 AS INT) AS height,
           round(SUM(r) * 1.0 / 35, 6) AS mean_r,
           round(SUM(gg) * 1.0 / 35, 6) AS mean_g,
           round(SUM(b) * 1.0 / 35, 6) AS mean_b,
           CAST(MAX(CASE WHEN x = 0 AND y = 0 THEN r END) AS INT) AS tl_r,
           CAST(MAX(CASE WHEN x = 0 AND y = 0 THEN gg END) AS INT) AS tl_g,
           CAST(MAX(CASE WHEN x = 0 AND y = 0 THEN b END) AS INT) AS tl_b
         FROM vals GROUP BY doc_id, f ORDER BY media_id, frame""",
    // composition replayed arithmetically: each canvas pixel at
    // sampled frame f shows the LATEST frame g <= f covering it
    "q355_gif_composition" ->
      """WITH d AS (
           SELECT doc_id, CAST(4 + doc_id % 3 AS INT) AS nf
           FROM documents WHERE doc_id % 53 = 13),
         fr AS (
           SELECT doc_id, fs.f AS f
           FROM d, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) fs
           WHERE fs.f % 2 = 0),
         px AS (
           SELECT doc_id, f, xs.x AS x, ys.y AS y
           FROM fr,
           LATERAL (SELECT unnest(generate_series(0, 6)) AS x) xs,
           LATERAL (SELECT unnest(generate_series(0, 4)) AS y) ys),
         src AS (
           SELECT doc_id, f, x, y, MAX(gs.g) AS g
           FROM px, LATERAL (SELECT unnest(generate_series(0, f)) AS g) gs
           WHERE gs.g = 0
              OR (x >= (doc_id + 2*gs.g) % 5
                  AND x < (doc_id + 2*gs.g) % 5 + 3
                  AND y >= (doc_id + gs.g) % 4
                  AND y < (doc_id + gs.g) % 4 + 2)
           GROUP BY 1, 2, 3, 4),
         vals AS (
           SELECT doc_id, f, x, y,
             (doc_id + 5*g + x + 2*y) % 256 AS r,
             (doc_id + 7*g + 2*x + y + 3) % 256 AS gg,
             (doc_id + 11*g + x + 3*y + 6) % 256 AS b
           FROM src)
         SELECT doc_id AS media_id, CAST(f AS INT) AS frame,
           CAST(7 AS INT) AS width, CAST(5 AS INT) AS height,
           round(SUM(r) * 1.0 / 35, 6) AS mean_r,
           round(SUM(gg) * 1.0 / 35, 6) AS mean_g,
           round(SUM(b) * 1.0 / 35, 6) AS mean_b,
           CAST(MAX(CASE WHEN x = 0 AND y = 0 THEN r END) AS INT) AS tl_r,
           CAST(MAX(CASE WHEN x = 0 AND y = 0 THEN gg END) AS INT) AS tl_g,
           CAST(MAX(CASE WHEN x = 0 AND y = 0 THEN b END) AS INT) AS tl_b
         FROM vals GROUP BY doc_id, f ORDER BY media_id, frame""",
    // sampled frames (0, 2, 4, ...) replayed exactly per frame index
    "q353_gif_frame_sample" ->
      """WITH d AS (
           SELECT doc_id, CAST(5 + doc_id % 3 AS INT) AS w,
                  CAST(4 + doc_id % 2 AS INT) AS h,
                  CAST(4 + doc_id % 3 AS INT) AS nf
           FROM documents WHERE doc_id % 47 = 11),
         fr AS (
           SELECT doc_id, w, h, fs.f AS f
           FROM d, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) fs
           WHERE fs.f % 2 = 0),
         px AS (
           SELECT doc_id, w, h, f, xs.x AS x, ys.y AS y
           FROM fr,
           LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs,
           LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys)
         SELECT doc_id AS media_id, CAST(f AS INT) AS frame,
           w AS width, h AS height,
           round(SUM((doc_id + 7*f + x + 2*y) % 256) * 1.0 / (w * h), 6)
             AS mean_r,
           round(SUM((doc_id + 3*f + 2*x + y + 5) % 256) * 1.0 / (w * h), 6)
             AS mean_g,
           round(SUM((doc_id + 11*f + x + 3*y + 9) % 256) * 1.0 / (w * h), 6)
             AS mean_b,
           CAST((doc_id + 7*f) % 256 AS INT) AS tl_r,
           CAST((doc_id + 3*f + 5) % 256 AS INT) AS tl_g,
           CAST((doc_id + 11*f + 9) % 256 AS INT) AS tl_b
         FROM px GROUP BY doc_id, w, h, f
         ORDER BY media_id, frame""",
    // lossless palette GIF ⇒ exact formula replay, q315's class
    "q349_gif_decode" ->
      """WITH d AS (
           SELECT doc_id, CAST(6 + doc_id % 4 AS INT) AS w,
                  CAST(5 + doc_id % 3 AS INT) AS h
           FROM documents WHERE doc_id % 43 = 9),
         px AS (
           SELECT doc_id, w, h, xs.x AS x, ys.y AS y
           FROM d,
           LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) xs,
           LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) ys)
         SELECT doc_id AS media_id, w AS width, h AS height,
           round(SUM((doc_id + 3*x + y) % 256) * 1.0 / (w * h), 6)
             AS mean_r,
           round(SUM((doc_id + x + 4*y + 7) % 256) * 1.0 / (w * h), 6)
             AS mean_g,
           round(SUM((doc_id + 2*x + 2*y + 3) % 256) * 1.0 / (w * h), 6)
             AS mean_b,
           CAST(doc_id % 256 AS INT) AS tl_r,
           CAST((doc_id + 7) % 256 AS INT) AS tl_g,
           CAST((doc_id + 3) % 256 AS INT) AS tl_b
         FROM px GROUP BY doc_id, w, h ORDER BY media_id""",
    // JPEG is lossy → contract oracle: exact dims + tolerance booleans
    // pinned TRUE (the decode itself happens JVM-side; the oracle pins
    // the analytic expectations the decode must hit)
    "q327_jpeg_decode" ->
      """SELECT doc_id AS media_id,
           CAST(8 + doc_id % 5 AS INT) AS width,
           CAST(6 + doc_id % 4 AS INT) AS height,
           TRUE AS mean_r_ok, TRUE AS mean_g_ok, TRUE AS mean_b_ok,
           TRUE AS tl_ok
         FROM documents WHERE doc_id % 41 = 6 ORDER BY media_id""",
    // ASCII payloads: byte k == ascii(char k); header parse is plain math
    "q91_media_batch_decode" ->
      """SELECT doc_id AS media_id,
         CAST((ascii(substr(text, 1, 1))*256 + ascii(substr(text, 2, 1)))
           % 1920 + 1 AS INT) AS width,
         CAST((ascii(substr(text, 3, 1))*256 + ascii(substr(text, 4, 1)))
           % 1080 + 1 AS INT) AS height,
         CAST(length(text) AS BIGINT) AS n_bytes
         FROM documents ORDER BY media_id""",
    "q79_embedding_quantize" ->
      """WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         s AS (
           SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
           FROM e),
         q AS (
           SELECT vec_id, v, scale,
             CASE WHEN scale > 0 THEN
               list_transform(v, x -> CAST(floor(x/scale + 0.5) AS BIGINT))
             END AS qv
           FROM s)
         SELECT vec_id, round(scale, 6) AS scale_r,
           CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS l1,
           round(list_max(list_transform(list_zip(v, qv),
             p -> abs(p[1] - p[2]*scale))), 6) AS max_err
         FROM q ORDER BY vec_id""",
    // q38 recomputed hash-free: the Spark side intersects 64-bit hashed
    // shingles (native ShingleHashes — the scale path's equi-join key);
    // DuckDB intersects the string shingles themselves. Values agree
    // exactly unless xxhash64 collides within a document pair's shingle
    // sets (~2⁻⁶⁴ per pair). Blocking (lang, n_chars//50) mirrored.
    // injection + full recompute with string shingles; ordered pairs,
    // cont = inter/|A| — no length blocking by design
    "q189_containment" ->
      """WITH raw AS (
           SELECT doc_id, lower(text) AS text FROM documents
           UNION ALL
           SELECT doc_id + 2000000,
             array_to_string(string_split(lower(text), ' ')[3:14], ' ')
           FROM documents
           WHERE doc_id % 41 = 6
             AND len(string_split(lower(text), ' ')) >= 14),
         d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM raw),
         s AS (
           SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                                      for i in generate_series(1, len(toks)-2)])
             END AS sh
           FROM d),
         e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS h FROM s),
         -- mirror the Spark-side stop-shingle bucket cap (maxBucket=256):
         -- a shingle occurring in >256 docs is dropped on BOTH sides, so
         -- the engines can't diverge on corpora with stop-phrases
         hv AS (SELECT h FROM e GROUP BY h HAVING COUNT(*) <= 256),
         ec AS (SELECT e.* FROM e JOIN hv ON e.h = hv.h),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  any_value(a.n) AS n_a, COUNT(*) AS inter
           FROM ec a JOIN ec b ON a.h = b.h AND a.doc_id <> b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b, round(inter / n_a, 4) + 0.0 AS cont
         FROM p WHERE inter / n_a >= CAST(0.8 AS DOUBLE)
         ORDER BY id_a, id_b""",
    "q38_jaccard_pairs" ->
      """WITH d AS (
           SELECT doc_id, lang, n_chars // 50 AS lenb,
                  string_split(lower(text), ' ') AS toks
           FROM documents),
         s AS (
           SELECT doc_id, lang, lenb,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                                      for i in generate_series(1, len(toks)-2)])
             END AS sh
           FROM d),
         e AS (SELECT doc_id, lang, lenb, len(sh) AS n, unnest(sh) AS h FROM s),
         -- mirror the Spark-side bucket cap (maxBucket=256 per
         -- (lang,lenb,shingle) block) so stop-shingles drop on both sides
         hv AS (SELECT lang, lenb, h FROM e GROUP BY lang, lenb, h
                HAVING COUNT(*) <= 256),
         ec AS (SELECT e.* FROM e JOIN hv
                ON e.h = hv.h AND e.lang = hv.lang AND e.lenb = hv.lenb),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  any_value(a.n) AS n_a, any_value(b.n) AS n_b,
                  COUNT(*) AS inter
           FROM ec a JOIN ec b ON a.h = b.h AND a.lang = b.lang
                             AND a.lenb = b.lenb AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b, round(inter / (n_a + n_b - inter), 4) AS jaccard
         FROM p ORDER BY jaccard DESC, id_a, id_b LIMIT 50""",
    "q39_embedding_neardup" ->
      """WITH f AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM f GROUP BY vec_id),
         dots AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v*b.v) AS dot
           FROM f a JOIN f b ON a.i = b.i AND a.vec_id < b.vec_id
           GROUP BY a.vec_id, b.vec_id),
         sims AS (
           SELECT d.id_a, d.id_b, d.dot / (na.nrm * nb.nrm) AS cos
           FROM dots d JOIN norms na ON d.id_a = na.vec_id
                       JOIN norms nb ON d.id_b = nb.vec_id)
         SELECT id_a, id_b, round(cos, 6) + 0.0 AS cos6 FROM sims
         WHERE cos >= 0.4 ORDER BY id_a, id_b""",
    // the same sign formula spelled as nested list_transform lambdas;
    // list_sum folds the 64 products in list order like the zip_with
    // fold, and round-6 + 0.0 lands identical bytes
    "q165_jl_projection" ->
      """WITH y AS (
           SELECT vec_id,
             list_transform(range(0, 16), j ->
               round(list_sum(list_transform(range(0, 64), i ->
                 CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) *
                 (CASE WHEN ((37*i + 101*j) % 7) < 4
                       THEN 1.0 ELSE -1.0 END))) / 4.0, 6) + 0.0)
               AS ys
           FROM embeddings)
         SELECT vec_id, CAST(u.j - 1 AS BIGINT) AS j,
           ys[CAST(u.j AS INT)] AS y6
         FROM y, unnest(range(1, 17)) AS u(j)
         ORDER BY vec_id, j""",
    // q39's exploded-coordinate cosine recompute restricted to
    // same-sign-bucket pairs, then the drop rule as a plain aggregate
    "q161_semdedup" ->
      """WITH bk AS (
           SELECT vec_id,
             (CASE WHEN embedding[1] >= 0 THEN 8 ELSE 0 END
            + CASE WHEN embedding[2] >= 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[3] >= 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) AS bk
           FROM embeddings),
         f AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM f GROUP BY vec_id),
         dots AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v*b.v) AS dot
           FROM f a JOIN f b ON a.i = b.i AND a.vec_id < b.vec_id
           JOIN bk ba ON ba.vec_id = a.vec_id
           JOIN bk bb ON bb.vec_id = b.vec_id AND bb.bk = ba.bk
           GROUP BY a.vec_id, b.vec_id),
         sims AS (
           SELECT d.id_a, d.id_b, d.dot / (na.nrm * nb.nrm) AS cos
           FROM dots d JOIN norms na ON d.id_a = na.vec_id
                       JOIN norms nb ON d.id_b = nb.vec_id)
         SELECT id_b AS dropped_id, MIN(id_a) AS witness_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
         FROM sims WHERE cos >= 0.4
         GROUP BY id_b ORDER BY dropped_id""",
    // the NAIVE row-pair definition — Spark's multiplicity compression
    // must be invisible in the result
    "q70_fuzzy_match" ->
      """WITH p AS (
           SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk
           FROM part),
         pr AS (
           SELECT a.blk, levenshtein(a.p_name, b.p_name) AS dist
           FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
           WHERE levenshtein(a.p_name, b.p_name) <= 3)
         SELECT blk, COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN dist <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
           CAST(SUM(dist) AS BIGINT) AS sum_dist
         FROM pr GROUP BY blk ORDER BY blk""",
    // recursive-CTE reachability: comp = min reachable id over the same
    // exact-cosine edges as q39
    // q36-pattern contract: the injected nonzero-norm originals are
    // re-derived; the mutual/cos invariants are pinned TRUE
    "q187_mutual_knn" ->
      """WITH f AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         nz AS (SELECT vec_id FROM f GROUP BY vec_id
                HAVING SUM(v * v) > 0)
         SELECT vec_id AS orig_id, TRUE AS mutual_found,
           TRUE AS cos_is_one
         FROM nz WHERE vec_id % 17 = 4 ORDER BY orig_id""",
    // the full pipeline replayed: injected variants, block join,
    // recursive-CTE components seeded with EVERY node (singletons
    // included), same golden-record total order
    "q184_entity_resolution" ->
      """WITH RECURSIVE base AS (
           SELECT p_name AS name, MIN(p_partkey) AS nid, COUNT(*) AS cnt
           FROM part GROUP BY p_name),
         var AS (
           SELECT substr(name, 1, len(name) - 1) AS name,
             nid + 1000000 AS nid, 1 AS cnt
           FROM base WHERE nid % 3 = 0 AND len(name) > 3),
         n AS (
           SELECT name, MIN(nid) AS nid, SUM(cnt) AS cnt,
             split_part(name, ' ', 1) AS blk
           FROM (SELECT * FROM base UNION ALL SELECT * FROM var)
           GROUP BY name),
         ed AS (
           SELECT a.nid AS x, b.nid AS y FROM n a JOIN n b
           ON a.blk = b.blk AND a.name < b.name
              AND levenshtein(a.name, b.name) <= 1),
         sym AS (SELECT x AS src, y AS dst FROM ed
                 UNION ALL SELECT y, x FROM ed),
         reach(id, comp) AS (
           SELECT nid, nid FROM n
           UNION
           SELECT sym.dst, r.comp FROM reach r JOIN sym ON sym.src = r.id),
         cc AS (SELECT id AS nid, MIN(comp) AS comp FROM reach GROUP BY id),
         lab AS (
           SELECT n.name, n.cnt, cc.comp,
             row_number() OVER (PARTITION BY cc.comp
               ORDER BY n.cnt DESC, n.name) AS rk
           FROM n JOIN cc ON n.nid = cc.nid)
         SELECT comp, MAX(CASE WHEN rk = 1 THEN name END) AS canonical,
           COUNT(*) AS n_names, CAST(SUM(cnt) AS BIGINT) AS n_records
         FROM lab GROUP BY comp ORDER BY comp""",
    "q69_dedup_clusters" ->
      """WITH RECURSIVE f AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM f GROUP BY vec_id),
         dots AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v*b.v) AS dot
           FROM f a JOIN f b ON a.i = b.i AND a.vec_id < b.vec_id
           GROUP BY a.vec_id, b.vec_id),
         pairs AS (
           SELECT d.id_a, d.id_b
           FROM dots d JOIN norms na ON d.id_a = na.vec_id
                       JOIN norms nb ON d.id_b = nb.vec_id
           WHERE d.dot / (na.nrm * nb.nrm) >= 0.4),
         e AS (SELECT id_a AS src, id_b AS dst FROM pairs
               UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, comp) AS (
           SELECT DISTINCT src, src FROM e
           UNION
           SELECT e.dst, r.comp FROM reach r JOIN e ON e.src = r.id)
         SELECT id, MIN(comp) AS comp, (id = MIN(comp)) AS canonical
         FROM reach GROUP BY id ORDER BY id""",
    "q47_hybrid_search" ->
      """WITH en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
         f AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM f GROUP BY vec_id),
         dots AS (
           SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.v*b.v) AS dot
           FROM f a JOIN f b ON a.i = b.i AND b.vec_id <> a.vec_id
           JOIN en ON b.vec_id = en.doc_id
           WHERE a.vec_id < 5 GROUP BY a.vec_id, b.vec_id),
         sims AS (
           SELECT d.qid, d.nid, d.dot / (na.nrm * nb.nrm) AS cos
           FROM dots d JOIN norms na ON d.qid = na.vec_id
                       JOIN norms nb ON d.nid = nb.vec_id),
         ranked AS (
           SELECT qid, nid,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank,
             round(cos, 6) + 0.0 AS cos6
           FROM sims)
         SELECT qid, nid, rank, cos6 FROM ranked
         WHERE rank <= 3 ORDER BY qid, rank""",
    "q40_cosine_topk" ->
      """WITH f AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM f GROUP BY vec_id),
         dots AS (
           SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.v*b.v) AS dot
           FROM f a JOIN f b ON a.i = b.i AND b.vec_id <> a.vec_id
           WHERE a.vec_id < 10 GROUP BY a.vec_id, b.vec_id),
         sims AS (
           SELECT d.qid, d.nid, d.dot / (na.nrm * nb.nrm) AS cos
           FROM dots d JOIN norms na ON d.qid = na.vec_id
                       JOIN norms nb ON d.nid = nb.vec_id),
         ranked AS (
           SELECT qid, nid,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank,
             round(cos, 6) + 0.0 AS cos6
           FROM sims)
         SELECT qid, nid, rank, cos6 FROM ranked
         WHERE rank <= 5 ORDER BY qid, rank""",
    // contract oracle: n_truth recomputed exactly; the recall floors and
    // endpoint monotonicity are deterministic booleans pinned TRUE (the
    // hash stack is seed-free, so the sweep is a pure function of the
    // corpus)
    // theorem-contract oracle (the q44/q210 class): monotonicity and
    // exact exhaustive endpoints are provable properties of a correct
    // implementation, so the oracle pins them as constants; n_truth is
    // derivable (6 queries x min(k, corpus-1) brute rows); graph-beam
    // has no exhaustive endpoint -> NULL
    "q331_ann_recall_frontier" ->
      """WITH nt AS (
           SELECT 6 * LEAST(10, COUNT(*) - 1) AS n FROM embeddings)
         SELECT * FROM (
           SELECT 'beam_hops' AS method, CAST(2 AS BIGINT) AS n_params,
             CAST(n AS BIGINT) AS n_truth, TRUE AS monotone_ok,
             CAST(NULL AS BOOLEAN) AS endpoint_exact_ok FROM nt
           UNION ALL SELECT 'ivf_nprobe', 3, CAST(n AS BIGINT), TRUE,
             TRUE FROM nt
           UNION ALL SELECT 'lsh_hamming', 3, CAST(n AS BIGINT), TRUE,
             TRUE FROM nt) x
         ORDER BY method""",
    // theorem-contract oracle: cumulative (anytime) recall is monotone
    // and >= the single-width leg at every width — provable from the
    // superset pool + exact re-rank; single-width monotonicity is NOT
    // a theorem and the schema says so as a constant FALSE
    "q338_beam_width_anytime" ->
      """WITH nt AS (
           SELECT 6 * LEAST(10, COUNT(*) - 1) AS n FROM embeddings)
         SELECT * FROM (
           SELECT CAST(2 AS BIGINT) AS beam, CAST(n AS BIGINT) AS n_truth,
             TRUE AS cum_monotone_ok, TRUE AS cum_ge_single_ok,
             FALSE AS single_monotone_guaranteed FROM nt
           UNION ALL SELECT 4, CAST(n AS BIGINT), TRUE, TRUE, FALSE FROM nt
           UNION ALL SELECT 8, CAST(n AS BIGINT), TRUE, TRUE, FALSE FROM nt) x
         ORDER BY beam""",
    // theorem-contract oracle: fixed-matrix assignment commutes with
    // union, so the incremental, rebuilt, and compacted indexes probe
    // identically; corpus split sizes are derivable
    "q340_ivf_delta_index" ->
      """SELECT
           CAST(SUM(CASE WHEN vec_id % 5 <> 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_main,
           CAST(SUM(CASE WHEN vec_id % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_delta,
           CAST(6 AS BIGINT) AS n_queries,
           TRUE AS incr_eq_rebuild,
           TRUE AS compact_eq_incr
         FROM embeddings""",
    "q280_lsh_param_recall" ->
      """WITH t AS (
           SELECT COUNT(*) AS n FROM documents
           WHERE doc_id < 400 AND doc_id % 7 = 3
             AND len(string_split(lower(text), ' ')) >= 14)
         SELECT * FROM (
           SELECT CAST(4 AS BIGINT) AS bands,
             CAST(4 AS BIGINT) AS rows_per_band,
             CAST(n AS BIGINT) AS n_truth,
             TRUE AS floor_ok, TRUE AS monotone_ok FROM t
           UNION ALL SELECT 8, 2, CAST(n AS BIGINT), TRUE, TRUE FROM t
           UNION ALL SELECT 16, 1, CAST(n AS BIGINT), TRUE, TRUE FROM t) x
         ORDER BY bands""",
    "q278_maxsim_retrieval" ->
      """WITH f AS (
           SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         norms AS (
           SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM f GROUP BY vec_id),
         dots AS (
           SELECT a.vec_id AS qid, b.vec_id AS cid, b.label AS doc,
             SUM(a.v * b.v) AS dot
           FROM f a JOIN f b ON a.i = b.i
           WHERE a.vec_id < 4 AND b.vec_id >= 4
           GROUP BY a.vec_id, b.vec_id, b.label),
         sims AS (
           SELECT d.doc, d.qid, d.dot / (na.nrm * nb.nrm) AS cos
           FROM dots d JOIN norms na ON na.vec_id = d.qid
                       JOIN norms nb ON nb.vec_id = d.cid),
         best AS (SELECT doc, qid, MAX(cos) AS best
                  FROM sims GROUP BY doc, qid),
         sc AS (
           SELECT doc,
             SUM(best) OVER (PARTITION BY doc ORDER BY qid
               ROWS UNBOUNDED PRECEDING) AS ms,
             ROW_NUMBER() OVER (PARTITION BY doc ORDER BY qid DESC)
               AS pick
           FROM best),
         nv AS (SELECT label AS doc, COUNT(*) AS n_vecs
                FROM embeddings WHERE vec_id >= 4 GROUP BY label)
         SELECT sc.doc, nv.n_vecs, round(sc.ms, 6) + 0.0 AS maxsim6,
           ROW_NUMBER() OVER (ORDER BY round(sc.ms, 6) + 0.0 DESC, sc.doc)
             AS rank
         FROM sc JOIN nv ON nv.doc = sc.doc
         WHERE pick = 1 ORDER BY rank""",
    // q40's machinery plus the label anti-predicate — full recompute
    "q156_hard_negatives" ->
      """WITH f AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM f GROUP BY vec_id),
         lab AS (SELECT vec_id, label FROM embeddings),
         dots AS (
           SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.v*b.v) AS dot
           FROM f a JOIN f b ON a.i = b.i AND b.vec_id <> a.vec_id
           WHERE a.vec_id < 5 GROUP BY a.vec_id, b.vec_id),
         sims AS (
           SELECT d.qid, d.nid, lb.label AS neg_label,
             d.dot / (na.nrm * nb.nrm) AS cos
           FROM dots d JOIN norms na ON d.qid = na.vec_id
                       JOIN norms nb ON d.nid = nb.vec_id
                       JOIN lab la ON d.qid = la.vec_id
                       JOIN lab lb ON d.nid = lb.vec_id
           WHERE la.label <> lb.label),
         ranked AS (
           SELECT qid, nid, neg_label,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS BIGINT) AS rank,
             round(cos, 6) + 0.0 AS cos6
           FROM sims)
         SELECT qid, nid, neg_label, rank, cos6 FROM ranked
         WHERE rank <= 3 ORDER BY qid, rank""",
    // q50 re-derived in SQL from the fixture alert fields (Fixtures
    // .agency101Csv/agency102Csv transcribed as VALUES; agency 103 is the
    // API-error envelope and never reaches the feature output): JS
    // Number() semantics (''→0, non-numeric→NaN), the zero-coordinate
    // predicate, the lat-first place fallback with silent drop
    // (task.ts:172-184), id prefixing (task.ts:215), and the exact
    // remarks whitespace template (task.ts:221-225).
    "q50_active911_features" -> active911FeaturesOracle,
    // re-bin the independently re-derived features into 0.5° cells
    "q122_geo_grid" ->
      s"""SELECT CAST(floor(lon / 0.5) AS BIGINT) AS cell_lon,
          CAST(floor(lat / 0.5) AS BIGINT) AS cell_lat,
          COUNT(*) AS n_alerts, MIN(id) AS first_id
          FROM ($active911FeaturesOracle) f
          GROUP BY 1, 2 ORDER BY cell_lon, cell_lat""",
    "q42_embedding_stats" ->
      """WITH f AS (
           SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         norms AS (
           SELECT vec_id, any_value(label) AS label, sqrt(sum(v*v)) AS nrm
           FROM f GROUP BY vec_id)
         SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n,
           round(avg(nrm), 4) AS avg_norm
         FROM norms GROUP BY label ORDER BY label""",
    // replay of the greedy farthest-first ladder from an all-pairs
    // rounded-distance CTE (the O(n²) oracle-only spelling); each
    // round: min-dist to the selected set, argmax with vec_id
    // tie-break; radius = max min-dist among the unselected
    "q312_kcenter_coreset" ->
      """WITH f AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         nrm AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM f GROUP BY vec_id),
         nz AS (SELECT vec_id FROM nrm WHERE nrm > 0),
         pd AS MATERIALIZED (
           SELECT a.vec_id AS pa, b.vec_id AS pb,
             round(1 - sum(a.v*b.v) / (na.nrm * nb.nrm), 6) AS dd
           FROM f a JOIN f b ON a.i = b.i AND a.vec_id <> b.vec_id
           JOIN nrm na ON na.vec_id = a.vec_id AND na.nrm > 0
           JOIN nrm nb ON nb.vec_id = b.vec_id AND nb.nrm > 0
           GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm),
         s1 AS MATERIALIZED (SELECT MIN(vec_id) AS id FROM nz),
         p2 AS MATERIALIZED (SELECT pa AS id, dd FROM (
             SELECT pa, MIN(dd) AS dd FROM pd
             WHERE pb IN (SELECT id FROM s1)
               AND pa NOT IN (SELECT id FROM s1) GROUP BY pa)
           ORDER BY dd DESC, id LIMIT 1),
         s2 AS MATERIALIZED (SELECT id FROM s1 UNION ALL SELECT id FROM p2),
         p3 AS MATERIALIZED (SELECT pa AS id, dd FROM (
             SELECT pa, MIN(dd) AS dd FROM pd
             WHERE pb IN (SELECT id FROM s2)
               AND pa NOT IN (SELECT id FROM s2) GROUP BY pa)
           ORDER BY dd DESC, id LIMIT 1),
         s3 AS MATERIALIZED (SELECT id FROM s2 UNION ALL SELECT id FROM p3),
         p4 AS MATERIALIZED (SELECT pa AS id, dd FROM (
             SELECT pa, MIN(dd) AS dd FROM pd
             WHERE pb IN (SELECT id FROM s3)
               AND pa NOT IN (SELECT id FROM s3) GROUP BY pa)
           ORDER BY dd DESC, id LIMIT 1),
         s4 AS MATERIALIZED (SELECT id FROM s3 UNION ALL SELECT id FROM p4),
         p5 AS MATERIALIZED (SELECT pa AS id, dd FROM (
             SELECT pa, MIN(dd) AS dd FROM pd
             WHERE pb IN (SELECT id FROM s4)
               AND pa NOT IN (SELECT id FROM s4) GROUP BY pa)
           ORDER BY dd DESC, id LIMIT 1),
         s5 AS MATERIALIZED (SELECT id FROM s4 UNION ALL SELECT id FROM p5),
         p6 AS MATERIALIZED (SELECT pa AS id, dd FROM (
             SELECT pa, MIN(dd) AS dd FROM pd
             WHERE pb IN (SELECT id FROM s5)
               AND pa NOT IN (SELECT id FROM s5) GROUP BY pa)
           ORDER BY dd DESC, id LIMIT 1),
         s6 AS MATERIALIZED (SELECT id FROM s5 UNION ALL SELECT id FROM p6),
         radius AS MATERIALIZED (
           SELECT MAX(dd) AS r FROM (
             SELECT pa, MIN(dd) AS dd FROM pd
             WHERE pb IN (SELECT id FROM s6)
               AND pa NOT IN (SELECT id FROM s6) GROUP BY pa)),
         sel AS MATERIALIZED (
           SELECT 1 AS r, id, CAST(NULL AS DOUBLE) AS dd FROM s1
           UNION ALL SELECT 2, id, dd FROM p2
           UNION ALL SELECT 3, id, dd FROM p3
           UNION ALL SELECT 4, id, dd FROM p4
           UNION ALL SELECT 5, id, dd FROM p5
           UNION ALL SELECT 6, id, dd FROM p6)
         SELECT CAST(r AS BIGINT) AS sel_round, id AS vec_id,
           dd + 0.0 AS dist6,
           (SELECT r + 0.0 FROM radius) AS radius6
         FROM sel ORDER BY sel_round""")
}
