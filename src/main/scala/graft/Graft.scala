package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Shared helpers: session defaults + harness-table loader.
  *
  * All queries take `(SparkSession, sfDir)` per the driver contract
  * (SparkEntry.scala); tables are the driver-generated parquet files
  * described in /root/repo/TESTDATA.md.
  */
object Graft {

  /** Session tuned for the harness: local mode, UTC, shuffle partitions
    * sized to the master's task slots (not the 200 default) — N for
    * `local[N]`, every core otherwise — so no reduce task waits for a
    * slot; AQE on. ANSI off so string→number
    * coercion yields NULL (JS-like lenient semantics of the reference,
    * task.ts:172 `Number(...)`) instead of throwing.
    */
  def session(master: String = s"local[${Runtime.getRuntime.availableProcessors}]"): SparkSession = {
    val cpus = master match {
      case LocalThreads(n) => n
      case _ => Runtime.getRuntime.availableProcessors.toString
    }
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Checkpoint-file checksums deadlock under many concurrent state-store
      // commits in local mode (tasks block in ChecksumCancellableFSDataOutputStream
      // .close awaiting the checksum writer pool); corruption detection is for
      // remote checkpoint stores, not local-disk test checkpoints.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // Without libhadoop, Hadoop's local file system forks a process for
      // two operations: `readlink`, 8 times per FileContext rename
      // (ChecksumFs.renameInternal → FileUtil.readLink), and `chmod` on
      // every create (RawLocalFileSystem.setPermission). A checkpointed
      // micro-batch renames and creates 5+ files, so it forked ~50
      // processes. The FileSystem-based manager renames with
      // File.renameTo, and NioLocalFileSystem sets permissions in-process.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val LocalThreads = """local\[(\d+)\]""".r

  /** [[session]] for the command-line drivers (Bench, Verify, PlanDump):
    * `local[SPARK_GRAFT_CPUS]` (default: every core) with shuffle
    * partitions set to the same count.
    */
  def driverSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = session(s"local[$cpus]")
    spark.conf.set("spark.sql.shuffle.partitions", cpus)
    spark
  }

  /** Parquet scan for a harness table (SURVEY.md §2.1 S7). Filters and
    * projections written downstream reach the scan via Catalyst pushdown.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Normalize a harness timestamp column to session-tz `TimestampType`
    * (microsecond instants), whatever physical type the generated parquet
    * carried: TIMESTAMP(NANOS) arrives as an epoch-nano long (via
    * `nanosAsLong`), TIMESTAMP(MICROS) without tz metadata arrives as
    * TIMESTAMP_NTZ. All conversions are exact integer math / metadata-only
    * under the UTC session; downstream integer-time arithmetic uses
    * `unix_micros`, matching the oracles' `epoch_us`/`epoch_ns`
    * truncation on any generation.
    */
  def normalizeTs(df: DataFrame, name: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(name).dataType match {
      case LongType => // epoch nanos → exact integer div to micros
        df.withColumn(name, timestamp_micros(expr(s"$name div 1000")))
      case TimestampNTZType => // UTC session: wall clock IS the instant
        df.withColumn(name, col(name).cast(TimestampType))
      case _ => df
    }
  }

  /** Spread per-row compute across cores ONLY when the input arrives
    * narrower than the cluster — the harness tables are one parquet file
    * each, i.e. a single split, so without this every per-document
    * expression runs on one core. At real scale the source is thousands
    * of splits and this is a no-op: an unconditional `repartition` there
    * would shuffle full document text for nothing. `.rdd.getNumPartitions`
    * plans but does not execute the input, so the probe is driver-only.
    */
  def spreadIfNarrow(df: DataFrame, key: Column): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(key) else df
  }

  /** 8-hex md5 prefix — the canonicalized-plan fingerprint used by Bench
    * (and by Sources for pre-materialize plans) so successive rounds can
    * diff PLANS, not just times.
    */
  def md5_8(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** Full JSON string escaping (the sink's error report, reference
    * `JSON.stringify`, task.ts:241; Bench's "errors"; Verify's
    * `oracle_sql.json`): quote, backslash,
    * and all control chars — a newline in a message must not produce
    * invalid JSON.
    */
  def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"'  => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** 16-hex md5 prefix — the batch partition key for
    * [[graft.ops.Staged.prepublishSlices]] (r13, VERDICT-r12 #3): at the
    * 10⁶-file layouts the batch prepass targets, 8-hex keys collide with
    * probability ~1 − e^(−n²/2·16⁸) ≈ 11 % at n = 10⁵ deps, and every
    * collision silently demotes two deps to the per-dep build path; 16
    * hex pushes the first expected collision past 10⁸ deps. Slice DIR
    * naming stays 8-hex ([[graft.ops.Staged.slicePath]]) — collisions
    * there are disambiguated by the fingerprint key, not the name.
    */
  def md5_16(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Cross-session-stable plan fingerprint: canonicalized optimized
    * plan with the per-JVM/per-run noise scrubbed before hashing —
    * typed-lambda object identities (`Foo$$Lambda$123/0x...@1a2b3c`),
    * bare object hashes (`@7f3c2a`), and temp staging paths
    * (`/tmp/graft_xyz_<random>`). Without the scrub, every query whose
    * plan embeds a closure or a createTempDirectory path gets a fresh
    * hash each JVM, and `tools/plan_diff.py` reads run-to-run noise as
    * plan drift (observed r4→r5→r6: q50/q68/q81/q91/q93/q136-class
    * churned every round with unchanged code).
    *
    * v2 (r6): each line's tokens are additionally SORTED in place.
    * Catalyst's canonicalized conjunct order is not stable — the same
    * q74 plan prints `Filter (isnotnull(x) AND UDF(x))` on one run and
    * the operands swapped on the next (likewise `multicommutativeop`
    * argument lists; measured flipping within one JVM) — so a
    * commutation-sensitive hash churns with unchanged code.
    *
    * v3 (r8): tokens are split down to ATOMS (maximal runs of
    * `[A-Za-z0-9_.#$]`) before the per-line sort. Root cause of the r7
    * "stable-classified plans flipped between same-code runs" finding:
    * `Canonicalize` orders commutative operands by `hashCode()`, and
    * `AttributeReference.ExprId` carries a per-JVM `jvmId` UUID, so the
    * same plan prints `1.96 * SQRT(x)` on one JVM and `SQRT(x) * 1.96`
    * on the next (reproduced: two identical-config PlanDump runs on
    * identical data flipped 7 of the 9 REVIEW-flagged r7 queries). The
    * v2 coarse split could not normalize that — the swap MOVES text
    * across a `(` boundary, changing the token multiset (`1.96 * SQRT`
    * → `SQRT` + `* 1.96`). Atom multisets are invariant under any
    * operand reorder, while a real plan change (operator, column,
    * extra predicate) still adds/removes atoms in some line. Line
    * ORDER is kept — that is the operator tree.
    *
    * v4 (r9): operator symbols are mapped to named atoms (`>=` →
    * OPGE, `+` → OPADD, longest-match first) BEFORE the atom split,
    * instead of being discarded as separators. ADVICE-r8: under v3 a
    * predicate flipped from `>` to `<=` or a `+` changed to `-`
    * produced identical signatures — a real plan regression could
    * classify as "stable". Named atoms keep the v3 invariance (the
    * per-line sort still absorbs commutative operand reorder; the
    * token is position-independent) while making every operator
    * change land in some line's multiset.
    *
    * v5 (r10): comparison DIRECTIONS are unified — `<`/`>` → one atom
    * (OPLTGT), `<=`/`>=` → another (OPLEGE). Root cause of the r9
    * "stable-classified q221 flipped between same-code artifacts"
    * residue, caught by diffing the now-default-on bench plan capture
    * against a subset run: `Canonicalize.expressionReorder` normalizes
    * a comparison so the smaller-HASHCODE operand comes first,
    * FLIPPING the operator as needed (`a < b` ⇔ `b > a`), and operand
    * hashCodes embed the per-JVM ExprId jvmId — so the printed
    * direction is bimodal across JVMs with identical code (observed:
    * q221's radius predicate, OPLT in a fresh-JVM subset run, OPGT in
    * the full-suite bench, all else byte-identical). After the v3
    * per-line operand sort, a mirrored comparison differs ONLY by
    * that direction atom, so the atom is pure noise: unifying it
    * loses nothing the sort hadn't already erased (a real `a < b` →
    * `a > b` edit canonicalizes to mirrored operand order — invisible
    * to any order-insensitive hash; the ORACLE catches value-level
    * regressions), while strict-vs-inclusive (`<` → `<=`) and every
    * other operator change still flip the signature. Hashes are NOT
    * comparable across the v2→v3, v3→v4, or v4→v5 boundaries.
    */
  private val SymbolAtoms: Seq[(String, String)] = Seq(
    "<=>" -> " OPNSEQ ", ">=" -> " OPLEGE ", "<=" -> " OPLEGE ",
    "=" -> " OPEQ ", "<" -> " OPLTGT ", ">" -> " OPLTGT ",
    "+" -> " OPADD ", "-" -> " OPSUB ", "*" -> " OPMUL ",
    "/" -> " OPDIV ", "%" -> " OPMOD ", "!" -> " OPNOT ",
    "&" -> " OPAMP ", "|" -> " OPBAR ", "^" -> " OPXOR ",
    "~" -> " OPTLD ")

  def planScrub(plan: String): String = {
    val noNoise = plan
      .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-fA-F]+", "\\$\\$Lambda")
      .replaceAll("@[0-9a-f]{6,}", "@x")
      .replaceAll("/tmp/[A-Za-z0-9._/-]+", "/tmp/X")
    val named = SymbolAtoms.foldLeft(noNoise) {
      case (acc, (sym, atom)) => acc.replace(sym, atom)
    }
    named.split("\n")
      .map { line =>
        val atoms = line.split("[^A-Za-z0-9_.#$]+").map(_.trim)
          .filter(_.nonEmpty)
        // v7 (r13, ADVICE-r12): append the line's count of DISTINCT
        // exprId ordinals as an atom before scrubbing them. This
        // restores exactly the within-line distinction v6 gave up —
        // `Filter (a#1 = a#1)` carries NREF1, `Filter (a#1 = a#2)`
        // NREF2 — with NO new cross-run noise: a distinct-count is
        // invariant under both the commutative operand reorder AND the
        // ordinal-binding permutation (the q232 class), whereas the
        // suggested per-line first-occurrence RENUMBERING is keyed on
        // text position, which those two reorders permute across runs
        // (run A `none#1 = none#2L` / run B `none#2L = none#1`
        // renumber to DIFFERENT suffix-ordinal pairings), i.e. it
        // would reintroduce the very instability v6 removed. A
        // cross-LINE binding permutation moves ordinal VALUES between
        // lines but never a line's distinct count.
        val nref = atoms.iterator
          .flatMap(a => "#\\d+".r.findAllIn(a)).toSet.size
        // v6 (r12, VERDICT-r11 #6): drop canonicalized exprId ORDINALS
        // from attribute atoms. The q232 bimodal's root cause: two runs
        // of the same code on the same data emit the same atom MULTISET
        // but permute which ordinal binds to which attribute
        // (`none#1`+`none#2L` vs `none#1L`+`none#2`) — the ordinal is
        // per-run canonicalization noise, not plan structure. Type
        // suffix and atom multiplicity are kept, so operator flips,
        // type changes, and arity changes still flip the signature.
        (atoms.map(_.replaceAll("#\\d+", "#")).sorted :+ s"NREF$nref")
          .mkString("|")
      }
      .mkString("\n")
  }

  def planSignature(df: DataFrame): String = md5_8(
    planScrub(df.queryExecution.optimizedPlan.canonicalized.toString))

  /** Signed-zero-safe round for float-emitting oracle columns (SURVEY §5
    * convention). `round` of a tiny negative (e.g. a covariance cell that
    * is -1e-9) yields `-0.0` in DuckDB but `+0.0` through Spark's
    * BigDecimal HALF_UP path; the values compare numerically equal, but
    * the driver hashes serialized bytes, so the row mismatches. IEEE 754
    * `-0.0 + 0.0 = +0.0` in every engine, so adding a literal zero AFTER
    * the round normalizes the sign on both sides. Every oracle pair whose
    * rounded quantity can straddle zero uses this helper and writes
    * `round(...) + 0.0` in its DuckDB SQL.
    */
  def roundz(c: Column, scale: Int): Column = {
    import org.apache.spark.sql.functions.{lit, round}
    round(c, scale) + lit(0.0)
  }

  /** Depth-first delete of a staging directory (shared by the queries
    * and specs that round-trip through temp files — one definition, not
    * a copy per file).
    */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      // Using.resource: Files.walk holds directory handles until closed
      scala.util.Using.resource(java.nio.file.Files.walk(p))(
        _.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_)))
    }
  }
}
