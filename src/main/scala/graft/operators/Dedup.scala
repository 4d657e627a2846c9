package graft.operators

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

/** Deduplication for training-data pipelines (SURVEY §2.9 L1/L2):
  * exact content hash, MinHash-LSH near-dup (Broder's min-wise hashing
  * with banded LSH), SimHash near-dup (Charikar's random-projection
  * fingerprints), n-gram Jaccard verification. All stages are keyed and partitionable — the
  * 100 TB shapes are:
  *
  *  - exact: one shuffle on the 256-bit content hash (uniform keys, no
  *    skew), map-side nothing; identical to a distributed GROUP BY.
  *  - MinHash-LSH: per-row signature (narrow) → explode to `bands` rows
  *    → shuffle on (band, bandHash) → pairs only within buckets. The
  *    crossJoin-per-bucket is bounded by bucket size; no global O(n²).
  *  - SimHash: per-row 64-bit signature → self-join on signature
  *    prefix-buckets, verify Hamming distance within bucket.
  *
  * MinHash here is arithmetic (`(a*h + b) mod p` over a portable string
  * hash), not `ml.feature.MinHashLSH`, so signatures are reproducible
  * across engines and the planted-near-dup property tests are stable.
  */
object Dedup {

  /** L1 — exact dedup: keep the smallest `idCol` per sha256(text).
    * NULL texts are not duplicates of each other — they all pass through,
    * routed AROUND the window as a separate filter branch rather than
    * through it. Routing them through (the previous shape, kept via
    * `|| isNull` on the row_number) was result-identical but funneled
    * every NULL row into the single NULL-hash window partition: at ~1%
    * NULLs on a 100 TB corpus that is one straggler task holding ~1 TB.
    * The NULL branch here is a narrow filter over the source (no
    * shuffle); the non-NULL branch's `isNotNull` filter pushes to the
    * scan, so NULL rows never enter the window exchange at all
    * (pinned by DedupSpec). Cost: the source is scanned twice — cheap
    * for a columnar scan, and strictly better than the straggler once
    * NULLs are non-negligible.
    *
    * Determinism requirement: because the two branches re-evaluate `df`
    * with complementary isNull/isNotNull filters, `df` must be
    * deterministic — an upstream `rand()`/`sample`, or an uncached
    * shuffle recomputed after executor loss, can make the scans disagree
    * and rows drop from (or duplicate into) BOTH branches. Persist or
    * `localCheckpoint()` such an input before calling (the single-scan
    * shape this replaced did not have the requirement; the straggler fix
    * is worth stating it). */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    // uniquified temp columns — fixed names would clobber caller columns
    val h = hashName(df)
    val rn = graft.Cols.fresh(df.columns, "__rn")
    val w = Window.partitionBy(col(h)).orderBy(col(idCol))
    df.where(t.isNotNull)
      .withColumn(h, sha2(t, 256))
      .withColumn(rn, row_number().over(w))
      .where(col(rn) === 1)
      .drop(h, rn)
      .unionByName(df.where(t.isNull))
  }

  /** L1 incremental — drop rows of `newDf` whose text already exists in
    * `history` (the continuous-ingest form of [[exact]]: each arriving
    * batch is deduped against the corpus accumulated so far, not within
    * itself — compose with [[exact]] for both).
    *
    * Scale shape: the comparison is a left-anti join on the 256-bit
    * content hash, with only the hash column projected off the history
    * side — at 100 TB the history scan reads one column, and the join
    * shuffles (hash, nothing) pairs, never documents. Spark's runtime
    * bloom-filter injection (`spark.sql.optimizer.runtime.bloomFilter.*`,
    * on by default) further prunes the big side's shuffle map-side when
    * the new batch is small — the declarative join is the right surface
    * for the optimizer to see that. */
  def exactIncremental(newDf: DataFrame, history: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    // uniquified temp hash column (the Sampling.tempName pattern): a
    // fixed "__h" would silently clobber — then drop — a caller column
    val h = hashName(newDf)
    val seen = history.select(sha2(col(textCol), 256).alias(h)).distinct()
    // NULL text is never a duplicate of anything (same contract as
    // [[exact]]) — and a NULL join key would not match anyway; keep the
    // pass-through explicit
    newDf.withColumn(h, sha2(col(textCol), 256))
      .join(seen, Seq(h), "left_anti")
      .drop(h)
  }

  /** Temp hash-column name absent from `df` (join-key columns must be
    * same-named on both sides, so one name per call). */
  private def hashName(df: DataFrame): String = graft.Cols.fresh(df.columns, "__h")

  /** L1 incremental, broadcastable-batch form — same result as
    * [[exactIncremental]] (batch rows whose text the history has not
    * seen), but with the join flipped so the history side NEVER
    * shuffles:
    *
    *  1. broadcast the batch's distinct content hashes and left-SEMI
    *     filter the history against them — a map-side broadcast join,
    *     so the (100 TB) history scan reads one column and emits at
    *     most |batch| distinct surviving hashes, with zero exchange;
    *  2. left-anti join the batch against those survivors — also
    *     broadcast (the survivor set is ≤ the batch's key set by
    *     construction).
    *
    * Restricting history to hashes that appear in the batch cannot
    * change the anti-join: a history hash absent from the batch matches
    * nothing. Net: ZERO shuffles end-to-end (pinned in PlanSpec), vs
    * [[exactIncremental]]'s history-wide hash shuffle. Use THIS form
    * whenever one batch's hash set fits a broadcast (the continuous-
    * ingest common case: batches are minutes of data, history is
    * everything); fall back to [[exactIncremental]] for backfills where
    * the "batch" itself is corpus-sized.
    *
    * The survivor set is broadcast WITHOUT a distinct (a distinct is a
    * shuffle — exactly what this form exists to avoid), so its size is
    * one row per surviving history ROW, not per hash. That is the
    * batch's key count whenever the history is itself exact-deduped —
    * the invariant every ingest loop built on this family maintains
    * ([[exact]] on day 0, survivors-only appends after). Deduplicate
    * the history first (or use [[exactIncremental]]) if it can hold
    * many copies of a text. */
  def exactIncrementalProbe(newDf: DataFrame, history: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val h = hashName(newDf)
    // no distinct on either broadcast side: a distinct IS a shuffle.
    // Duplicate keys pad the broadcast but do not change semi/anti
    // semantics; within-batch dups are [[exact]]'s job (family contract)
    val batchKeys = newDf.where(col(textCol).isNotNull)
      .select(sha2(col(textCol), 256).alias(h))
    val survivors = history.select(sha2(col(textCol), 256).alias(h))
      .join(broadcast(batchKeys), Seq(h), "left_semi")
    newDf.withColumn(h, sha2(col(textCol), 256))
      .join(broadcast(survivors), Seq(h), "left_anti")
      .drop(h)
  }

  /** 31-bit string hash via the codegen'd xxhash64 kernel (a per-char
    * fold in higher-order functions costs ~1000× more — measured 86 s vs
    * <1 s for 5k docs' signatures). Deterministic within Spark, which is
    * all the rows-only LSH entries and property tests need; masked to
    * 31 bits so the `(h*a + b) mod p` family below never overflows. */
  private def strHash(s: Column): Column =
    xxhash64(s).bitwiseAND(lit(0x7fffffffL))

  /** MinHash signature: for shingle set S, sig_i = min over s in S of
    * ((a_i * hash(s) + b_i) mod p), with fixed seeds per row i.
    *
    * Scale note: the `hashes` subtree is INLINED `numHashes` times in the
    * array below, and Spark's subexpression elimination skips
    * lambda-containing trees — so this single-Column form re-hashes every
    * shingle `numHashes`×. Callers that can afford a project boundary
    * should materialize [[shingleHashes]] as its own column and call
    * [[minhashSignatureOfHashes]] (CollapseProject keeps a non-cheap
    * alias referenced many times in its own project, so the hash pass
    * then runs once per row). [[minhashCandidates]] does. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    minhashSignatureOfHashes(shingleHashes(shingles), numHashes)

  /** 31-bit hash array of a shingle set — materialize this once per row,
    * then feed [[minhashSignatureOfHashes]]. */
  def shingleHashes(shingles: Column): Column =
    transform(shingles, s => strHash(s))

  /** [[minhashSignature]] over a precomputed [[shingleHashes]] array:
    * only the cheap `(a*h+b) mod p` long arithmetic runs per hash
    * function. Identical values to the one-shot form by construction. */
  def minhashSignatureOfHashes(hashes: Column, numHashes: Int): Column = {
    val p = 2147483647L
    array((0 until numHashes).map { i =>
      val a = 1L + 2L * ((1103515245L * i + 12345L) % 1000000L) // odd
      val b = (69069L * i + 1234567L) % p
      array_min(transform(hashes, h => (h * a + b) % p))
    }: _*)
  }

  /** Drop rows in bucket keys holding more than `cap` rows — the LSH
    * skew guard. Degenerate content (empty docs, boilerplate) piles
    * thousands of rows into one bucket and makes its self-join quadratic
    * in a single task; candidates from such buckets are near-useless
    * (everything matches everything), so they are excluded from pair
    * generation. Implemented as a count-over-window on the SAME keys the
    * candidate join shuffles on: the window's exchange satisfies the
    * join's partitioning requirement, so the guard adds a sort, not a
    * second aggregation branch that would recompute the (expensive)
    * signature frame once more per consumer. */
  private def dropOversizedBuckets(banded: DataFrame, keys: Seq[String],
      cap: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    banded.withColumn("__bn", count(lit(1)).over(w))
      .where(col("__bn") <= cap).drop("__bn")
  }

  /** Banded MinHash signature frame — (idCol, __band, __bandsig): one row
    * per (document, band), where __bandsig is that band's slice of the
    * MinHash signature. This is the unit both the batch self-join
    * ([[minhashCandidates]]) and the incremental probe
    * ([[minhashIncremental]]) bucket on; two documents sharing any
    * (band, bandsig) are LSH candidates. Narrow: carries ids and fixed
    * `bands`-element slices only, never shingle sets. */
  def bandedSignatures(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val rows = numHashes / bands
    df
      .withColumn("__toks", TF.tokens(col(textCol)))
      .withColumn("__shingles", TF.shingleSetOfTokens(col("__toks"), shingleN))
      // hash array in its own project: the signature's 16 array_min
      // branches then read an attribute instead of re-hashing 16×
      .withColumn("__hashes", shingleHashes(col("__shingles")))
      .withColumn("__sig", minhashSignatureOfHashes(col("__hashes"), numHashes))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice(col("__sig"), b * rows + lit(1), lit(rows)))))
      .withColumnRenamed("pos", "__band")
      .withColumnRenamed("col", "__bandsig")
  }

  /** Shingle-set frame — (idCol, __sh): the verification side of the LSH
    * family (candidate pairs re-attach these by id and compute exact
    * Jaccard). Tokens materialize before shingling — see the scale note
    * in [[minhashCandidates]]. */
  private[graft] def shingleFrame(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3): DataFrame =
    df.withColumn("__toks", TF.tokens(col(textCol)))
      .select(col(idCol), TF.shingleSetOfTokens(col("__toks"), shingleN).alias("__sh"))

  /** [[bandedSignatures]] derived from an EXISTING (idCol, __sh)
    * shingle frame — the share-one-pass form: callers that need both
    * the banded and the shingle frames (candidates' Jaccard join-backs,
    * the paired history writes) materialize [[shingleFrame]] once and
    * derive this from it, instead of re-running tokenize+shingle per
    * consumer (r20 A/B: 1.79 → 1.45 s on the sf0.1 candidates path,
    * pair-set identical). Values are [[bandedSignatures]]'s by
    * construction — same hash columns over the same shingle sets. */
  private def bandedOfShingles(shingled: DataFrame, idCol: String,
      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val rows = numHashes / bands
    shingled
      .withColumn("__hashes", shingleHashes(col("__sh")))
      .withColumn("__sig", minhashSignatureOfHashes(col("__hashes"), numHashes))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice(col("__sig"), b * rows + lit(1), lit(rows)))))
      .withColumnRenamed("pos", "__band")
      .withColumnRenamed("col", "__bandsig")
  }

  /** L2 — MinHash-LSH candidate pairs: band the signature, bucket-join,
    * emit candidate (idA < idB) pairs with their verified shingle-Jaccard.
    *
    * Scale shape: the banded self-join carries ONLY (id, band, bandsig) —
    * shingle sets are re-attached by id after pair generation, so the
    * band shuffle moves ids, not 2×bands copies of every shingle array.
    * Buckets larger than `maxBucket` are sidelined (see
    * [[dropOversizedBuckets]]): a degenerate bucket would otherwise go
    * quadratic in one task. Recall for genuinely-near documents is
    * unaffected at sane caps — only content so common it collides
    * `maxBucket`+ times per band is skipped, and exact dedup (L1) is the
    * right tool for that content anyway. Pass `maxBucket = Int.MaxValue`
    * when verifying recall guarantees (the l02d contract does).
    *
    * Barrier trade: the shared shingle frame is a lazy
    * `localCheckpoint`, so its lineage is truncated and its blocks live
    * only in executor block managers. An executor lost mid-job fails
    * the job instead of recomputing the blocks; the caller reruns it
    * (the operator is deterministic). That suits bounded batches; a
    * multi-hour corpus-scale run pays a full rerun per executor loss.
    *
    * @param bands number of bands; rows per band = numHashes/bands.
    * @param maxBucket per-(band, bandsig) bucket-size cap. */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      maxBucket: Int = 128): DataFrame = {
    // ONE tokenize+shingle pass (r20, the VERDICT #5 A/B): the shingle
    // frame lazily materializes (no extra job — the band exchange's map
    // stage computes every partition) and feeds the signatures AND both
    // Jaccard join-back sides, where the previous shape re-derived the
    // token pipeline per consumer (3×). Narrow (id, shingle-array)
    // blocks; the executor-loss trade is the loop barriers' (lineage
    // truncated — a lost executor fails the bounded job, callers rerun).
    val shingled = shingleFrame(df, textCol, idCol, shingleN)
      .localCheckpoint(false)
    val banded = bandedOfShingles(shingled, idCol, numHashes, bands)
    val bounded = dropOversizedBuckets(banded, Seq("__band", "__bandsig"), maxBucket)
    // aliased SELF-join: both sides are the same plan, so the bucket-key
    // exchange is computed once and reused (ReusedExchange) — the
    // signature pass runs once, not once per side
    val pairs = bounded.as("a").join(bounded.as("b"),
        col("a.__band") === col("b.__band") &&
          col("a.__bandsig") === col("b.__bandsig"))
      .where(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").alias("id_a"), col(s"b.$idCol").alias("id_b"))
      .distinct()
    // verify on the candidate pairs only: re-attach shingle sets by id
    // AFTER pair generation, so the banded shuffle above moved ids only.
    // The shingle arrays are real attributes below this join — a caller's
    // `jaccard >= t` filter that Catalyst pushes into the join condition
    // then references attributes (O(set) per pair); shingling the pair's
    // raw texts here instead would inline the token pipeline into that
    // pushed predicate, O(tokens²) per pair (measured 3×). Tokens
    // materialize before shingling for the same reason
    // (TextFunctions.ngramsOfTokens scale note).
    pairs
      .join(shingled.select(col(idCol).alias("id_a"), col("__sh").alias("sh_a")), Seq("id_a"))
      .join(shingled.select(col(idCol).alias("id_b"), col("__sh").alias("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), TF.jaccard(col("sh_a"), col("sh_b")).alias("jaccard"))
  }

  // ================= persisted dedup HISTORIES =================
  // Every incremental leg probes a persisted history: bucketed main
  // tables, each with a sibling delta directory of replay-safe
  // `batch-<id>/` appends (overwrite-own-dir, skipped once the fold
  // manifest records the batch), folded back in by
  // [[Layout.foldDeltaIntoBucketed]] (commit record + manifest — every
  // crash state recoverable). That is the delta-plus-periodic-rebuild
  // index policy, and it is written ONCE: a [[History]] descriptor per
  // family lists its tables in fold order, and ensure / drop / fold /
  // foldIfNeeded are the same code for every family. Table names,
  // bucket keys and delta paths are the families' own, unchanged.

  /** One table of a [[History]]: the suffix on the history's base name,
    * its bucket keys (given the id column — `_sh` buckets on it) and
    * its rows over an empty source frame, which derives the empty
    * schema from the id field alone. */
  private[operators] final case class HistoryTable(suffix: String,
      keys: String => Seq[String], empty: (SparkSession, StructField) => DataFrame)

  /** A persisted dedup history family: its tables in FOLD order. */
  final class History private[operators] (
      private[operators] val tables: Seq[HistoryTable]) {

    /** Both families' tables, this one's first. */
    def ++(that: History): History = new History(tables ++ that.tables)

    /** Create every MISSING table as an empty bucketed table, never
      * touching an existing one — the crash-safe first-use init of the
      * delta ingest loops. A blanket drop-and-rewrite on one missing
      * table would destroy folded rows of its siblings in the deeper
      * crash state (init half-crashed, deltas then partially folded);
      * per-table creation leaves whatever survived intact. A table
      * created from scratch is DEFINED empty: its delta state can only
      * be a leftover of a destroyed prior incarnation (a new session
      * over an old warehouse under the in-memory metastore), and
      * probing it would find phantom matches, so it is cleared. */
    def ensure(spark: SparkSession, table: String, idField: StructField,
        numBuckets: Int): Unit =
      tables.foreach { h =>
        val t = table + h.suffix
        if (!spark.catalog.tableExists(t)) {
          Layout.dropWithDelta(spark, t)
          Layout.writeBucketed(h.empty(spark, idField), t, h.keys(idField.name),
            numBuckets)
        }
      }

    /** Drop every table AND its warehouse location and delta state. The
      * location delete matters across sessions — with a non-durable
      * metastore (the default in-memory Derby) a new session's catalog
      * has no entry for the old table, so `saveAsTable` takes the
      * CREATE path and refuses with LOCATION_ALREADY_EXISTS over the
      * surviving directory. Rebuilds from scratch drop first. */
    def drop(spark: SparkSession, table: String): Unit =
      tables.foreach(h => Layout.dropWithDelta(spark, table + h.suffix))

    /** Fold every table's delta into its bucketed main, in fold order.
      * The order is each family's crash-window contract: a band table
      * folds before its `_sh` (probes verify against main ∪ `_sh`
      * delta, so a crash between the two stays correct), `_vb` before
      * `_vn`, and the intake hash table `_xh` last (probes read it as
      * main ∪ delta). */
    def fold(spark: SparkSession, table: String): Unit =
      tables.foreach(h => Layout.foldDeltaIntoBucketed(spark, table + h.suffix,
        noSpecHint = "not a dedup history table"))

    /** [[fold]] when the family's summed delta bytes reach
      * `maxDeltaRatio` of its mains — [[Layout.foldIfDue]]'s byte-ratio
      * trigger (no jobs; a family with any table missing never folds).
      * Returns true when a fold ran. */
    def foldIfNeeded(spark: SparkSession, table: String,
        maxDeltaRatio: Double = 0.10): Boolean =
      Layout.foldIfDue(spark, tables.map(table + _.suffix), maxDeltaRatio)(
        fold(spark, table))
  }

  /** Empty source frames the history schemas derive from: (id, text)
    * for the text families, the [[Multimodal.multimodalIdentities]]
    * row for the modality families. */
  private def emptyText(spark: SparkSession, id: StructField): DataFrame =
    emptyFrame(spark, id, StructField("__text", StringType))
  private def emptyIdentities(spark: SparkSession, id: StructField): DataFrame =
    emptyFrame(spark, id, StructField("__ph", LongType),
      StructField("__asig", LongType),
      StructField("__fhs", ArrayType(LongType, containsNull = false)))
  private def emptyFrame(spark: SparkSession, fields: StructField*): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), StructType(fields))

  /** Near-dedup band history: the banded signatures (the base name,
    * bucketed on exactly the probe's `(__band, __bandsig)`) and the
    * shingle sets (`_sh`, bucketed on the id) —
    * [[writeBandHistory]]'s two tables. */
  val BandHistory = new History(Seq(
    HistoryTable("", _ => Seq("__band", "__bandsig"),
      (s, id) => bandedSignatures(emptyText(s, id), "__text", id.name)),
    HistoryTable("_sh", id => Seq(id),
      (s, id) => shingleFrame(emptyText(s, id), "__text", id.name))))

  /** An exact-hash history table: (__xid, __xh), bucketed on the hash. */
  private def hashTable(suffix: String) = HistoryTable(suffix, _ => Seq("__xh"),
    (s, id) => hashFrame(emptyText(s, id), "__text", id.name))

  /** The text intake history: [[BandHistory]] plus the EXACT-dedup hash
    * history `_xh` — one (id, sha256(text)) row per accumulated
    * document, bucketed on the hash: two narrow columns at any corpus
    * size. The intake loop probes it ([[exactIncrementalDelta]]: batch
    * hashes broadcast, the history never exchanges) to drop texts the
    * corpus already accepted — the cheap pre-filter that spares the LSH
    * probe, and the only way to catch SHORT exact duplicates (an empty
    * shingle set never surfaces as an LSH candidate). Folded last: its
    * probe reads main ∪ delta, so an unfolded `_xh` delta is simply
    * still delta-side. */
  val IntakeHistory = BandHistory ++ new History(Seq(hashTable("_xh")))

  /** Canonical-URL history `<table>_url_xh` — the exact-hash table over
    * canonical URLs ([[UrlOps.urlIncrementalDelta]]). */
  val UrlHistory = new History(Seq(hashTable("_url_xh")))

  /** Paragraph-hash history `_pg` ([[paragraphIncrementalDelta]]). */
  val ParagraphHistory = new History(Seq(HistoryTable("_pg", _ => Seq("__ph"),
    (s, id) => paragraphFrame(emptyText(s, id), "__text", id.name))))

  /** Image dHash history `_ph` ([[imageIncrementalDelta]]). */
  val ImageHistory = new History(Seq(HistoryTable("_ph", _ => Seq("__ph"),
    (s, id) => imageRows(emptyIdentities(s, id), id.name))))

  /** Audio band history `_ab` ([[audioIncrementalDelta]]). */
  val AudioHistory = new History(Seq(HistoryTable("_ab", _ => Seq("__band", "__bucket"),
    (s, id) => audioBandFrame(audioSigs(emptyIdentities(s, id), id.name)))))

  /** Video history ([[videoIncrementalDelta]]): banded frame rows `_vb`
    * and the vote denominators `_vn`. */
  val VideoHistory = new History(Seq(
    HistoryTable("_vb", _ => Seq("__fidx", "__band", "__bucket"),
      (s, id) => videoBandFrame(videoFrameRows(emptyIdentities(s, id), id.name))),
    HistoryTable("_vn", _ => Seq("__pid"),
      (s, id) => videoCountRows(emptyIdentities(s, id), id.name))))

  /** The three modality histories of a multimodal intake. */
  val MultimodalHistory = ImageHistory ++ AudioHistory ++ VideoHistory

  /** Persist a document set's LSH state as the INCREMENTAL near-dedup
    * history: two bucketed tables,
    *
    *  - `table` — the banded signature frame, bucketed AND sorted on
    *    exactly the probe join's keys `(__band, __bandsig)` — exactly,
    *    because the planner's co-partition check
    *    (`spark.sql.requireAllClusterKeysForCoPartition`, default on)
    *    only elides the history-side exchange when the bucket spec
    *    matches ALL the join's clustering keys in order;
    *  - `table_sh` — the shingle-set frame, bucketed on `idCol`, so
    *    Jaccard verification reads stored shingles instead of
    *    re-tokenizing history text.
    *
    * The point at 100 TB: signatures and shingles for the accumulated
    * corpus are computed ONCE, at ingest; each arriving batch probes the
    * bucketed layout with ZERO exchange on the history side (pinned in
    * PlanSpec). Storage is the classic trade — the `_sh` table is about
    * the corpus' token volume.
    *
    * @param numBuckets bucket count for both tables — size so one bucket
    *   of the banded table fits a task at the target corpus (same dial
    *   as shuffle partitions; 100 TB wants thousands, tests use few). */
  def writeBandHistory(df: DataFrame, textCol: String, idCol: String,
      table: String, numBuckets: Int, shingleN: Int = 3, numHashes: Int = 16,
      bands: Int = 4): Unit = {
    val spark = df.sparkSession
    // a rebuild starts a new generation: the old deltas (and their fold
    // manifests) must not leak into its probes or skip its batch ids
    Seq(table, s"${table}_sh").foreach(t =>
      Layout.deleteDeltaState(spark, Layout.deltaDirOf(spark, t)))
    val banded = bandedSignatures(df, textCol, idCol, shingleN, numHashes, bands)
    Layout.writeBucketed(banded, table, Seq("__band", "__bandsig"), numBuckets)
    Layout.writeBucketed(shingleFrame(df, textCol, idCol, shingleN),
      s"${table}_sh", Seq(idCol), numBuckets)
  }

  /** REPLAY-SAFE delta append to a band history — the
    * [[Similarity.appendToIvfDelta]] discipline applied here: a direct
    * bucketed-table append cannot be made idempotent without a
    * recovery rewrite (a replayed micro-batch
    * appends its rows twice), so the streaming ingest loop lands each
    * batch in `batch-<batchId>/` subdirectories of BOTH tables' delta
    * directories with mode=overwrite — a replay deterministically
    * overwrites its own directory, and the accumulated (100 TB) main
    * tables are never read or rewritten on the hot path.
    *
    * Write order is shingles FIRST, bands second: a crash between the
    * two leaves shingles without bands for the batch — invisible to
    * probes (band pairs drive the candidate join) — rather than band
    * matches whose Jaccard verification silently drops for missing
    * shingles. Probes see delta rows immediately
    * ([[minhashIncremental]] reads main ∪ delta); fold with
    * [[BandHistory]] on whatever cadence bounds delta size.
    *
    * A batch the fold manifest records as already folded
    * ([[Layout.foldManifestDirOf]]) is SKIPPED — the replay-after-fold
    * state, where re-appending would let the next fold duplicate the
    * batch's rows in the main tables permanently. The band table's
    * manifest is the single gate for both writes: [[BandHistory]]
    * folds bands first, so a band-marked batch's shingles are either
    * folded too or still sitting in the `_sh` delta — either way a
    * skipped replay loses nothing. Corollary (the manifest contract):
    * batch ids must be monotonic over the table lifetime — one
    * streaming checkpoint; rebuild the history for a fresh stream. */
  def appendBandHistoryDelta(spark: SparkSession,
      df: DataFrame, textCol: String, idCol: String, table: String,
      batchId: Long, shingleN: Int = 3, numHashes: Int = 16,
      bands: Int = 4): Unit = {
    // the band table's gate decides for both writes; the `_sh` write
    // runs inside it, BEFORE the band rows it returns land (its own
    // gate always passes here: `_sh` folds after the band table). One
    // tokenize+shingle pass feeds both (the minhashCandidates r20
    // rationale): the _sh write materializes the lazy checkpoint, the
    // band write derives from its blocks — batch-sized
    Layout.appendDelta(spark, table, batchId) {
      val shingled = shingleFrame(df, textCol, idCol, shingleN)
        .localCheckpoint(false)
      Layout.appendDelta(spark, s"${table}_sh", batchId)(shingled)
      bandedOfShingles(shingled, idCol, numHashes, bands)
    }
  }

  /** Compact a band history down to `survivors` (a frame carrying
    * `idCol`): every accepted batch grows both tables, and
    * documents that were deleted or aged out of retention leave DEAD
    * bands behind — rows that inflate every probe's join and can even
    * resurface a removed document as a "duplicate". Retention is the
    * caller's policy: derive `survivors` from the corpus (e.g.
    * `docs.where($"ingest_ts" >= cutoff)`) and compact on whatever cadence
    * the deletion rate demands.
    *
    * Each table is rewritten keeping only surviving ids, bucketed under
    * its OWN catalog bucket spec (count and columns read back, never
    * assumed), one file per bucket — so compaction also serves as the
    * small-file fix after many appends, and the zero-exchange probe
    * property is preserved (re-pinned in DedupSpec). The swap is
    * write-tmp → drop-old → rename, the [[Layout.compact]] discipline;
    * like it, the swap is not atomic — a crash between the drop and the
    * rename leaves the ONLY copy in `<table>__compact`, and re-running
    * the compaction first completes that swap (renames the orphaned tmp
    * back in) before rewriting; a tmp coexisting with its source (died
    * mid-write) is the one shape dropped as stale.
    *
    * Scale shape: one semi-join pass per table. The band table is keyed
    * by `(__band, __bandsig)`, so the id semi-join is its one full
    * shuffle — that is the price of compaction, paid rarely and
    * amortized over every probe that no longer drags dead bands. */
  def compactBandHistory(spark: SparkSession,
      table: String, survivors: DataFrame, idCol: String): Unit = {
    require(survivors.columns.contains(idCol),
      s"survivors frame lacks id column '$idCol'")
    val ids = survivors.select(col(idCol)).distinct()
    for (src <- Seq(table, s"${table}_sh")) {
      val tmp = src + "__compact"
      if (!spark.catalog.tableExists(src) && spark.catalog.tableExists(tmp))
        // crashed between drop-old and rename: tmp holds the ONLY copy —
        // complete the interrupted swap, then compact normally (dropping
        // the tmp here instead would delete the table)
        spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$src`")
      val spec = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(src)).bucketSpec
        .getOrElse(throw new IllegalArgumentException(
          s"$src has no bucket spec — not a writeBandHistory table"))
      // a tmp COEXISTING with its source is the other crash shape (died
      // mid-write): that one really is stale
      Layout.dropTableAndLocation(spark, tmp)
      val kept = spark.table(src).join(ids, Seq(idCol), "left_semi")
      Layout.writeBucketed(kept, tmp, spec.bucketColumnNames, spec.numBuckets,
        onePassPerBucket = true)
      Layout.dropTableAndLocation(spark, src)
      spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$src`")
    }
  }

  /** The hash-history row shape: (__xid, __xh). Columns are renamed —
    * not the caller's names — so the probe's history-vs-batch join
    * conditions never collide with batch columns. NULL texts are
    * excluded: they are never duplicates of anything (family
    * contract), so their hashes have nothing to match. */
  private def hashFrame(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol).alias("__xid"), sha2(col(textCol), 256).alias("__xh"))

  /** Replay-safe delta append to a hash history — one `batch-<id>/`
    * overwrite-own-dir subdirectory per micro-batch, skipped when the
    * fold manifest records the batch as already folded (the
    * [[appendBandHistoryDelta]] discipline; same monotonic-batch-id
    * contract). */
  def appendHashHistoryDelta(spark: SparkSession,
      df: DataFrame, textCol: String, idCol: String, table: String,
      batchId: Long): Unit =
    Layout.appendDelta(spark, s"${table}_xh", batchId)(hashFrame(df, textCol, idCol))

  /** L1 incremental against a persisted hash history (main ∪ delta) —
    * the exact-dedup stage of the streaming intake loop: batch rows
    * whose text hash the history holds under a DIFFERENT id are
    * dropped. The same-id exclusion is the replay guard, exactly as in
    * [[minhashIncremental]]: a replayed batch meeting its own appended
    * hashes must recompute the identical survivor set, not an empty
    * one. NULL texts pass through (never duplicates — family
    * contract).
    *
    * Scale shape ([[exactIncrementalProbe]]'s zero-exchange form): the
    * batch's hash set broadcasts, the history — 100 TB corpus ⇒ still
    * only two narrow columns — is semi-FILTERED map-side to the
    * matching (id, hash) rows, and those broadcast back for the
    * anti-join. Neither side ever shuffles. */
  def exactIncrementalDelta(spark: SparkSession,
      newDf: DataFrame, table: String, textCol: String, idCol: String): DataFrame = {
    val h = hashName(newDf)
    val hist = Layout.withDelta(spark, s"${table}_xh")
    val batchKeys = newDf.where(col(textCol).isNotNull)
      .select(sha2(col(textCol), 256).alias(h))
    // hits is bounded by the batch's key set whenever the history is
    // exact-deduped (the loop invariant: only survivors are appended);
    // replay crash-states add at most one batch's worth of same-id rows
    val hits = hist.join(broadcast(batchKeys), col("__xh") === col(h), "left_semi")
    newDf.withColumn(h, sha2(col(textCol), 256))
      .join(broadcast(hits),
        col("__xh") === col(h) && col("__xid") =!= col(idCol), "left_anti")
      .drop(h)
  }

  /** L2 incremental — near-dup candidate pairs of a NEW batch against a
    * PERSISTED band history ([[writeBandHistory]]): the continuous-ingest
    * form of [[minhashCandidates]]. Every production dedup pipeline is
    * incremental — the corpus accumulates, batches arrive, and
    * re-signaturing 100 TB per batch is not an option.
    *
    * Scale shape: the batch (small) is signatured fresh and joined to the
    * history's banded table on the bucket key — the history side reads
    * its bucketed layout with NO exchange (only the batch side shuffles,
    * or broadcasts when tiny); verification joins the stored `_sh`
    * shingles by id, again exchange-free on the history side. Nothing in
    * the plan scales with history size except the bucketed reads
    * themselves, and those prune to the probed buckets' files at the
    * scan.
    *
    * Candidates are exact band matches verified by shingle Jaccard —
    * identical semantics to running [[minhashCandidates]] over
    * history ∪ batch and keeping only cross-side pairs (property-tested
    * in DedupSpec; the signature/banding parameters must match the ones
    * the history was written with).
    *
    * @param maxBucket per-bucket cap applied to the BATCH side (the
    *   history side was capped — or not — at write time; a probe-time
    *   history cap would need a count window, i.e. the exchange this
    *   operator exists to avoid). Degenerate batch content lands in
    *   oversized buckets and is sidelined exactly as in
    *   [[minhashCandidates]]; pass Int.MaxValue to verify recall. */
  def minhashIncremental(spark: SparkSession,
      newDf: DataFrame, historyTable: String, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      maxBucket: Int = 128): DataFrame = {
    val batch = bandedSignatures(newDf, textCol, idCol, shingleN, numHashes, bands)
    val boundedRaw = dropOversizedBuckets(batch, Seq("__band", "__bandsig"), maxBucket)
    val newSh = shingleFrame(newDf, textCol, idCol, shingleN)
    // the two delta dirs are gated INDEPENDENTLY: BandHistory folds
    // the band table first, so a crash (or a racing probe) between the
    // two folds sees band rows already in the main table whose shingles
    // still live only in the surviving _sh delta — verification must be
    // able to find them there
    val bandDelta = Layout.deltaOf(spark, historyTable)
    val shDelta = Layout.deltaOf(spark, s"${historyTable}_sh")
    // both band legs share the batch-side signature pipeline — when a
    // delta leg exists, materialize it once (tiny: one batch) or each
    // leg would recompute the shingle + hash pass. The shingle frame
    // needs no barrier: since verification unified into one join it is
    // referenced exactly once
    val bounded =
      if (bandDelta.isDefined) boundedRaw.localCheckpoint(eager = true)
      else boundedRaw
    // the MAIN leg keeps the zero-exchange property (bucketed layout on
    // exactly the join keys, PlanSpec-pinned), the DELTA leg is a
    // small×small join (batch × un-compacted appends) — probing the
    // delta separately instead of unioning it into the history side is
    // what PRESERVES the main leg's zero exchange (a union side has no
    // bucketed layout)
    def bandPairs(hist: DataFrame): DataFrame =
      // key order (__band, __bandsig) must mirror the history's bucket
      // spec — see writeBandHistory on the all-keys co-partition rule
      bounded.as("n").join(hist.as("h"),
          col("n.__band") === col("h.__band") &&
            col("n.__bandsig") === col("h.__bandsig") &&
            // a pair whose sides share an id is the same document meeting
            // its own history copy — an at-least-once replay (the batch
            // was appended, the ingest loop crashed before recording it,
            // the batch comes again). Without this exclusion the replay
            // finds every batch doc "duplicated" at jaccard 1.0 and the
            // recomputed survivor set is EMPTY — the replay then
            // overwrites the batch's survivor output with nothing.
            col(s"n.$idCol") =!= col(s"h.$idCol"))
        .select(col(s"n.$idCol").alias("id_new"), col(s"h.$idCol").alias("id_hist"))
        .distinct()
    val mainPairs = bandPairs(spark.table(historyTable))
    // main and delta ids are disjoint in steady state (the fold MOVES
    // the delta behind a commit record, never copies, and the fold
    // manifest keeps replays from re-appending folded batches) — but a
    // history id CAN legitimately appear in both legs, or twice in the
    // delta, when upstream redelivers a document under its own id in a
    // later batch (the self-pair exclusion above means it is not
    // flagged as its own duplicate, so it lands again). The pair
    // contract is one row per (id_new, id_hist): dedup across legs —
    // the pair set is candidate-sized, so the extra exchange is noise
    val pairs = bandDelta.fold(mainPairs)(d =>
      mainPairs.unionByName(bandPairs(d)).distinct())
    // shingle verification looks a pair's history side up in BOTH
    // sources (main `_sh` bucketed-by-id — still exchange-free as the
    // left-join's bucketed side — and the `_sh` delta when present,
    // coalesced): in steady state the sources are disjoint so exactly
    // one hit lands; in the between-folds crash window the just-folded
    // band rows resolve through the delta source
    val verified = pairs
      .join(newSh.select(col(idCol).alias("id_new"), col("__sh").alias("sh_n")),
        Seq("id_new"))
      .join(spark.table(s"${historyTable}_sh")
        .select(col(idCol).alias("id_hist"), col("__sh").alias("__sh_m")),
        Seq("id_hist"), "left")
    val withSh = shDelta.fold(verified.withColumn("__sh_h", col("__sh_m"))) { d =>
        verified
          // one shingle row per id: a redelivered document (see the
          // pair-union note) holds a row in TWO delta batch dirs — an
          // un-deduped join would multiply the pair. The rows are
          // byte-identical (the shingle frame is a pure function of the
          // text), so keeping either is correct; coalesce below still
          // prefers the main-source row when both sources hit
          .join(d.select(col(idCol).alias("id_hist"), col("__sh").alias("__sh_d"))
            .dropDuplicates("id_hist"),
            Seq("id_hist"), "left")
          .withColumn("__sh_h", coalesce(col("__sh_m"), col("__sh_d")))
      }
    withSh.where(col("__sh_h").isNotNull) // inner-join semantics, either source
      .select(col("id_new"), col("id_hist"),
        TF.jaccard(col("sh_n"), col("__sh_h")).alias("jaccard"))
  }

  /** L2 incremental, applied — drop every batch row near-duplicating the
    * persisted history above `threshold` (compose with
    * [[nearDedupMinhash]] for within-batch dups, then
    * [[appendBandHistoryDelta]] the survivors — the full ingest loop is
    * [[graft.streaming.StreamOps.nearDedupBatch]]). Same localCheckpoint
    * barrier rationale as [[nearDedupMinhash]]. */
  def nearDedupIncremental(spark: SparkSession,
      newDf: DataFrame, historyTable: String, textCol: String, idCol: String,
      threshold: Double = 0.8, shingleN: Int = 3, numHashes: Int = 16,
      bands: Int = 4, maxBucket: Int = 128): DataFrame = {
    val dupIds = minhashIncremental(spark, newDf, historyTable, textCol, idCol,
        shingleN, numHashes, bands, maxBucket)
      .where(col("jaccard") >= threshold)
      .select(col("id_new").alias(idCol)).distinct()
      .localCheckpoint(eager = true)
    newDf.join(dupIds, Seq(idCol), "left_anti")
  }

  /** L2 applied — near-dedup: drop every doc that is the larger id of a
    * candidate pair above the Jaccard threshold.
    *
    * `dupIds` is eagerly localCheckpoint'ed: it is tiny (duplicate ids
    * only), and without the materialization barrier the optimizer
    * (a) pushes the anti-join through a union-shaped `df` and duplicates
    * the whole LSH pipeline once per branch, and (b) inlines the jaccard
    * threshold into a join condition with the token pipeline
    * un-materialized — both measured multi-× regressions. Unlike the
    * previous `persist` (which parked an entry in the cache manager until
    * session end — one leaked plan per invocation in a long-lived
    * pipeline), checkpoint blocks are released by the ContextCleaner as
    * soon as the returned frame is unreachable. Trade-off: local
    * checkpoint blocks don't survive executor loss — on a cluster with
    * dynamic allocation, re-invoke on failure (the operator is
    * deterministic) or swap for reliable `checkpoint`. */
  def nearDedupMinhash(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8): DataFrame = {
    val dupIds = minhashCandidates(df, textCol, idCol)
      .where(col("jaccard") >= threshold)
      .select(col("id_b").alias(idCol)).distinct()
      .localCheckpoint(eager = true)
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** L2 applied, transitive — cluster-resolved near-dedup. One-hop pair
    * dropping ([[nearDedupMinhash]]) keeps the smaller id of every pair,
    * which is already correct for star-shaped duplication, but chains
    * A≈B≈C where A and C are NOT themselves within the threshold still
    * collapse to one representative only if the pair graph is resolved
    * transitively. This variant runs candidate pairs through
    * [[Graph.connectedComponents]] and keeps each cluster's minimum id.
    *
    * Returns (id, cluster) for EVERY row of `df` — isolated docs map to
    * themselves — so callers can either filter `id === cluster` for the
    * survivors or join back for a full dedup map (the shape a 100 TB
    * pipeline wants: the map is reusable across downstream tables).
    *
    * Barrier trade: [[minhashCandidates]]' shingle checkpoint and
    * [[Graph.connectedComponents]]' per-round edge checkpoints are all
    * `localCheckpoint`s — lineage-truncated executor blocks, so an
    * executor lost mid-run fails the job rather than recomputing, and
    * the caller reruns it (the operator is deterministic). */
  def nearDupClusters(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, maxBucket: Int = 128): DataFrame = {
    // no persist needed: connectedComponents localCheckpoints its edge
    // input up front, so the LSH pipeline runs exactly once
    val pairs = minhashCandidates(df, textCol, idCol, maxBucket = maxBucket)
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))
    clustersOf(pairs, df, idCol)
  }

  // ---- MULTIMODAL identity families: image `_ph`, audio `_ab`, video
  // `_vb`/`_vn`. Every operator below consumes an IDENTITY frame —
  // (idCol, __ph long, __asig long, __fhs array<long>) from
  // [[Multimodal.multimodalIdentities]], ONE decode pass over a batch's
  // payload bytes that the caller materializes once — and returns
  // identity rows (the surviving subset) or an (id, cluster) map, never
  // payloads; every history-delta append projects from the same frame.
  // A caller holding payloads computes the identities once and
  // semi-joins the survivors back by id. A NULL identity column (the
  // payload does not decode as that modality) is never a duplicate
  // class: such rows pass every stage untouched, which is what lets one
  // image → audio → video chain route a mixed corpus with no modality
  // detector. Payloads never cross a shuffle anywhere in the family. ----

  /** Hamming tolerance of image dHash identity in
    * [[imageNearDupClusters]] (a lossy re-encode moves a few bits). */
  val ImageMaxDist = 3

  /** (id, cluster) map from candidate pairs: connected components over
    * (id_a, id_b), every row of `nodes` present — isolated rows map to
    * themselves. The node ids go through a distinct so the
    * isolated-node pass runs on hash partitions of the id: once AQE
    * turns that anti-join into a broadcast it reads its other side
    * locally, and a bare projection would inherit the source's
    * partition sizes — an identity frame over a lopsided union (an
    * opaque `mapPartitions` the anti-join cannot be pushed beneath)
    * put half a source partition in each task (ScaleSpec audio). */
  private def clustersOf(pairs: DataFrame, nodes: DataFrame,
      idCol: String): DataFrame =
    Graph.connectedComponents(pairs, "id_a", "id_b",
        nodes = Some(nodes.select(col(idCol)).distinct()),
        assumeDistinct = true)
      .select(col("id").alias(idCol), col("component").alias("cluster"))

  /** Cluster-resolved IMAGE near-dedup — [[nearDupClusters]] with
    * perceptual identity instead of shingles: band the 64-bit dHash
    * signatures (`__ph`; null-hash rows keep their own singleton
    * cluster — "no identity" is not bucket 0), connect components over
    * pairs within [[ImageMaxDist]], keep each cluster's minimum id.
    * 8 bytes per image enter the shuffle, exactly the text path's
    * discipline. */
  def imageNearDupClusters(ident: DataFrame, idCol: String,
      maxBucket: Int = 1024): DataFrame = {
    val pairs = simhashCandidatesOfSigs(
        ident.where(col("__ph").isNotNull).select(col(idCol), col("__ph")),
        idCol, "__ph", ImageMaxDist, nBands = ImageMaxDist + 1, bits = 64,
        maxBucket = maxBucket)
      .select(col("id_a"), col("id_b"))
    clustersOf(pairs, ident, idCol)
  }

  /** Within-batch IMAGE exact dedup — [[exact]] keyed on the dHash
    * (`__ph`) instead of sha256(text): rows whose decoded rasters share
    * a dHash keep only the minimum id (a PNG re-encode of the same
    * pixels IS the same image; byte identity would miss it). Null-hash
    * rows pass through. Returns the surviving identity rows. */
  def imageExact(ident: DataFrame, idCol: String): DataFrame = {
    val rn = graft.Cols.fresh(ident.columns, "__rn")
    val w = Window.partitionBy(col("__ph")).orderBy(col(idCol))
    ident.where(col("__ph").isNotNull)
      .withColumn(rn, row_number().over(w))
      .where(col(rn) === 1)
      .drop(rn)
      .unionByName(ident.where(col("__ph").isNull))
  }

  /** The image-history row shape (`<table>_ph`, bucketed on the hash):
    * (__pid, __ph) — renamed so probe join conditions never collide
    * with batch columns; rows without an image identity are excluded,
    * nothing can ever match them. */
  private def imageRows(ident: DataFrame, idCol: String): DataFrame =
    ident.where(col("__ph").isNotNull).select(col(idCol).alias("__pid"), col("__ph"))

  /** Replay-safe delta append to an image history (the
    * [[appendHashHistoryDelta]] contract: overwrite-own-dir per batch,
    * fold-manifest skip). The three modality appends are independent
    * writes; the intake loops issue them in one fixed order (image,
    * audio, video), so every crash prefix leaves every probe correct. */
  def appendImageHistoryDelta(spark: SparkSession, ident: DataFrame,
      idCol: String, table: String, batchId: Long): Unit =
    Layout.appendDelta(spark, s"${table}_ph", batchId)(imageRows(ident, idCol))

  /** Incremental image dedup against a persisted perceptual-hash
    * history (main ∪ delta) — [[exactIncrementalDelta]] for images:
    * batch rows whose dHash the history holds under a DIFFERENT id are
    * dropped (the same-id exclusion is the replay guard — a replayed
    * batch meeting its own appended hashes recomputes the identical
    * survivor set). Null-hash rows pass through: they match nothing,
    * so the anti-join keeps them by construction.
    *
    * Scale shape: batch hashes broadcast, the history is semi-filtered
    * map-side to matching rows and those broadcast back — neither side
    * ever shuffles, and only (id, long) pairs move. */
  def imageIncrementalDelta(spark: SparkSession, ident: DataFrame,
      table: String, idCol: String): DataFrame = {
    // the history's own column is "__ph" — rename the batch side so the
    // join condition's references stay unambiguous
    val bph = graft.Cols.fresh(ident.columns :+ "__pid", "__bph")
    val b = ident.withColumnRenamed("__ph", bph)
    val batchKeys = b.where(col(bph).isNotNull).select(col(bph))
    val hits = Layout.withDelta(spark, s"${table}_ph")
      .join(broadcast(batchKeys), col("__ph") === col(bph), "left_semi")
    b.join(broadcast(hits),
        col("__ph") === col(bph) && col("__pid") =!= col(idCol), "left_anti")
      .withColumnRenamed(bph, "__ph")
  }

  // ---- AUDIO identity family (the image `_ph` discipline over
  // Haitsma-Kalker spectral fingerprints, [[Multimodal
  // .audioFingerprint64]]): unlike image dHash — where a lossless
  // re-encode decodes to the IDENTICAL raster and exact hash equality
  // is the probe — audio re-encodes are lossy (μ-law, ADPCM), so the
  // persisted history stores BANDED signatures and the probe is the
  // Hamming band join, with the calibrated tolerance AudioMaxDist = 9
  // (probe-measured: cross-codec re-encodes of one signal land ≤ 9
  // bits apart) under the AudioBands = 5 × AudioBandBits = 12
  // wide-band + 1-bit-flip-probe geometry below. ----

  /** Calibrated Hamming tolerance for cross-codec audio identity
    * (probe-measured re-encode ceiling over the full sf0.1 seed range:
    * μ-law ≤ 3, ADPCM ≤ 9). */
  val AudioMaxDist = 9
  /** Band geometry for audio signatures — WIDE bands + MULTI-PROBE,
    * not the SimHash plain-band split. Plain pigeonhole banding needs
    * nBands > maxDist, i.e. 9 bands of 7 bits = 128 buckets per band:
    * at corpus scale EVERY bucket is hot (ScaleSpec measured the 60k
    * corpus collapsing them into the oversize sideline — zero recall),
    * which is why the published Haitsma-Kalker search uses wide
    * sub-fingerprints probed with bit flips. Here: 5 bands × 12 bits
    * (4096 buckets per band), probe side expands each band value to
    * its 13-element 1-bit-flip ball. Guarantee: if every band held ≥2
    * errors the BANDED distance alone would be ≥ 2*AudioBands = 10 >
    * AudioMaxDist, so a pair within tolerance always shares a band
    * within one bit — which the flip ball covers exactly. Two boundary
    * conditions the constants must respect:
    *   - the 5 × 12-bit bands cover only bits 0..59 of the 64-bit
    *     signature; errors in the uncovered top 4 bits consume distance
    *     budget WITHOUT landing in any band, which only strengthens the
    *     guarantee (fewer banded errors for the same total distance) —
    *     but it means the probe can also MATCH pairs differing
    *     arbitrarily in those 4 bits, so AudioMaxDist is enforced by
    *     the exact 64-bit Hamming recheck in the join condition, never
    *     by the banding alone;
    *   - the pigeonhole needs AudioMaxDist <= 2*AudioBands - 1 (the
    *     require below): bumping AudioMaxDist to 10 without widening
    *     the probe ball or adding a band would SILENTLY void recall. */
  val AudioBands = 5
  val AudioBandBits = 12
  // static guard for the pigeonhole boundary documented above — a
  // constant bump that voids recall must fail at class-load, not in a
  // silently-lossy production sweep
  require(AudioMaxDist <= 2 * AudioBands - 1,
    s"AudioMaxDist=$AudioMaxDist breaks the $AudioBands-band 1-bit-flip " +
      s"recall guarantee (needs <= ${2 * AudioBands - 1})")

  /** The audio fingerprints of an identity frame: (__pid, __asig), rows
    * without an audio identity excluded. */
  private def audioSigs(ident: DataFrame, idCol: String): DataFrame =
    ident.where(col("__asig").isNotNull).select(col(idCol).alias("__pid"), col("__asig"))

  /** Banded form of a (__pid, __asig) frame: one EXACT row per (band,
    * bucket) — the stored/history side (`<table>_ab`, bucketed on
    * exactly the probe join's keys (__band, __bucket)). Probes come
    * from [[audioProbeFrame]]'s flip balls. */
  private def audioBandFrame(sigs: DataFrame): DataFrame =
    sigs.select(col("__pid"), col("__asig"),
        posexplode(array((0 until AudioBands).map(b =>
          shiftright(col("__asig"), b * AudioBandBits)
            .bitwiseAND(lit((1L << AudioBandBits) - 1L))): _*)))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bucket")

  /** Probe form: per band, the 1-bit-flip ball of the band value
    * (13 rows per band — the exact value plus each single-bit flip).
    * One side exact, one side probed finds every pair whose closest
    * band differs by ≤1 bit, which the [[AudioBands]] geometry
    * guarantees for any pair within [[AudioMaxDist]]. */
  private def audioProbeFrame(sigs: DataFrame): DataFrame = {
    val mask = (1L << AudioBandBits) - 1L
    sigs.select(col("__pid"), col("__asig"),
        posexplode(array((0 until AudioBands).map { b =>
          val v = shiftright(col("__asig"), b * AudioBandBits).bitwiseAND(lit(mask))
          array(v +: (0 until AudioBandBits).map(k => v.bitwiseXOR(lit(1L << k))): _*)
        }: _*)))
      .withColumnRenamed("pos", "__band")
      .select(col("__pid"), col("__asig"), col("__band"),
        explode(col("col")).as("__bucket"))
  }

  /** Candidate pairs among `sigs` (idCol, sigCol) within
    * [[AudioMaxDist]] — exact-side banding + flip-ball probes, hot
    * exact buckets over `maxBucket` sidelined (the LSH cap
    * discipline; with 4096-way buckets a sideline means a genuine
    * mass-duplicate class, not normal density). */
  def audioCandidates(sigs: DataFrame, idCol: String, sigCol: String,
      maxBucket: Int = 1024): DataFrame = {
    val base = sigs.select(col(idCol).alias("__pid"), col(sigCol).alias("__asig"))
    val exact = dropOversizedBuckets(audioBandFrame(base),
      Seq("__band", "__bucket"), maxBucket)
    // Probe-side discipline — sidelining a mass-duplicate class's own
    // (oversized) buckets still leaves its 10k IDENTICAL probe balls
    // landing on every neighboring small bucket, turning each
    // ≤8-distance neighbor into a 10k-degree star (ScaleSpec measured
    // exactly this). Identical signatures probe identically, so the
    // probe side keeps ONE representative (min id) per
    // (band, bucket, signature): an identity class then reaches its
    // neighbors — and its own members, through the representative
    // probing the class's own exact bucket — with LINEAR pair volume,
    // and connected components restore the full clusters. The cap then
    // applies to representative rows (sig-diverse hot probe groups).
    // Pairs are normalized via least/greatest, NOT pid<qid: the
    // representative carries its class's MINIMUM id, so ordering by
    // side would orphan every class member.
    val probes = dropOversizedBuckets(
        audioProbeFrame(base)
          .groupBy(col("__band"), col("__bucket"), col("__asig"))
          .agg(min(col("__pid")).as("__pid")),
        Seq("__band", "__bucket"), maxBucket)
      .select(col("__band").alias("__qband"), col("__bucket").alias("__qbucket"),
        col("__pid").alias("__qid"), col("__asig").alias("__qsig"))
    exact.join(probes,
        col("__band") === col("__qband") && col("__bucket") === col("__qbucket") &&
          col("__pid") =!= col("__qid"))
      .select(least(col("__pid"), col("__qid")).alias("id_a"),
        greatest(col("__pid"), col("__qid")).alias("id_b"),
        hamming(col("__asig"), col("__qsig"), bits = 64).alias("hamming_dist"))
      .where(col("hamming_dist") <= AudioMaxDist)
      .distinct()
  }

  /** Cluster-resolved AUDIO near-dedup — [[imageNearDupClusters]] over
    * spectral fingerprints: wide-band + flip-probe candidates
    * ([[audioCandidates]]), connect components within
    * [[AudioMaxDist]], keep each cluster's minimum id. */
  def audioNearDupClusters(ident: DataFrame, idCol: String,
      maxBucket: Int = 1024): DataFrame = {
    val pairs = audioCandidates(audioSigs(ident, idCol), "__pid", "__asig",
        maxBucket = maxBucket)
      .select(col("id_a"), col("id_b"))
    clustersOf(pairs, ident, idCol)
  }

  /** Replay-safe delta append to an audio history — banded rows, the
    * [[appendImageHistoryDelta]] contract. */
  def appendAudioHistoryDelta(spark: SparkSession, ident: DataFrame,
      idCol: String, table: String, batchId: Long): Unit =
    Layout.appendDelta(spark, s"${table}_ab", batchId)(
      audioBandFrame(audioSigs(ident, idCol)))

  /** Incremental audio dedup against a persisted band history
    * (main ∪ delta): batch rows whose fingerprint lies within
    * [[AudioMaxDist]] of a history row under a DIFFERENT id are
    * dropped. Same-id exclusion is the replay guard; rows without an
    * audio identity pass through by construction.
    *
    * Scale shape: the batch's flip-ball probe rows broadcast
    * (AudioBands × (AudioBandBits+1) = 5 × 13 = 65 small rows per
    * item); the MAIN history leg joins them against the bucketed
    * (__band, __bucket) layout with no history-side exchange, the
    * delta leg is small×small; only (id, long) pairs ever move. */
  def audioIncrementalDelta(spark: SparkSession, ident: DataFrame,
      table: String, idCol: String, maxBucket: Int = 1024): DataFrame = {
    val t = s"${table}_ab"
    val delta = Layout.deltaOf(spark, t)
    // batch side carries the FLIP-BALL probes (13 rows per band per
    // item — still batch-sized and broadcastable); the history keeps
    // one exact row per band, so the persisted layout never grows
    // with the probe geometry. Oversized probe groups are sidelined
    // (the audioCandidates probe-side cap): a batch-side
    // mass-duplicate class must not star-join the history.
    val bandsRaw = dropOversizedBuckets(audioProbeFrame(audioSigs(ident, idCol)),
        Seq("__band", "__bucket"), maxBucket)
      .select(col("__band").alias("__bband"), col("__bucket").alias("__bbucket"),
        col("__pid").alias("__bid"), col("__asig").alias("__bsig2"))
    // the probe pipeline is shared by the main and delta legs when both
    // exist — but it derives from the caller's MATERIALIZED identity
    // frame, so with one leg (the steady state after a fold)
    // re-deriving it is a cheap re-explode and a checkpoint job would
    // be pure overhead; checkpoint only when a delta leg will actually
    // re-reference it
    val batchBands =
      if (delta.isDefined) bandsRaw.localCheckpoint(eager = true) else bandsRaw
    def hitIds(hist: DataFrame): DataFrame =
      hist.join(broadcast(batchBands),
          col("__band") === col("__bband") &&
            col("__bucket") === col("__bbucket") &&
            col("__pid") =!= col("__bid"))
        .where(hamming(col("__asig"), col("__bsig2"), bits = 64) <= AudioMaxDist)
        .select(col("__bid"))
    val mainHits = hitIds(spark.table(t))
    val hits = delta.fold(mainHits)(d => mainHits.unionByName(hitIds(d)))
    ident.join(broadcast(hits.distinct()),
      col(idCol) === col("__bid"), "left_anti")
  }

  // ---- VIDEO identity family: per-frame dHash + frame voting. A
  // video's identity is its frame SEQUENCE, so candidates come from
  // per-frame Hamming matches at aligned frame indices (the SimHash
  // band machinery with the frame index folded into the bucket key),
  // and two videos pair only when a qualified FRACTION of their frames
  // match — one noisy frame neither makes nor breaks identity. ----

  /** Frame-aligned candidate video pairs: per (frame_idx, band,
    * bucket) join over banded per-frame dHashes, Hamming ≤ `maxDist`
    * per frame, then a frame VOTE: a pair qualifies when its matching
    * frame count reaches `minMatchFrac` of the SMALLER video's frame
    * count. Returns (id_a, id_b, matched_frames, frames_a, frames_b).
    * Hot (frame_idx, band, bucket) groups beyond `maxBucket` are
    * sidelined (the LSH cap discipline — a mass-duplicated frame class
    * must not go quadratic). */
  def videoCandidates(frameHashes: DataFrame, idCol: String,
      idxCol: String = "frame_idx", hashCol: String = "fhash",
      maxDist: Int = 3, nBands: Int = 4, maxBucket: Int = 1024,
      minMatchFrac: Double = 0.6): DataFrame = {
    require(maxDist < nBands, "pigeonhole guarantee needs maxDist < nBands")
    require(64 / nBands <= 63, "band mask overflow")
    require(minMatchFrac > 0.0 && minMatchFrac <= 1.0,
      "minMatchFrac must be in (0, 1]")
    val bandBits = 64 / nBands
    val mask = (1L << bandBits) - 1L
    val banded = frameHashes.select(col(idCol), col(idxCol), col(hashCol),
        posexplode(array((0 until nBands).map(b =>
          shiftright(col(hashCol), b * bandBits).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bucket")
    val bounded = dropOversizedBuckets(banded,
      Seq(idxCol, "__band", "__bucket"), maxBucket)
    // aliased self-join → one shared exchange (the minhash discipline)
    val framePairs = bounded.as("a").join(bounded.as("b"),
        col(s"a.$idxCol") === col(s"b.$idxCol") &&
          col("a.__band") === col("b.__band") &&
          col("a.__bucket") === col("b.__bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .where(hamming(col(s"a.$hashCol"), col(s"b.$hashCol"), bits = 64) <= maxDist)
      .select(col(s"a.$idCol").alias("id_a"), col(s"b.$idCol").alias("id_b"),
        col(s"a.$idxCol").alias("__fidx"))
      .distinct()
    val matches = framePairs.groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("matched_frames"))
    val frameCounts = frameHashes.groupBy(col(idCol))
      .agg(count(lit(1)).as("__nf"))
    matches
      .join(frameCounts.select(col(idCol).alias("id_a"), col("__nf").alias("frames_a")), Seq("id_a"))
      .join(frameCounts.select(col(idCol).alias("id_b"), col("__nf").alias("frames_b")), Seq("id_b"))
      .where(col("matched_frames") >=
        lit(minMatchFrac) * least(col("frames_a"), col("frames_b")))
      .select(col("id_a"), col("id_b"), col("matched_frames"),
        col("frames_a"), col("frames_b"))
  }

  /** Banding for per-frame video hashes (frame matches use the
    * image-dHash tolerance class: a lossy re-encode moves a frame a few
    * bits; the frame VOTE absorbs the occasional outlier frame). */
  val VideoMaxDist = 3
  val VideoBands = 4
  /** Qualified fraction of the SHORTER video's frames. */
  val VideoMinMatchFrac = 0.6

  /** The per-frame rows of an identity frame's `__fhs` column —
    * (__pid, __fidx int, __fh long), the [[Multimodal.videoFrameHashes]]
    * shape (rows without a video identity contribute nothing). */
  private def videoFrameRows(ident: DataFrame, idCol: String): DataFrame =
    ident.where(col("__fhs").isNotNull)
      .select(col(idCol).alias("__pid"), posexplode(col("__fhs")))
      .withColumnRenamed("pos", "__fidx").withColumnRenamed("col", "__fh")

  /** The video-history row shapes: `<table>_vb` — banded frame rows
    * (__fidx, __band, __bucket, __pid, __fh), bucketed on exactly the
    * probe join's keys (this function); `<table>_vn` — per-video frame
    * counts (__pid, __nf), the vote denominators ([[videoCountRows]]). */
  private def videoBandFrame(fh: DataFrame): DataFrame = {
    val bandBits = 64 / VideoBands
    val mask = (1L << bandBits) - 1L
    fh.select(col("__pid"), col("__fidx"), col("__fh"),
        posexplode(array((0 until VideoBands).map(b =>
          shiftright(col("__fh"), b * bandBits).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bucket")
      .select(col("__fidx"), col("__band"), col("__bucket"), col("__pid"), col("__fh"))
  }

  /** Per-video frame counts straight off the identity arrays — no
    * regroup shuffle. */
  private def videoCountRows(ident: DataFrame, idCol: String): DataFrame =
    ident.where(col("__fhs").isNotNull)
      .select(col(idCol).alias("__pid"), size(col("__fhs")).cast("long").as("__nf"))

  /** Cluster-resolved VIDEO near-dedup — [[imageNearDupClusters]] for
    * the third modality: per-frame dHashes, frame-aligned banded
    * matches within [[VideoMaxDist]], a [[VideoMinMatchFrac]] frame
    * vote, connected components, keep each cluster's minimum id. Rows
    * without a video identity contribute no frame rows and keep
    * themselves. */
  def videoNearDupClusters(ident: DataFrame, idCol: String,
      maxBucket: Int = 1024): DataFrame = {
    val pairs = videoCandidates(videoFrameRows(ident, idCol), "__pid",
        "__fidx", "__fh", maxDist = VideoMaxDist, nBands = VideoBands,
        maxBucket = maxBucket, minMatchFrac = VideoMinMatchFrac)
      .select(col("id_a"), col("id_b"))
    clustersOf(pairs, ident, idCol)
  }

  /** Replay-safe delta append to a video history — band rows first,
    * counts second: a crash between the two leaves band rows whose
    * vote denominator is missing, so those rows match NOTHING (the
    * inner count join drops them) — a probe can only UNDER-drop in the
    * window, never wrongly drop, and the replayed batch overwrites
    * both dirs identically. */
  def appendVideoHistoryDelta(spark: SparkSession, ident: DataFrame,
      idCol: String, table: String, batchId: Long): Unit = {
    Layout.appendDelta(spark, s"${table}_vb", batchId)(
      videoBandFrame(videoFrameRows(ident, idCol)))
    Layout.appendDelta(spark, s"${table}_vn", batchId)(videoCountRows(ident, idCol))
  }

  /** Incremental video dedup against a persisted history (main ∪
    * delta): batch videos whose frame VOTE against some history video
    * (different id) reaches [[VideoMinMatchFrac]] of the shorter
    * video's frames are dropped. Same-id exclusion is the replay
    * guard; rows without a video identity carry no frame rows and pass
    * through.
    *
    * Scale shape: the batch's banded frame rows broadcast; the MAIN
    * band leg joins the bucketed (__fidx, __band, __bucket) layout
    * with no history-side exchange; the vote aggregates candidate-pair
    * rows only; frame counts are two tiny joins. No barrier on the
    * batch bands: when a delta leg exists both legs broadcast the same
    * band frame, and the executed plan REUSES that broadcast exchange
    * (AQE `ReusedExchange` for the second leg), so the frame explode
    * and its cap window run once per probe — a checkpoint would only
    * add a job. */
  def videoIncrementalDelta(spark: SparkSession, ident: DataFrame,
      table: String, idCol: String, maxBucket: Int = 1024): DataFrame = {
    val tb = s"${table}_vb"
    val batchBands = dropOversizedBuckets(videoBandFrame(videoFrameRows(ident, idCol)),
        Seq("__fidx", "__band", "__bucket"), maxBucket)
      .select(col("__fidx").alias("__bfidx"), col("__band").alias("__bband"),
        col("__bucket").alias("__bbucket"), col("__pid").alias("__bid"),
        col("__fh").alias("__bfh"))
    val batchCounts = videoCountRows(ident, idCol)
      .select(col("__pid").alias("__bid"), col("__nf").alias("__bnf"))
    def frameMatches(hist: DataFrame): DataFrame =
      hist.join(broadcast(batchBands),
          col("__fidx") === col("__bfidx") && col("__band") === col("__bband") &&
            col("__bucket") === col("__bbucket") && col("__pid") =!= col("__bid"))
        .where(hamming(col("__fh"), col("__bfh"), bits = 64) <= VideoMaxDist)
        .select(col("__bid"), col("__pid"), col("__fidx"))
    val mainMatches = frameMatches(spark.table(tb))
    val matches = Layout.deltaOf(spark, tb)
      .fold(mainMatches)(d => mainMatches.unionByName(frameMatches(d)))
    val hits = matches.distinct()
      .groupBy(col("__bid"), col("__pid")).agg(count(lit(1)).as("__m"))
      .join(Layout.withDelta(spark, s"${table}_vn").select(col("__pid"), col("__nf")),
        Seq("__pid"))
      .join(broadcast(batchCounts), Seq("__bid"))
      .where(col("__m") >= lit(VideoMinMatchFrac) * least(col("__nf"), col("__bnf")))
      .select(col("__bid")).distinct()
    ident.join(broadcast(hits), col(idCol) === col("__bid"), "left_anti")
  }

  /** SimHash 32-bit signature over token 1-grams: per bit, sum +1/-1
    * weighted by whether the token hash has that bit set; sign → bit.
    * Single-pass fold carrying all bit-votes in one array accumulator —
    * 32 separate per-bit aggregates would re-walk the token list 32×
    * (and projection collapse can multiply that across a self-join). */
  def simhash(text: Column, bits: Int = 32): Column = {
    // bits <= 0 would make the mask 0 — every signature identical, every
    // bucket-mate a "duplicate" — fail at the call site instead
    require(bits >= 1 && bits <= 63, "bits must be in [1, 63] (packed BIGINT)")
    val mask = if (bits == 63) Long.MaxValue else (1L << bits) - 1L
    val hashes = transform(TF.tokens(text), t => xxhash64(t).bitwiseAND(lit(mask)))
    val powers = array((0 until bits).map(b => lit(1L << b)): _*)
    val votes = aggregate(hashes,
      array_repeat(lit(0L), bits),
      (acc, h) => zip_with(acc, powers,
        (v, p) => v + when(h.bitwiseAND(p) =!= 0, 1L).otherwise(-1L)))
    aggregate(zip_with(votes, powers, (v, p) => when(v >= 0, p).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  /** Hamming distance between two packed BIGINT signatures, windowed to
    * the low `bits` (popcount of masked XOR — one codegen'd kernel, not
    * a 32-term shift chain). Unlike [[simhash]] (the PACKER, whose
    * vote-sum arithmetic caps it at 63), the distance itself is safe at
    * the full 64: the mask is all-ones and popcount of the raw XOR
    * counts the sign bit like any other — which is what full-width
    * signatures packed elsewhere (e.g. the image dHash) need. */
  def hamming(a: Column, b: Column, bits: Int = 32): Column = {
    // bits <= 0 masks everything away and reports distance 0 for ANY pair
    require(bits >= 1 && bits <= 64, "bits must be in [1, 64] (packed BIGINT)")
    val mask = if (bits == 64) -1L
      else if (bits == 63) Long.MaxValue
      else (1L << bits) - 1L
    bit_count(a.bitwiseXOR(b).bitwiseAND(lit(mask)))
  }

  /** SimHash near-dup pairs via rotated bucketings: the 32-bit signature
    * is split into `nBands` bit-bands; two signatures within Hamming
    * distance `maxDist < nBands` must agree exactly on at least one band
    * (pigeonhole), so candidates are the union of per-band bucket joins —
    * recall 1.0 for the configured distance, and each band's buckets are
    * 2^(32/nBands)-way (≈256k for 4 bands), keeping per-bucket self-join
    * cost bounded at scale instead of the naive low-8-bit bucketing.
    *
    * NOTE: the `maxBucket` skew cap deliberately trades the pigeonhole
    * guarantee inside degenerate buckets — a pair whose every shared
    * band is oversized is dropped. Pass `maxBucket = Int.MaxValue` when
    * verifying recall (the l02e contract does). */
  def simhashCandidates(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3, nBands: Int = 4, bits: Int = 32,
      maxBucket: Int = 1024): DataFrame =
    simhashCandidatesOfSigs(
      df.select(col(idCol), simhash(col(textCol), bits).alias("__sig")),
      idCol, "__sig", maxDist, nBands, bits, maxBucket)

  /** [[simhashCandidates]] over precomputed signatures — callers that
    * already hold a (id, sig) frame (e.g. a recall contract comparing
    * banded candidates against pairwise Hamming over the same
    * signatures) reuse it instead of re-hashing every document. */
  def simhashCandidatesOfSigs(sigs: DataFrame, idCol: String, sigCol: String,
      maxDist: Int = 3, nBands: Int = 4, bits: Int = 32,
      maxBucket: Int = 1024): DataFrame = {
    require(maxDist < nBands, "pigeonhole guarantee needs maxDist < nBands")
    // bandBits is shifted into a Long mask: 64 band bits would wrap
    // `1L << 64` to 1, zeroing the mask — every signature lands in ONE
    // bucket that the maxBucket cap then sidelines, silently losing all
    // recall (ADVICE r11). Fail loudly instead.
    require(bits / nBands <= 63,
      s"bits/nBands = ${bits / nBands} band bits overflow the Long band " +
      s"mask (max 63) — raise nBands (got $nBands for $bits-bit signatures)")
    val bandBits = bits / nBands
    val mask = (1L << bandBits) - 1L
    val banded = sigs.select(col(idCol), col(sigCol).alias("__sig"),
      posexplode(array((0 until nBands).map(b =>
        shiftright(col(sigCol), b * bandBits).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bucket")
    // 2^(bits/nBands)-way buckets bound typical sizes, but an empty-text /
    // boilerplate hot bucket is still quadratic in one task — sideline it.
    // (The signature is one long; carrying it through the shuffle is
    // cheap, unlike MinHash's shingle arrays.)
    val bounded = dropOversizedBuckets(banded, Seq("__band", "__bucket"), maxBucket)
    // aliased self-join → one shared exchange (see minhashCandidates)
    bounded.as("a").join(bounded.as("b"),
        col("a.__band") === col("b.__band") && col("a.__bucket") === col("b.__bucket"))
      .where(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").alias("id_a"), col(s"b.$idCol").alias("id_b"),
        hamming(col("a.__sig"), col("b.__sig"), bits).alias("hamming_dist"))
      .where(col("hamming_dist") <= maxDist)
      .distinct()
  }

  // ================== PARAGRAPH-level dedup (L39) ==================
  // The CCNet/Dolma granularity: a boilerplate paragraph repeated
  // across millions of otherwise-distinct pages survives every
  // DOC-level leg (l01 hashes whole documents; MinHash needs high
  // whole-doc overlap), so dedup must also run at the paragraph level.
  // Paragraph = newline-separated segment (the published convention:
  // CCNet and Dolma both split on '\n'), reassembly joins survivors
  // back with '\n' in original order.

  /** Exploded paragraph positions of non-NULL docs: one row per
    * (id, __pidx, __para). `limit = -1` keeps trailing empty segments
    * so position indexes are exact under any content. */
  private def explodeParas(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol), posexplode(split(col(textCol), "\n", -1)))
      .withColumnRenamed("pos", "__pidx").withColumnRenamed("col", "__para")

  /** Identity hash of a DEDUP-ELIGIBLE paragraph, NULL otherwise —
    * paragraphs whose trimmed length is below `minChars` (default:
    * empty/whitespace-only lines) are never identities: they are
    * trivially shared by every document and deduping them would strip
    * a corpus of its blank lines for no information gain. A NULL hash
    * falls out of every equi-join below, which is exactly the
    * pass-through the family contract wants. */
  private def paraHash(para: Column, minChars: Int): Column =
    when(length(trim(para)) >= minChars, sha2(para, 256))

  /** L39 — within-corpus paragraph dedup: for every distinct paragraph
    * string, the occurrence with the smallest (id, position) survives;
    * all other occurrences — across documents AND repeats within one —
    * are removed, and each document is reassembled from its surviving
    * paragraphs in original order. Documents losing every paragraph
    * (all-boilerplate pages) drop entirely; NULL-text rows pass
    * through untouched (family contract).
    *
    * Scale shape: explode is narrow; the canonical occurrence per
    * paragraph comes from a partial-agg groupBy on the 256-bit hash —
    * NOT a window: a boilerplate paragraph repeated on millions of
    * pages would funnel every occurrence through one window-sort task,
    * while map-side combine collapses each partition to one candidate
    * row per distinct hash before the exchange. The join back on the
    * hash isolates hot keys LOSSLESSLY: canonical rows of hashes with
    * more than `hotOccurrences` occurrences broadcast (map-side join,
    * skew impossible; the set is bounded by total/hotOccurrences
    * rows), the cold rest shuffles with no key above the threshold —
    * deterministic, not dependent on AQE's byte-threshold skew split
    * (which cannot see this join anyway: OptimizeSkewedJoin matches
    * only joins whose children are bare shuffle stages, and canon's
    * aggregate hides it — measured 5.1x unsplit at 50x). Reassembly
    * shuffles once on the uniform doc id.
    *
    * Determinism requirement (the [[exact]] note): the NULL branch and
    * the non-NULL pipeline re-evaluate `df` with complementary
    * filters, and the rebuilt text joins back to `df` by id — persist
    * or localCheckpoint a nondeterministic input first. */
  def paragraphDedup(df: DataFrame, textCol: String, idCol: String,
      minChars: Int = 1, hotOccurrences: Int = 65536): DataFrame = {
    val withH = explodeParas(df, textCol, idCol)
      .withColumn("__ph", paraHash(col("__para"), minChars))
    val canonAll = withH.where(col("__ph").isNotNull)
      .groupBy(col("__ph"))
      .agg(min(struct(col(idCol), col("__pidx"))).alias("__m"),
        count(lit(1)).alias("__n"))
    // HOT-KEY ISOLATION (lossless, unlike the LSH caps): a paragraph
    // on millions of pages would funnel its every occurrence into one
    // shuffle-join partition, and AQE's skew split cannot see it here
    // (OptimizeSkewedJoin matches only joins whose children are bare
    // shuffle stages — canon's aggregate hides it; measured 5.1x
    // unsplit at 50x). Instead: canonical rows of hashes ABOVE
    // `hotOccurrences` broadcast (map-side join, skew impossible; the
    // set is bounded by totalOccurrences / hotOccurrences rows), the
    // cold rest joins by shuffle where no key exceeds the threshold.
    val canonHot = canonAll.where(col("__n") > hotOccurrences)
      .select(col("__ph"), col("__m").alias("__mh"))
    val canonCold = canonAll.where(col("__n") <= hotOccurrences)
      .select(col("__ph"), col("__m").alias("__mc"))
    // hot occurrences must BYPASS the cold shuffle, not merely find
    // no match in it (a left join still routes every probe row through
    // the exchange — the hot hash would straggle exactly as before):
    // the broadcast join is map-side, its matches peel off before the
    // cold side ever shuffles. The broadcast-join plan is evaluated
    // once per branch — narrow map work over the explode, no barrier
    // needed. Ineligible rows carry a NULL hash, match nothing on
    // either side, and keep a NULL __m — they always survive in place.
    val hotJoined = withH.join(broadcast(canonHot), Seq("__ph"), "left")
    val hotKept = hotJoined.where(col("__mh").isNotNull)
      .withColumn("__m", col("__mh")).drop("__mh")
    val coldKept = hotJoined.where(col("__mh").isNull).drop("__mh")
      .join(canonCold, Seq("__ph"), "left")
      .withColumn("__m", col("__mc")).drop("__mc")
    val kept = hotKept.unionByName(coldKept)
      .where(col("__m").isNull ||
        (col("__m").getField(idCol) === col(idCol) &&
         col("__m").getField("__pidx") === col("__pidx")))
    reassemble(df, kept, textCol, idCol)
  }

  /** Surviving (id, __pidx, __para) rows → documents: paragraphs
    * rejoined with '\n' in original order, non-text columns restored
    * from `df` by id (inner join — documents with zero surviving
    * paragraphs drop), NULL-text rows passed through. */
  private def reassemble(df: DataFrame, kept: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pidx"), col("__para")))),
        s => s.getField("__para")), "\n").alias(textCol))
    df.where(col(textCol).isNotNull).drop(textCol)
      .join(rebuilt, Seq(idCol))
      .select(df.columns.map(col).toIndexedSeq: _*)
      .unionByName(df.where(col(textCol).isNull))
  }

  /** The paragraph-history row shape: (__pid, __ph) — one row per
    * eligible paragraph occurrence, renamed so probe join conditions
    * never collide with batch columns (the [[hashFrame]] discipline). */
  private def paragraphFrame(df: DataFrame, textCol: String, idCol: String,
      minChars: Int = 1): DataFrame =
    explodeParas(df, textCol, idCol)
      .select(col(idCol).alias("__pid"),
        paraHash(col("__para"), minChars).alias("__ph"))
      .where(col("__ph").isNotNull)

  /** [[paragraphFrame]] reduced to ONE row per hash — the min __pid,
    * the family's keep-min canonical. Every history WRITE goes through
    * this (bootstrap and per-batch append), which is what makes the
    * "history holds each hash once" bound a structural property rather
    * than a caller precondition: bootstrapping from a corpus that was
    * NOT paragraph-deduped first (PlanSpec does exactly that) would
    * otherwise store one row per occurrence of a mass-duplicated
    * paragraph, and [[paragraphIncrementalDelta]]'s broadcast hit set —
    * bounded by batch hashes × rows per hash — would grow with corpus
    * duplication instead of batch size. Partial-agg groupBy, the
    * [[paragraphDedup]] canon shape: a hot hash collapses map-side. */
  private def canonicalParagraphFrame(df: DataFrame, textCol: String,
      idCol: String, minChars: Int = 1): DataFrame =
    paragraphFrame(df, textCol, idCol, minChars)
      .groupBy(col("__ph")).agg(min(col("__pid")).alias("__pid"))
      .select(col("__pid"), col("__ph"))

  /** Build a paragraph history from an existing corpus in one bucketed
    * write (the batch-bootstrap path; streaming appends go through
    * [[appendParagraphHistoryDelta]]). */
  def writeParagraphHistory(df: DataFrame, textCol: String, idCol: String,
      table: String, numBuckets: Int): Unit = {
    val spark = df.sparkSession
    val t = s"${table}_pg"
    Layout.deleteDeltaState(spark, Layout.deltaDirOf(spark, t))
    Layout.writeBucketed(canonicalParagraphFrame(df, textCol, idCol), t,
      Seq("__ph"), numBuckets)
  }

  /** Replay-safe delta append to a paragraph history (the
    * [[appendHashHistoryDelta]] discipline: overwrite-own-dir per
    * batch, fold-manifest skip). `assumeCanonical = true` skips the
    * [[canonicalParagraphFrame]] groupBy — ONLY for callers whose
    * batch is already paragraph-deduped (the intake loop: its
    * survivors went through [[paragraphDedup]] +
    * [[paragraphIncrementalDelta]], so each hash appears in exactly
    * one surviving doc and the groupBy would collapse nothing while
    * adding one shuffle exchange per micro-batch). Default false
    * keeps the "history holds each hash once" bound STRUCTURAL for
    * every other caller. */
  def appendParagraphHistoryDelta(spark: SparkSession,
      df: DataFrame, textCol: String, idCol: String, table: String,
      batchId: Long, assumeCanonical: Boolean = false): Unit =
    Layout.appendDelta(spark, s"${table}_pg", batchId)(
      if (assumeCanonical) paragraphFrame(df, textCol, idCol)
      else canonicalParagraphFrame(df, textCol, idCol))

  /** L39 incremental — remove batch paragraphs whose hash a persisted
    * paragraph history (main ∪ delta) holds under a DIFFERENT id, then
    * reassemble the batch's documents from their surviving paragraphs.
    * The same-id exclusion is the replay guard ([[exactIncrementalDelta]]
    * contract): a replayed batch meeting its own appended paragraph
    * rows must rebuild identical documents, not empty ones. Compose
    * with [[paragraphDedup]] for within-batch duplicates (family
    * contract: incremental operators never dedup within the batch).
    *
    * Scale shape (the zero-exchange probe): the batch's paragraph
    * hashes broadcast, the history is semi-FILTERED map-side to
    * matching (__pid, __ph) rows, and those broadcast back for the
    * anti-join — the history never exchanges. The hit set is bounded
    * by the batch's paragraph count: every history write path
    * ([[writeParagraphHistory]] bootstrap, [[appendParagraphHistoryDelta]])
    * goes through [[canonicalParagraphFrame]] and stores at most one
    * row per hash, so the bound is structural, not a caller
    * precondition (a same-id replay can duplicate a hash between main
    * and its own delta file, which at most doubles it). */
  def paragraphIncrementalDelta(spark: SparkSession,
      newDf: DataFrame, table: String, textCol: String, idCol: String,
      minChars: Int = 1): DataFrame = {
    val hist = Layout.withDelta(spark, s"${table}_pg")
    val withH = explodeParas(newDf, textCol, idCol)
      .withColumn("__bh", paraHash(col("__para"), minChars))
    val batchKeys = withH.where(col("__bh").isNotNull).select(col("__bh"))
    val hits = hist.join(broadcast(batchKeys),
      col("__ph") === col("__bh"), "left_semi")
    val kept = withH.join(broadcast(hits),
      col("__ph") === col("__bh") && col("__pid") =!= col(idCol), "left_anti")
    reassemble(newDf, kept, textCol, idCol)
  }

  // ================ REPEATED-SUBSTRING (span) dedup =================
  // Lee et al. 2022 ("Deduplicating Training Data Makes Language
  // Models Better") removes exact token substrings of >= ~50 tokens
  // duplicated anywhere in the corpus — inside one document or across
  // documents — using a corpus-global suffix array. The bounded,
  // shuffle-honest form here: anchor every token position with the
  // 64-bit hash of its k-token gram, resolve one canonical occurrence
  // per distinct gram (the paragraph family's partial-agg groupBy-min,
  // never a window), and cut every NON-canonical occurrence's k-token
  // window out of its document. Detection threshold IS k: a shared
  // span of >= k tokens shares its k-grams (all of them), a span of
  // k-1 shares none — no suffix array, no global sort, nothing
  // corpus-global but the gram-hash exchange.

  /** L41 — repeated-span dedup: for every k-token gram duplicated
    * anywhere in the corpus (across documents or within one), the
    * occurrence with the smallest (id, position) survives; every
    * other occurrence's k-token window is removed from its document,
    * and each document is rebuilt from its surviving tokens
    * (space-joined and CASE-PRESERVING — span dedup is a TOKEN-level
    * operator, so rebuild normalizes token separators but keeps the
    * original bytes of every surviving token; span IDENTITY stays
    * case-insensitive via the lower-casing anchor tokenizer; documents
    * untouched by any cut keep their text byte-identical). Overlapping
    * cut windows union, docs losing every token drop, NULL texts pass
    * through.
    *
    * Identity is the gram's xxhash64 (the [[Decontaminate]] 8-bytes-
    * per-gram rationale: 2^-64 collision per pair, and a collision
    * merely over-cuts one window), with tokens joined on U+0001 so
    * token-boundary shifts cannot alias.
    *
    * Scale shape: the per-doc anchor pass is narrow O(n·k) character
    * hashing (k ≈ 50 — a constant factor over tokenization, linear in
    * corpus size); the canonical-occurrence aggregation partial-aggs
    * on the gram hash (a mass-duplicated span collapses map-side);
    * the join back is probe-side skew only (one build row per gram,
    * AQE-splittable); the rebuild is one shuffle on the uniform doc
    * id plus a per-doc O(n + cuts) sorted gap-walk over the cut list
    * (the cuts arrive sorted; uncovered ranges are the gaps between
    * consecutive cuts — no per-token membership scan, so even a doc
    * that is one giant repeated span stays linear). The determinism
    * note of [[exact]] applies (complementary NULL branches + the
    * id join).
    *
    * Deliberately NO incremental/history form: a span history is one
    * 8-byte hash per TOKEN of the accumulated corpus — tens of TB of
    * index against a 100 TB corpus, which is also what Lee et al.'s
    * suffix array costs. Public practice matches: exact-substring
    * dedup runs as a periodic batch pass over the accumulated corpus,
    * while the streaming path is carried by the paragraph
    * ([[paragraphIncrementalDelta]]) and document
    * ([[exactIncrementalDelta]], [[minhashIncremental]]) legs, whose
    * histories are per-paragraph/per-document, not per-token. */
  def repeatedSpanDedup(df: DataFrame, textCol: String, idCol: String,
      k: Int = 50, hotOccurrences: Int = 65536): DataFrame = {
    require(k >= 2, s"span threshold k must be >= 2 tokens, got $k")
    // materialize the token array in its OWN projection before any
    // lambda references it: lambda bodies re-evaluate per ELEMENT and
    // subexpression elimination skips lambda-containing trees (the
    // minhashSignature scale note), so an inlined tokens(text) inside
    // the gram lambda would tokenize each doc once PER POSITION —
    // measured ~3x on the l38 fixture (18 s in-sweep -> 4.5 s solo
    // steady after this hoist). CollapseProject keeps
    // the non-cheap alias because it is referenced several times.
    val tcol = graft.Cols.fresh(df.columns, "__toks")
    val toks = col(tcol)
    val ghs = when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k),
          i => xxhash64(concat_ws("\u0001", slice(toks, i + 1, lit(k))))))
      .otherwise(array().cast("array<bigint>"))
    // barrier: the anchor pass feeds FIVE plan subtrees (the canonical
    // aggregation under both the hot and cold split, and both join-back
    // legs) and Catalyst plans each as its own copy — .explain counted
    // five Generate(posexplode) evaluations of the same tokenize+hash
    // pipeline per execution (r19 plan audit, plans/r19/l38_*). One
    // eager materialization runs it once; the anchor table is narrow
    // (id, pos, hash — O(tokens) rows, the operator's own working set)
    // and spills via the block manager like every barrier in this file.
    val anchors = df.where(col(textCol).isNotNull)
      .withColumn(tcol, TF.tokens(col(textCol)))
      .select(col(idCol), posexplode(ghs))
      .withColumnRenamed("pos", "__apos").withColumnRenamed("col", "__agh")
      .localCheckpoint(eager = true)
    val canon = anchors.groupBy(col("__agh"))
      .agg(min(struct(col(idCol), col("__apos"))).alias("__m"),
        count(lit(1)).alias("__n"))
      // grams occurring once have nothing to cut — dropping them here
      // keeps the join-back build side at one row per DUPLICATED gram
      .where(col("__n") > 1)
    // hot-key isolation, the paragraphDedup rationale: mass-duplicated
    // grams' canonical rows broadcast, the cold rest shuffles with no
    // key above the threshold — lossless, AQE-independent
    val canonHot = canon.where(col("__n") > hotOccurrences)
      .select(col("__agh"), col("__m").alias("__mh"))
    val canonCold = canon.where(col("__n") <= hotOccurrences)
      .select(col("__agh"), col("__m").alias("__mc"))
    // hot anchors bypass the cold shuffle (the paragraphDedup branch
    // rationale — a left join would still route them through it)
    val hotJoined = anchors.join(broadcast(canonHot), Seq("__agh"), "left")
    val hotCut = hotJoined.where(col("__mh").isNotNull)
      .withColumn("__m", col("__mh")).drop("__mh")
    val coldCut = hotJoined.where(col("__mh").isNull).drop("__mh")
      .join(canonCold, Seq("__agh"), "left")
      .withColumn("__m", col("__mc")).drop("__mc")
    val cuts = hotCut.unionByName(coldCut)
      .where(col("__m").isNotNull &&
        !(col("__m").getField(idCol) === col(idCol) &&
          col("__m").getField("__apos") === col("__apos")))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__apos"))).alias("__cuts"))
    // Rebuild tokenizer is CASE-PRESERVING: TF.tokens lower-cases (its
    // job is identity/anchor normalization), but rebuilding the
    // SURVIVING text from lower-cased tokens would silently destroy
    // case corpus-wide on every cut document. split on the same
    // whitespace class aligns positionally with TF.tokens — Unicode
    // lower-casing never turns a non-whitespace char into whitespace
    // (it can change a token's LENGTH, e.g. U+0130, never the token
    // COUNT or positions), so anchor positions index this array
    // exactly. Anchors stay lower-cased: span identity remains
    // case-insensitive, only the rebuild output keeps the bytes.
    val toksCase = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    // Coverage walk over the SORTED cut list, O(n + cuts) instead of
    // the per-token `exists` O(n·cuts) scan (quadratic for a
    // pathological doc that is one giant repeated span): every cut
    // covers [s, s+k) and cuts are ascending, so the UNCOVERED index
    // ranges are exactly the gaps [0, c_1), [c_j + k, c_{j+1}) for
    // consecutive cuts, and [c_last + k, n) — an earlier cut c_i < c_j
    // covers at most up to c_i + k <= c_j + k, never past a gap start,
    // and each gap ends where its next cut begins. Overlapping cuts
    // make a gap empty (length clamped to 0); gaps never overlap
    // (gap j+1 starts k past where gap j ended). slice is 1-based.
    val cutsArr = col("__cuts")
    val nCuts = size(cutsArr)
    val gaps = transform(sequence(lit(0), nCuts), j => struct(
      when(j === 0, lit(0)).otherwise(element_at(cutsArr, j) + k).as("s"),
      when(j === nCuts, size(toks)).otherwise(element_at(cutsArr, j + 1)).as("e")))
    val survivors = flatten(transform(gaps, g => slice(toks,
      g.getField("s") + 1,
      greatest(g.getField("e") - g.getField("s"), lit(0)))))
    val rebuilt = df.where(col(textCol).isNotNull)
      .join(cuts, Seq(idCol), "left")
      .withColumn(tcol, toksCase)
      .withColumn(textCol,
        when(col("__cuts").isNull, col(textCol)) // untouched: byte-identical
          .otherwise(array_join(survivors, " ")))
      // a doc whose every token was cut drops; an untouched doc passes
      // whatever its text is (an originally-empty text is not a cut)
      .where(col("__cuts").isNull || length(col(textCol)) > 0)
      .drop("__cuts", tcol)
    rebuilt.unionByName(df.where(col(textCol).isNull))
  }

  /** Embedding-cosine near-dup pairs via hyperplane-LSH buckets: vectors
    * sharing a signature bucket are compared exactly; no global O(n²).
    * Oversized buckets (e.g. a mass of zero/constant vectors all landing
    * on the same signature) are sidelined like the text-LSH variants. */
  def embeddingNearDups(df: DataFrame, vecCol: String, idCol: String,
      nPlanes: Int = 8, threshold: Double = 0.95,
      maxBucket: Int = 4096): DataFrame = {
    val withB = df.select(col(idCol), col(vecCol),
      VF.hyperplaneSig(col(vecCol), nPlanes).alias("__bucket"))
    val bounded = dropOversizedBuckets(withB, Seq("__bucket"), maxBucket)
    // aliased self-join → one shared exchange (see minhashCandidates)
    bounded.as("a").join(bounded.as("b"), col("a.__bucket") === col("b.__bucket"))
      .where(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").alias("id_a"), col(s"b.$idCol").alias("id_b"),
        VF.cosineNative(col(s"a.$vecCol"), col(s"b.$vecCol")).alias("cos_sim"))
      // NaN guard, not just the threshold: a zero-norm vector scores NaN
      // against every bucket-mate, and Spark orders NaN GREATER than any
      // double — `cos_sim >= t` alone would emit every such pair as a
      // "near-duplicate" (same NaN-ordering trap as the top-k scorer)
      .where(!isnan(col("cos_sim")) && col("cos_sim") >= threshold)
  }
}
