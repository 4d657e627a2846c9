package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Train/eval DECONTAMINATION against a FROZEN eval-set n-gram table —
  * the intake-side counterpart of the l11 batch contamination check: a
  * document is contaminated when ANY of its token n-grams appears in
  * the eval set (the standard public rule — the GPT-3 appendix-C /
  * Dolma decontamination pass), and contaminated documents are dropped
  * before they can enter a training corpus.
  *
  * Unlike the dedup histories, the eval gram table is a REFERENCE set:
  * written once from the frozen eval corpus, never appended per batch —
  * so there is no delta/fold machinery here, just a bucketed table and
  * a probe.
  *
  * Grams are stored and probed as 64-bit hashes (`xxhash64`), the
  * standard production form (Dolma uses a Bloom filter over hashed
  * grams): 8 bytes per gram cross the shuffle instead of the gram
  * string, and the only cost is a 2^-64-per-pair false-positive rate —
  * astronomically below the fixture's and any real corpus's pair
  * counts (a false positive merely over-drops one doc).
  *
  * Scale shape (the probe, per micro-batch): the batch explodes to its
  * distinct per-doc gram HASHES and shuffles those (id, hash) pairs —
  * uniform key, 16 bytes a row — into a semi-join against the
  * hash-bucketed eval table, which reads its bucket files with NO
  * exchange; the surviving ids (≤ batch docs) broadcast into the final
  * anti-join. One pass over the batch, nothing driver-side, and the
  * eval side never moves no matter how large the accumulated corpus
  * gets. */
object Decontaminate {

  /** Persist the eval corpus's DISTINCT token n-gram hashes, bucketed
    * on the hash — one pass over the (eval-sized) corpus; rebuild
    * whenever the eval set itself changes. Tokens are the portable
    * lowercase whitespace split ([[TF.tokens]]), grams space-joined —
    * the exact representation the l11 oracle restates in SQL. */
  def writeEvalGrams(spark: org.apache.spark.sql.SparkSession,
      evalDocs: DataFrame, textCol: String, table: String, n: Int = 5,
      numBuckets: Int = 16): Unit = {
    val grams = evalDocs
      .select(explode(array_distinct(TF.bindOnce(TF.tokens(col(textCol)))(
        ts => TF.ngramsOfTokens(ts, n)))).as("__g"))
      .select(xxhash64(col("__g")).as("gramh"))
      .distinct()
    Layout.writeBucketed(grams, table, Seq("gramh"), numBuckets)
  }

  /** Drop every `docs` row sharing at least one token n-gram with the
    * persisted eval set. Documents with fewer than `n` tokens have no
    * grams and PASS (no evidence — the multimodal identity convention);
    * NULL text likewise. `n` must match the build. */
  def dropContaminated(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, textCol: String, idCol: String, table: String,
      n: Int = 5): DataFrame = {
    val g = graft.Cols.fresh(docs.columns :+ "gramh", "__gramh")
    // tokens BOUND before the n-gram build ([[TF.bindOnce]]): the
    // slice-per-gram lambda re-evaluates an unbound token expression
    // per element — O(tokens²) re-tokenization on the intake hot path
    val batchGrams = docs
      .select(col(idCol), explode(array_distinct(TF.bindOnce(
        TF.tokens(col(textCol)))(ts => TF.ngramsOfTokens(ts, n)))).as(g))
      .select(col(idCol), xxhash64(col(g)).as(g))
    val contaminated = batchGrams
      .join(spark.table(table), col(g) === col("gramh"), "left_semi")
      .select(col(idCol)).distinct()
    docs.join(broadcast(contaminated), Seq(idCol), "left_anti")
  }

  /** Drop an eval gram table (and its warehouse location). */
  def dropEvalGrams(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit =
    Layout.dropTableAndLocation(spark, table)

  // ============ MULTIMODAL / EMBEDDING decontamination ============
  // Eval-set leakage in a multimodal corpus also arrives as images,
  // audio, video, and embeddings — a benchmark image re-encoded into a
  // crawl defeats the n-gram check completely. The machinery is the
  // modality families' own identity probes (`_ph` dHash band, `_ab`
  // fingerprint band, `_vb`/`_vn` frame vote, `_ei` IVF cosine), but
  // probing FROZEN EVAL-side identity tables instead of corpus
  // histories: written once from the eval set, never appended.

  /** Persist the frozen eval set's multimodal identity tables under
    * `table` (the modality-history layout: `_ph`, `_ab`, `_vb`/`_vn`,
    * and — when `embCol` is set and the eval set carries vectors — an
    * `_ei` IVF index whose MAIN table holds the eval vectors). Each
    * identity extractor ignores payloads it cannot decode, so one
    * mixed eval frame (payload and/or embedding columns, the
    * mixed-intake row shape) builds every table in one call. Identity
    * bytes only — 8 bytes per image/audio, 12 per video frame, the
    * vectors themselves — so even a large benchmark suite stays tiny.
    * Rebuild whenever the eval set changes. */
  def writeEvalIdentities(spark: org.apache.spark.sql.SparkSession,
      evalRows: DataFrame, payloadCol: String, idCol: String,
      table: String, numBuckets: Int = 8,
      embCol: Option[String] = None, nLists: Int = 16): Unit = {
    dropEvalIdentities(spark, table)
    // one decode pass feeds all four table writes (lazy barrier: the
    // first write materializes it)
    val ident = Multimodal.multimodalIdentities(
        evalRows.where(col(payloadCol).isNotNull), payloadCol, idCol)
      .localCheckpoint(eager = false)
    Dedup.MultimodalHistory.ensure(spark, table, ident.schema(idCol), numBuckets)
    Dedup.appendImageHistoryDelta(spark, ident, idCol, table, 0L)
    Dedup.appendAudioHistoryDelta(spark, ident, idCol, table, 0L)
    Dedup.appendVideoHistoryDelta(spark, ident, idCol, table, 0L)
    Dedup.MultimodalHistory.fold(spark, table)
    embCol.foreach { e =>
      val vecs = evalRows.where(col(e).isNotNull).select(col(idCol), col(e))
      // an eval set without vectors simply skips the `_ei` table (the
      // probe skips it symmetrically) — writeIvfIndex refuses to train
      // a quantizer on zero vectors
      if (!vecs.isEmpty)
        Similarity.writeIvfIndex(spark, vecs, s"${table}_ei", nLists,
          numBuckets = numBuckets, cId = idCol, cVec = e)
    }
  }

  /** Drop every batch row whose payload matches an eval-set identity
    * (image within the dHash Hamming band, audio within the
    * fingerprint vote, video within the frame vote) or whose embedding
    * scores cosine ≥ `embTau` against an eval vector. Rows with no
    * identity in a family pass through it untouched (the multimodal
    * convention), so one call covers a mixed batch. Batch ids must be
    * DISJOINT from eval ids: the probes' same-id replay guard would
    * otherwise pass a row sharing an eval row's id — and with
    * `checkIds` on (default) a collision now fails LOUDLY instead of
    * silently letting the leakage through: the tiny eval id set
    * broadcasts into a left join whose match arm is `raise_error`, so
    * enforcement costs no extra action (one small broadcast build, no
    * count job) and fires exactly when a colliding row is evaluated.
    *
    * Scale shape: each leg is the corresponding incremental probe's —
    * batch identities broadcast, the eval tables (tiny by nature)
    * never exchange; the eval vectors probe bucket-pruned under the
    * eval-trained frozen quantizer. The payloads decode once
    * ([[Multimodal.multimodalIdentities]]) and the surviving ids
    * semi-join back to `batch`, which is therefore read twice — pass a
    * materialized batch (the caller's barrier) when payloads are
    * heavy. */
  def dropContaminatedMultimodal(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, payloadCol: String, idCol: String, table: String,
      embCol: Option[String] = None, embTau: Double = 0.95,
      checkIds: Boolean = true): DataFrame = {
    val clean = dropContaminatedIdentities(spark,
      Multimodal.multimodalIdentities(batch, payloadCol, idCol), idCol, table,
      checkIds)
    val s3 = batch.join(broadcast(clean.select(col(idCol))), Seq(idCol), "left_semi")
    embCol.filter(_ => spark.catalog.tableExists(s"${table}_ei")).fold(s3) { e =>
      Similarity.semanticIncrementalDelta(spark, s3, s"${table}_ei", embTau,
        idCol = idCol, vecCol = e, cId = idCol, cVec = e)
    }
  }

  /** The payload legs of [[dropContaminatedMultimodal]] over an
    * identity frame ([[Multimodal.multimodalIdentities]] — the fused
    * intake path runs this directly on its materialized identities):
    * the image, audio and video probes chained in that order behind the
    * eval-id collision guard. Returns the clean identity rows. No
    * embedding leg — the intake loop decontaminates its embedding rows
    * separately. */
  def dropContaminatedIdentities(spark: org.apache.spark.sql.SparkSession,
      ident: DataFrame, idCol: String, table: String,
      checkIds: Boolean = true): DataFrame = {
    val guarded = if (!checkIds) ident
      else guardEvalIdCollisions(spark, ident, idCol, table)
    val s1 = Dedup.imageIncrementalDelta(spark, guarded, table, idCol)
    val s2 = Dedup.audioIncrementalDelta(spark, s1, table, idCol)
    Dedup.videoIncrementalDelta(spark, s2, table, idCol)
  }

  /** The eval-id disjointness guard of every multimodal probe:
    * batch ids colliding with any eval identity-table id fail LOUDLY
    * via a broadcast left join whose match arm is `raise_error` (the
    * same-id replay guard would otherwise silently pass a contaminated
    * row). */
  private def guardEvalIdCollisions(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, idCol: String, table: String): DataFrame = {
      // the `_ei` IVF main table stores its id under the NAME the
      // writeEvalIdentities caller used — which need not match this
      // probe call's idCol. Resolve it structurally (the one column
      // that is neither the list assignment nor the vector), so a
      // probe with a different id name guards correctly instead of
      // failing with an unresolved-column AnalysisException.
      def eiIdCol(t: String): String = {
        val f = spark.table(t).schema.fields
          .find(f => f.name != "__list" &&
            !f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        require(f.isDefined, s"$t: no scalar id column found")
        f.get.name
      }
      val sources =
        Seq(s"${table}_ph" -> (() => "__pid"),
          s"${table}_ab" -> (() => "__pid"),
          s"${table}_vn" -> (() => "__pid"),
          s"${table}_ei" -> (() => eiIdCol(s"${table}_ei")))
      val idFrames = sources.collect {
        case (t, c) if spark.catalog.tableExists(t) =>
          spark.table(t).select(col(c()).alias("__eval_id"))
      }
      if (idFrames.isEmpty) batch else {
        val e = graft.Cols.fresh(batch.columns, "__eval_id")
        // distinct is load-bearing: duplicate build-side keys in the
        // left join would silently MULTIPLY colliding batch rows
        val evalIds = idFrames.reduce(_ unionByName _).distinct()
          .select(col("__eval_id").alias(e))
        batch.join(broadcast(evalIds), col(e) === col(idCol), "left")
          .withColumn(idCol, when(col(e).isNotNull,
            raise_error(concat(
              lit("dropContaminatedMultimodal: batch id "),
              col(e).cast("string"),
              lit(s" collides with an eval id in '$table' — batch ids" +
                " must be disjoint from eval ids (the same-id replay" +
                " guard would otherwise pass a contaminated row)"))))
            .otherwise(col(idCol)))
          .drop(e)
      }
  }

  /** Drop an eval identity-table set (all modality tables + the
    * optional `_ei` index). */
  def dropEvalIdentities(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    Dedup.MultimodalHistory.drop(spark, table)
    Similarity.dropIvfIndex(spark, s"${table}_ei")
  }
}
