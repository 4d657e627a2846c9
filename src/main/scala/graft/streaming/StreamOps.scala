package graft.streaming

import graft.operators.CdcApply
import graft.sources.AtomicPointer
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Structured-Streaming operators replicating the Connect runtime
  * semantics (SURVEY §2.8 T1-T9). The reference's Connect worker is an
  * at-least-once per-record pump with sink-side idempotence (PK upsert)
  * and offsets in a Kafka topic (reference `main.sh:62-67`); Spark's
  * equivalents are watermarked stateful operators plus checkpointed
  * `foreachBatch` sinks.
  *
  * Every helper takes/returns DataFrames so it works identically on a
  * batch frame (for the DuckDB-oracle batch equivalents) and on a
  * streaming frame (exercised with MemoryStream in the test suite) —
  * the batch/streaming unification described in "Structured Streaming:
  * A Declarative API for Real-Time Applications in Apache Spark"
  * (SIGMOD 2018; PAPERS.md corpus).
  */
object StreamOps {

  /** The optional text-front-half gate pack (one trailing parameter
    * instead of four more positional Options on every intake
    * signature). All default-off; all pure per-row or broadcast-join
    * work — none changes the loop's shuffle/exactly-once shape:
    *  - `gopherRules` applies [[graft.operators.GopherRules]] (Rae et
    *    al. 2021 table A1) right before the heuristic quality gate;
    *  - `qualityPareto = Some((model, alpha))` applies the GPT-3
    *    appendix-A Pareto-noisy keep
    *    ([[graft.operators.QualityClassifier.paretoKeeps]]) after the
    *    hard-threshold gate (compose or use either alone);
    *  - `hostBlocklist` (one `host` string column) anti-joins the
    *    canonical-URL host right after the URL-dedup leg (RefinedWeb
    *    URL filtering; requires `urlDedupCol`);
    *  - `langIdKeep = Some((model, keepLangs))` routes on the trained
    *    language ID ([[graft.operators.LangId]], CCNet stage 1) before
    *    any quality/LM scoring; `langIdMinScoreMicro` adds CCNet's
    *    confidence floor to that leg (drop when the WINNING head sits
    *    below it — off-distribution docs whose argmax lands in the
    *    keep set by luck; 0 = pure argmax routing);
    *  - `dsir = Some((model, minKeyMicro))` applies DSIR
    *    distribution-matching selection ([[graft.operators.Dsir]], Xie
    *    et al. 2023) as the per-row Gumbel-noised threshold — the
    *    intake analogue of Gumbel top-k (a micro-batch cannot rank
    *    against unseen documents, so the acceptance bar replaces the
    *    count), after the quality gates;
    *  - `pii = Some(maxPii)` applies the Dolma PII policy right after
    *    cleaning and BEFORE every dedup/scoring leg: PII-dense docs
    *    (more than `maxPii` email/phone/IP instances) drop, survivors
    *    are masked — so every downstream hash, history row, and score
    *    sees the masked text and cross-batch dedup stays consistent;
    *  - `c4 = Some(cfg)` applies the C4 line surgery + doc rules
    *    ([[graft.operators.C4Rules]], Raffel et al. 2020 §2.2) right
    *    after the PII leg and before every dedup/scoring leg:
    *    surviving docs are REWRITTEN to their surviving lines, so all
    *    downstream hashes, history rows, and scores see the surgered
    *    text (the PII-mask discipline). Turning the gate on switches
    *    the cleaning pass to the newline-preserving normalize — line
    *    rules need lines to exist. */
  final case class TextGates(
      gopherRules: Option[graft.operators.GopherRules.Config] = None,
      c4: Option[graft.operators.C4Rules.Config] = None,
      qualityPareto: Option[(graft.operators.QualityClassifier.LrModel,
        Double)] = None,
      hostBlocklist: Option[DataFrame] = None,
      langIdKeep: Option[(graft.operators.LangId.Model,
        Set[String])] = None,
      langIdMinScoreMicro: Long = 0L,
      dsir: Option[(graft.operators.Dsir.Model, Long)] = None,
      pii: Option[Int] = None)

  /** T1 — watermark (streaming only; identity on batch frames). */
  def withWatermark(df: DataFrame, tsCol: String, delay: String): DataFrame =
    if (df.isStreaming) df.withWatermark(tsCol, delay) else df

  /** T2/T3 — tumbling (slide == size) or sliding window aggregation. */
  def windowedAgg(df: DataFrame, tsCol: String, size: String, slide: String,
      keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(tsCol), size, slide) +: keys: _*).agg(aggs.head, aggs.tail: _*)

  /** T4 — session windows with a fixed inactivity gap. */
  def sessionAgg(df: DataFrame, tsCol: String, gap: String,
      keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(session_window(col(tsCol), gap) +: keys: _*).agg(aggs.head, aggs.tail: _*)

  /** T5 — streaming dedup on keys (with watermark bound when streaming). */
  def dedup(df: DataFrame, keys: Seq[String]): DataFrame = df.dropDuplicates(keys)

  /** T5b — dedup with bounded state: duplicates are only tracked while
    * inside the watermark window, so state is evicted as event time
    * advances — the form that survives unbounded streams. Falls back to
    * plain dropDuplicates on batch frames (no watermark to bound). */
  def dedupWithinWatermark(df: DataFrame, keys: Seq[String]): DataFrame =
    if (df.isStreaming) df.dropDuplicatesWithinWatermark(keys)
    else df.dropDuplicates(keys)

  /** The exactly-once commit protocol of every micro-batch function
    * here — the `foreachBatch` contract of Structured Streaming (SIGMOD
    * 2018): a deterministic replay plus an idempotent commit, stated
    * once. `dir/_LATEST` holds the id of the last committed batch. A
    * batch whose id it already records is a full replay and is skipped
    * (returns false): Structured Streaming replays at most the last
    * uncommitted batch per checkpoint, so comparing against the latest
    * committed id is the whole idempotence contract (older ids cannot
    * legally reappear). Otherwise `body` runs with the previously
    * committed id, and the pointer flips via write-tmp + atomic rename
    * ([[graft.sources.AtomicPointer]]). Every write `body` makes must
    * overwrite a directory the batch owns, so a crash at any step
    * leaves the old pointer and the replay rewrites identical content.
    * Missing state is only inferred from the pointer file genuinely
    * not existing — any other read failure propagates.
    *
    * Streaming callers wire a batch function into a query inline:
    * {{{
    * frame.writeStream.option("checkpointLocation", ckpt)
    *   .foreachBatch { (b: DataFrame, id: Long) =>
    *     StreamOps.mixedIntakeBatch(b, id, …): Unit }
    * }}} */
  private def commitOnce(spark: SparkSession, dir: String, batchId: Long)(
      body: Option[Long] => Unit): Boolean = {
    val current = committed(spark, dir)
    if (current.contains(batchId)) return false // replayed batch: no-op
    body(current)
    AtomicPointer.write(spark.sparkContext.hadoopConfiguration,
      new Path(dir, s"_LATEST.tmp-$batchId"), new Path(dir, "_LATEST"),
      batchId.toString)
    true
  }

  /** The id of the last batch committed under `dir` ([[commitOnce]]). */
  private def committed(spark: SparkSession, dir: String): Option[Long] =
    AtomicPointer.read(spark.sparkContext.hadoopConfiguration,
      new Path(dir, "_LATEST")).map(_.toLong)

  /** CDC state snapshot `id` (empty frame with `schema` if none). */
  private def snapshot(spark: SparkSession, stateDir: String, id: Option[Long],
      schema: org.apache.spark.sql.types.StructType): DataFrame = id match {
    case Some(id) => spark.read.parquet(new Path(stateDir, s"batch-$id").toString)
    case None => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Write a batch's survivors to its own `dir/batch-<id>/` and return
    * them re-read. The write is the plan barrier: the history appends
    * that follow see the SAME survivor set, computed once, by scanning
    * the written directory (one small bounded scan each) instead of
    * re-running the survivor plan or paying a checkpoint's block copy.
    * The explicit schema keeps the re-read from spending a
    * schema-discovery job over the just-written footers. */
  private def writeSurvivors(frame: DataFrame, dir: String,
      batchId: Long): DataFrame = {
    val path = new Path(dir, s"batch-$batchId").toString
    frame.write.mode("overwrite").parquet(path)
    frame.sparkSession.read.schema(frame.schema).parquet(path)
  }

  /** T8/T9 — one CDC micro-batch against the versioned state store: the
    * at-least-once + idempotent-write contract of the Debezium sink
    * (reference `Dockerfile:28-31`). Returns false if the batch was
    * already applied (replay skipped).
    *
    * State layout: `stateDir/batch-<id>/` immutable snapshots plus the
    * `stateDir/_LATEST` pointer ([[commitOnce]]). Each micro-batch
    * reads the pointed-at snapshot, applies the changes and writes a
    * NEW snapshot dir before the pointer flips. */
  def applyBatch(batch: DataFrame, batchId: Long, stateDir: String,
      keys: Seq[String], ord: Seq[Column], isTombstone: Column): Boolean = {
    val spark = batch.sparkSession
    val root = new Path(stateDir)
    commitOnce(spark, stateDir, batchId) { current =>
      val state = snapshot(spark, stateDir, current, batch.schema)
      // Debezium-sink parity: `schema.evolution=basic` — a batch carrying
      // new fields widens the state schema (typed NULL backfill), existing
      // columns are never dropped or retyped.
      val (stateEv, batchEv) = graft.sources.SchemaEvolution.evolve(state, batch)
      CdcApply(stateEv, batchEv, keys, ord, isTombstone)
        .write.mode("overwrite").parquet(new Path(root, s"batch-$batchId").toString)
      // GC: superseded snapshots (anything but the pointed-at and the
      // new one) would otherwise accumulate one full state copy per
      // micro-batch. Nothing reads them: the pointer still names the
      // kept previous snapshot until the flip.
      val keep = Set(s"batch-$batchId") ++ current.map(id => s"batch-$id")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("batch-") && !keep(n)) fs.delete(st.getPath, true)
      }
    }
  }

  /** L2 incremental near-dedup ingest micro-batch: exact dedup within
    * the batch, MinHash near-dedup within the batch, near-dedup against
    * the persisted band history (main ∪ delta,
    * [[graft.operators.Dedup.nearDedupIncremental]]), survivors written
    * to `outDir/batch-<id>/` and appended to the history's delta
    * ([[graft.operators.Dedup.appendBandHistoryDelta]]). Returns false
    * if the batch id is already recorded (full replay: no-op).
    *
    * Every leg is exactly-once ([[commitOnce]]): survivor output
    * overwrites its own directory, the history append overwrites its
    * own `batch-<id>/` delta subdirectory, and the probe excludes
    * same-id pairs, so a replay after a crash between append and
    * pointer flip recomputes the identical survivor set against its
    * own half-state. The accumulated (100 TB) main tables are never
    * read for the write and never rewritten on the hot path; fold the
    * delta with [[graft.operators.Dedup.BandHistory]] on whatever
    * cadence bounds delta size (probes stay correct either way).
    *
    * First batch: the bucketed main tables must exist for the delta
    * dirs to belong to — an EMPTY history is created once (two bucketed
    * writes of zero rows), after which the main tables only change at
    * compaction. */
  def nearDedupBatch(batch: DataFrame, batchId: Long, historyTable: String,
      numBuckets: Int, textCol: String, idCol: String, outDir: String,
      threshold: Double = 0.8): Boolean = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    commitOnce(spark, outDir, batchId) { _ =>
      // creates whichever history half is missing (a keyed-on-one-table
      // check would wedge forever after a crash between the two creates)
      Dedup.BandHistory.ensure(spark, historyTable, batch.schema(idCol),
        numBuckets)
      val within = Dedup.nearDedupMinhash(
        Dedup.exact(batch, textCol, idCol), textCol, idCol, threshold)
      val survivors = writeSurvivors(Dedup.nearDedupIncremental(spark, within,
        historyTable, textCol, idCol, threshold), outDir, batchId)
      Dedup.appendBandHistoryDelta(spark, survivors, textCol, idCol,
        historyTable, batchId)
    }
  }

  /** The text front half + dedup chain of [[mixedIntakeBatch]], ending
    * at the UNWRITTEN survivor frame (idCol, text, quality) — the
    * exactly-once write (which doubles as the plan barrier, the
    * job-budget rationale) stays with the caller, which merges this
    * frame with the other legs' and writes ONCE. */
  private def textSurvivorFrame(batchRaw: DataFrame, historyTable: String,
      numBuckets: Int, htmlCol: String, idCol: String,
      minQuality: Double, threshold: Double,
      extractBoilerplate: Boolean,
      lmGate: Option[(graft.operators.NgramLm.CharLm, Double)],
      decontaminate: Option[(String, Int)],
      paragraphDedup: Boolean,
      lmBuckets: Option[(graft.operators.NgramLm.CharLm,
        graft.operators.NgramLm.PplThresholds, Set[String])],
      urlDedupCol: Option[String],
      qualityModel: Option[(graft.operators.QualityClassifier.LrModel,
        Long)],
      gates: TextGates): DataFrame = {
    import graft.operators.{Decontaminate, Dedup}
    import graft.functions.{TextFunctions => TF}
    // URL dedup is the FIRST leg by design (RefinedWeb/CCNet run it
    // before content ever downloads): a canonical-URL duplicate row
    // never reaches cleaning, scoring, or any history
    val batchU = urlDedupCol.fold(batchRaw)(u =>
      graft.operators.UrlOps.urlDedup(batchRaw, u, idCol))
    // host-blocklist filtering right after URL dedup (the RefinedWeb
    // order: URL-level filtering before content costs anything) — one
    // broadcast anti join, list-sized build side
    val batch = gates.hostBlocklist.fold(batchU) { bl =>
      require(urlDedupCol.isDefined, "hostBlocklist requires urlDedupCol")
      graft.operators.UrlOps.hostFilter(batchU, urlDedupCol.get, bl)
    }
    val spark = batch.sparkSession
    // the clean/score front half: per-row native expressions only.
    // Paragraph mode preserves paragraph BOUNDARIES through cleaning
    // ('\n' is the dedup unit separator): block tags become newlines
    // before stripHtml (or the block classifier joins its surviving
    // blocks with '\n'), and the normalize pass collapses whitespace
    // without crossing newlines.
    // C4 line surgery needs lines to exist — its presence forces the
    // newline-preserving cleaning variants (same as paragraph mode)
    val keepLines = paragraphDedup || gates.c4.isDefined
    val cleaned = (extractBoilerplate, keepLines) match {
      case (true, false) =>
        TF.normalizeText(TF.stripHtml(TF.extractContent(col(htmlCol))))
      case (false, false) =>
        TF.normalizeText(TF.stripHtml(col(htmlCol)))
      case (true, true) =>
        TF.normalizeTextKeepNewlines(TF.stripHtml(
          TF.extractContent(col(htmlCol), blockSep = "\n")))
      case (false, true) =>
        TF.normalizeTextKeepNewlines(TF.stripHtml(
          TF.blockTagsToNewlines(col(htmlCol))))
    }
    val cleanedDf0 = batch.select(col(idCol), cleaned.as("text"))
    // optional Dolma PII policy — FIRST text leg after cleaning, so
    // every downstream hash, history row, and score sees the MASKED
    // text (cross-batch dedup would silently break if one batch's
    // history rows were masked and the next batch's probes were not)
    val cleanedDfP = gates.pii.fold(cleanedDf0) { maxPii =>
      cleanedDf0.where(TF.piiKeeps(col("text"), maxPii))
        .withColumn("text", TF.maskPiiAll(col("text")))
    }
    // optional C4 line surgery (Raffel et al. 2020 §2.2) — right after
    // the PII policy, before any dedup/scoring leg, so every history
    // hash and score sees the SURGERED text (the mask discipline):
    // docs failing the rebuilt-text rules drop, survivors are
    // rewritten to their surviving lines. Filter pass + rewrite pass,
    // both O(len) per-row folds (the accepted PII-leg shape).
    val cleanedDf = gates.c4.fold(cleanedDfP) { cfg =>
      cleanedDfP.where(graft.operators.C4Rules.keeps(col("text"), cfg))
        .withColumn("text", graft.operators.C4Rules.cleanedText(col("text"), cfg))
    }
    // optional paragraph legs (CCNet order: paragraph dedup BEFORE
    // quality/LM scoring, so shed boilerplate never biases a doc's
    // score): within-batch keep-first, then the `_pg` history probe.
    // Both passes explode and re-reference their input several times
    // (canon groupBy + join-back + reassembly; probe broadcasts), so
    // the cleaned batch materializes once — the same barrier class as
    // the exactNew checkpoint below, batch-sized by construction.
    val paraed =
      if (!paragraphDedup) cleanedDf
      else {
        Dedup.ParagraphHistory.ensure(spark, historyTable,
          cleanedDf.schema(idCol), numBuckets)
        // the within-result checkpoint keeps the probe's ~4 references
        // from re-running the within pass's two shuffles each time
        Dedup.paragraphIncrementalDelta(spark,
          Dedup.paragraphDedup(cleanedDf.localCheckpoint(eager = true),
            "text", idCol).localCheckpoint(eager = true),
          historyTable, "text", idCol)
      }
    // optional TRAINED language-ID routing (CCNet stage 1 — language
    // first, so no LM/quality signal ever scores a wrong-language
    // doc): K per-row map-literal folds, no join/shuffle/job added
    val langed = gates.langIdKeep.fold(paraed) { case (m, keep) =>
      paraed.where(graft.operators.LangId.keeps(col("text"), m, keep,
        gates.langIdMinScoreMicro))
    }
    // optional Gopher rule pack (Rae et al. 2021 table A1) — pure
    // per-row in-row folds, the same hot-loop class
    val gophered = gates.gopherRules.fold(langed)(cfg =>
      langed.where(graft.operators.GopherRules.keeps(col("text"), cfg)))
    val heuristicScored = TF.withQualityOnly(gophered, "text")
      .where(col("quality") >= minQuality)
    // optional TRAINED classifier gate (the GPT-3/DCLM keep rule):
    // pure per-row map-literal fold — same hot-loop class as the
    // heuristic gate, no join/shuffle/job added
    val qualityHard = qualityModel.fold(heuristicScored) {
      case (model, minP) => heuristicScored.where(
        graft.operators.QualityClassifier.keeps(col("text"), model, minP))
    }
    // optional Pareto-NOISY classifier keep (GPT-3 appendix A's actual
    // corpus rule) — shares the same per-row scoring-fold class; both
    // forms may be on at once (threshold floor + noisy tail keep)
    val qualityPareted = gates.qualityPareto.fold(qualityHard) {
      case (model, alpha) => qualityHard.where(
        graft.operators.QualityClassifier.paretoKeeps(
          col("text"), col(idCol), model, alpha))
    }
    // optional DSIR distribution-matching selection (Xie et al. 2023)
    // in its threshold form — one more per-row map-literal fold in the
    // same codegen span; the quality gates keep garbage out, DSIR
    // shapes what remains toward the target distribution
    val qualityScored = gates.dsir.fold(qualityPareted) {
      case (model, minKey) => qualityPareted.where(
        graft.operators.Dsir.keeps(col("text"), col(idCol), model, minKey))
    }
    val scored = (lmGate, lmBuckets) match {
      case (None, None) => qualityScored
      case _ =>
        val lm = lmGate.map(_._1).orElse(lmBuckets.map(_._1)).get
        require(lmGate.forall(_._1 eq lm) && lmBuckets.forall(_._1 eq lm),
          "lmGate and lmBuckets must share one CharLm (one scoring pass)")
        // barrier: scoreDocs references its input on BOTH sides of the
        // score join — without it the clean/score front half (plus the
        // block classifier when enabled) runs twice before the exactNew
        // barrier below even exists. Batch-sized.
        val sc = graft.operators.NgramLm.scoreDocs(
          qualityScored.localCheckpoint(true), "text", idCol, lm)
        // evidence-free docs (n_big = 0 → avg_logp NULL) PASS both
        // forms: the gate's job is to drop text the model scores as
        // gibberish, and a doc with no bigrams gave the model nothing
        // to score — same "no evidence passes through" convention as
        // the multimodal identity legs. (A bare `avg_logp >= x` would
        // silently drop them via NULL-comparison semantics; the bucket
        // CASE routes them to 'unscored', which always survives.)
        val gated = lmGate.fold(sc) { case (_, minAvgLogp) =>
          sc.where(col("n_big") === 0 || col("avg_logp") >= minAvgLogp)
        }
        val bucketed = lmBuckets.fold(gated) { case (_, th, keep) =>
          // CCNet's published recipe: bucket on FROZEN reference-corpus
          // thresholds, keep head+middle (or whatever the caller set) —
          // a pure per-row CASE in the hot loop, no per-batch sampling
          gated.where(graft.operators.NgramLm.bucketColumn(
              col("avg_logp"), col(idCol).cast("long"), col("n_big"), th)
            .isin(keep.toSeq :+ "unscored": _*))
        }
        bucketed.drop("n_big", "q_sum", "avg_logp")
    }
    // LAZY barrier on the gated batch (r20): the front half below this
    // line is re-evaluated by every downstream reference — exact()
    // scans its input TWICE by design (NULL routing), the quality
    // filter's pushed-down condition carries its own copy of the
    // score chain, and the optional decon probe adds another — ~3-4
    // full strip→normalize→fold evaluations per micro-batch
    // (plan-counted: 13 strip_html copies in the scored plan). A lazy
    // localCheckpoint materializes the survivors-so-far ONCE without a
    // new job: the eager exactNew barrier below computes every
    // partition, and LocalRDDCheckpointData persists them as that job
    // runs. (Batch-sized; same executor-loss trade as every barrier in
    // this loop — a lost executor replays the batch from the pointer.)
    val scoredB = scored.localCheckpoint(false)
    // optional decontamination leg: drop docs sharing any token n-gram
    // with the frozen eval set BEFORE they can reach the histories (a
    // contaminated doc must not even leave its near-dup band rows
    // behind). Gram probe is over the CLEANED text — the same form the
    // corpus will train on.
    val decon = decontaminate match {
      case None => scoredB
      case Some((t, n)) =>
        Decontaminate.dropContaminated(spark, scoredB, "text", idCol, t, n)
    }
    // creates whichever history tables are missing (crash-safe per
    // table — a keyed-on-one-table check would wedge after a crash
    // between creates)
    Dedup.IntakeHistory.ensure(spark, historyTable, decon.schema(idCol),
      numBuckets)
    val exactWithin = Dedup.exact(decon, "text", idCol)
    val exactNew = Dedup.exactIncrementalDelta(spark, exactWithin,
      historyTable, "text", idCol)
      // barrier: everything below re-reads the batch several times —
      // the within-batch LSH evaluates its input once for banded
      // signatures and once for shingles, and the history probe then
      // evaluates both pipelines again. Materializing the cleaned,
      // scored, exact-deduped batch ONCE stops the native front half
      // (strip → NFC → score → hash dedup window → history anti-join)
      // from re-running under each of those four signature plans.
      // Batch-sized by construction; same barrier class as the
      // survivor checkpoint below.
      .localCheckpoint(eager = true)
    val nearWithin = Dedup.nearDedupMinhash(exactNew, "text", idCol, threshold)
    // NO barrier here: the output write and BOTH delta appends must
    // see the SAME survivor set, computed once (not three LSH pipeline
    // runs) — the caller's exactly-once survivor WRITE is that barrier
    // (it runs this plan once, and the appends re-read the written
    // batch directory — one tiny bounded scan each — instead of a
    // checkpoint's block copy). One fewer job per micro-batch and no
    // duplicate materialization (the r11 job-budget audit; count
    // pinned in StreamingSpec).
    Dedup.nearDedupIncremental(spark, nearWithin, historyTable,
      "text", idCol, threshold)
  }

  /** The binary legs of [[mixedIntakeBatch]] over a MIXED binary corpus
    * (images, audio clips, video clips in one payload column), ending
    * at the UNWRITTEN survivor frame. It composes the three identity
    * families with NO modality detector: every identity extractor
    * returns "no identity" for payloads it cannot decode, and every
    * dedup stage passes no-identity rows through untouched — so
    * chaining image → audio → video dedup routes each payload to
    * exactly the stage that can see it:
    *
    *  1. image: within-batch keep-min per dHash ([[graft.operators
    *     .Dedup.imageExact]]), then vs the `_ph` history;
    *  2. audio: within-batch cluster resolution over spectral
    *     fingerprints, then the banded `_ab` history vote;
    *  3. video: within-batch cluster resolution over frame votes,
    *     then the `_vb`/`_vn` history probe.
    *
    * Returns (survivor payload frame, survivor IDENTITY frame) — the
    * caller's history-delta appends project from the second, so the
    * batch's payload bytes are decoded exactly once end-to-end.
    *
    * Fused-identity shape (r20): ONE decode pass
    * ([[graft.operators.Multimodal.multimodalIdentities]]) computes
    * every modality identity together; the frame is identity-sized
    * (8 B image + 8 B audio + 12 B/frame video per row) and
    * materializes once. Every dedup stage then consumes and returns
    * identity rows, so no stage or history append decodes a payload.
    * Stage boundaries persist only the surviving ID SET (the
    * resident-bytes discipline) and semi-join the materialized identity
    * frame back, so no stage re-runs an upstream pipeline and plans
    * stay bounded. Payloads never cross a shuffle: batch sides
    * broadcast, history sides never exchange, and the batch's blobs
    * are resident exactly ONCE (the single batch checkpoint).
    *
    * Barrier class: `localCheckpoint` (eager) — lineage is truncated,
    * so an executor loss inside the batch fails the job and the batch
    * replays from the pointer (exactly-once makes that safe) rather
    * than recomputing. That trade is right for bounded micro-batches;
    * a multi-hour 100 TB BATCH caller should prefer reliable
    * `checkpoint()` under a checkpoint dir (the r19 verdict note). */
  private def multimodalSurvivorFrame(batch: DataFrame, historyTable: String,
      numBuckets: Int, payloadCol: String, idCol: String,
      decontaminateMm: Option[String]): (DataFrame, DataFrame) = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    Dedup.MultimodalHistory.ensure(spark, historyTable, batch.schema(idCol),
      numBuckets)
    def keepMinIds(clusters: DataFrame): DataFrame =
      clusters.where(col(idCol) === col("cluster")).select(col(idCol))
    // payloads resident once (the final survivor write needs them);
    // identities decoded once, materialized once
    val batch0 = batch.localCheckpoint(eager = true)
    val ident0 = graft.operators.Multimodal.multimodalIdentities(
        batch0, payloadCol, idCol)
      .localCheckpoint(eager = true)
    // stage boundary: persist the surviving ID SET only (bytes per
    // row) and semi-join the materialized identity frame back — a
    // stage re-reading its input re-runs a broadcast semi-join over
    // identity blocks, never a decode or an upstream pipeline
    def step(ids: DataFrame): DataFrame =
      ident0.join(broadcast(ids.select(col(idCol))
        .localCheckpoint(eager = true)), Seq(idCol), "left_semi")
    // optional eval decontamination, BEFORE the dedup legs (the text
    // leg's placement rationale: a contaminated payload must never
    // leave history rows behind)
    val base = decontaminateMm.fold(ident0) { t =>
      step(graft.operators.Decontaminate.dropContaminatedIdentities(
        spark, ident0, idCol, t))
    }
    // the two image stages share ONE boundary: the exact-keep-min
    // window is identity-sized, so the incremental probe re-deriving it
    // under its two references costs a small re-sort over materialized
    // blocks, not a decode — one fewer checkpoint job per micro-batch
    val s2 = step(Dedup.imageIncrementalDelta(spark,
      Dedup.imageExact(base, idCol), historyTable, idCol))
    val s3 = step(keepMinIds(Dedup.audioNearDupClusters(s2, idCol)))
    val s4 = step(Dedup.audioIncrementalDelta(spark, s3, historyTable, idCol))
    val s5 = step(keepMinIds(Dedup.videoNearDupClusters(s4, idCol)))
    val s6 = step(Dedup.videoIncrementalDelta(spark, s5, historyTable, idCol))
    (batch0.join(broadcast(s6.select(col(idCol))), Seq(idCol), "left_semi"), s6)
  }

  /** The intake loop — the production shape of the whole engine and the
    * only intake micro-batch: one exactly-once `foreachBatch` pipeline
    * over a real crawl batch, where a row carries text (`htmlCol`), a
    * binary payload (`payloadCol`), an embedding (`embCol`), or any
    * combination. Returns false if the batch id is already recorded
    * (full replay: no-op).
    *
    * A leg runs when its content column is in the batch's schema (the
    * embedding leg: when `embCol` is set), so a text-only or
    * binary-only stream is just a frame without the other column.
    * Within a leg, routing is null-based — no content detector: a row's
    * non-NULL columns decide which legs see it, and a row carrying
    * several families takes part in each independently (the merged row
    * keeps whatever survived).
    *
    *  - text rows: URL dedup → clean (`strip_html` → `normalizeText`,
    *    one per-row pass) → gates → exact dedup within the batch then
    *    vs the HASH history ([[graft.operators.Dedup
    *    .exactIncrementalDelta]]; catches short docs LSH cannot see)
    *    → near dedup within the batch then vs the BAND history
    *    ([[graft.operators.Dedup.nearDedupIncremental]]). The quality
    *    gate drops rows scoring below `minQuality` (intake is a filter,
    *    unlike the pure dedup operators' NULL pass-through);
    *  - payload rows: the image → audio → video identity legs
    *    ([[multimodalSurvivorFrame]]) vs the three binary histories;
    *  - embedding rows: SemDeDup at intake — within-batch cluster
    *    resolution under the history's frozen quantizer, then
    *    [[graft.operators.Similarity.semanticIncrementalDelta]] vs the
    *    persisted IVF history `_ei`.
    *
    * Optional text legs (all default-off, all pure per-row or
    * broadcast-join work — the loop's shuffle/exactly-once shape is
    * unchanged; [[TextGates]] holds the rest):
    *  - `urlDedupCol = Some(url)` runs canonical-URL keep-first dedup
    *    ([[graft.operators.UrlOps.urlDedup]]) as the VERY FIRST leg,
    *    before any content cleaning — the RefinedWeb/CCNet order: a
    *    URL-duplicate row is shed before its content costs anything
    *    (NULL-url rows pass through; NULL-html rows never enter the
    *    text leg, so a body-less row cannot shadow its URL twin);
    *  - `extractBoilerplate` inserts the jusText block classifier
    *    ([[graft.functions.TextFunctions.extractContent]]) BEFORE
    *    strip/normalize, so nav/footer/menu text never reaches the
    *    quality gate or the histories;
    *  - `paragraphDedup` inserts the CCNet/Dolma paragraph legs right
    *    after clean and BEFORE quality scoring: within-batch
    *    keep-first ([[graft.operators.Dedup.paragraphDedup]]) then the
    *    persisted `_pg` history probe
    *    ([[graft.operators.Dedup.paragraphIncrementalDelta]]);
    *  - `qualityModel = Some((model, minPMicro))` gates on the TRAINED
    *    quality classifier ([[graft.operators.QualityClassifier]], the
    *    GPT-3/DCLM recipe) right after the heuristic quality gate;
    *  - `lmGate = Some((lm, minAvgLogp))` scores the cleaned text
    *    against a char-bigram LM trained ONCE on a clean reference
    *    corpus ([[graft.operators.NgramLm.trainCharBigram]] — the
    *    CCNet recipe) and drops docs whose mean log-prob falls below
    *    the floor; `lmBuckets` routes on frozen perplexity buckets;
    *  - `decontaminate = Some((evalGramTable, n))` drops docs sharing
    *    any token n-gram with a frozen eval set
    *    ([[graft.operators.Decontaminate]]); `decontaminateMm` does the
    *    same for eval payload identities and embeddings.
    *
    * Delivery contract ([[commitOnce]]) — every leg exactly-once: the
    * survivor frames merge by id into ONE survivor write to
    * `outDir/batch-<id>/`, the history deltas each overwrite their own
    * batch-<id> directory, and a partially-replayed batch recomputes
    * the IDENTICAL survivor set because every history probe excludes
    * same-id matches (a doc meeting its own crashed append is a replay
    * artifact, not a duplicate); a batch replayed after a compaction
    * folded its crashed append is skipped by the fold manifest
    * ([[graft.operators.Layout.foldManifestDirOf]]) rather than
    * re-appended. The deltas of the legs that ran append in one fixed
    * crash-prefix order — band, `_pg`, image, audio, video, `_ei`,
    * hash: the exact-hash history is LAST, so a crashed prefix never
    * leaves it ahead of the band history. Fold them with
    * [[maintainMixedHistories]] on whatever cadence bounds their size.
    *
    * Scale shape: the front half is narrow projections; the text legs
    * broadcast batch hashes only and the band probe is the
    * zero-exchange bucketed join; payloads are resident once and never
    * shuffled; embeddings broadcast into a bucket-pruned probe; all
    * history sides are zero-exchange; the merged write is a
    * full-outer join of batch-sized frames on id. Nothing in the loop
    * reads or rewrites the accumulated corpus. */
  def mixedIntakeBatch(batch: DataFrame, batchId: Long, historyTable: String,
      numBuckets: Int, htmlCol: String, payloadCol: String, idCol: String,
      outDir: String, minQuality: Double = 0.75, threshold: Double = 0.8,
      extractBoilerplate: Boolean = false,
      lmGate: Option[(graft.operators.NgramLm.CharLm, Double)] = None,
      embCol: Option[String] = None, embTau: Double = 0.95,
      decontaminate: Option[(String, Int)] = None,
      paragraphDedup: Boolean = false,
      lmBuckets: Option[(graft.operators.NgramLm.CharLm,
        graft.operators.NgramLm.PplThresholds, Set[String])] = None,
      decontaminateMm: Option[String] = None,
      urlDedupCol: Option[String] = None,
      qualityModel: Option[(graft.operators.QualityClassifier.LrModel,
        Long)] = None,
      gates: TextGates = TextGates()): Boolean = {
    import graft.operators.{Dedup, Similarity}
    val spark = batch.sparkSession
    val present = batch.columns.toSet
    commitOnce(spark, outDir, batchId) { _ =>
      // URL dedup is a TEXT-leg concern (the crawl-row granularity): the
      // url column rides into the text frame so the leg can run first;
      // payload/embedding legs key on content identity, not provenance
      val textOut = Option.when(present(htmlCol))(textSurvivorFrame(
        batch.where(col(htmlCol).isNotNull)
          .select((col(idCol) +: col(htmlCol) +: urlDedupCol.toSeq.map(col)): _*),
        historyTable, numBuckets, htmlCol, idCol, minQuality, threshold,
        extractBoilerplate, lmGate, decontaminate, paragraphDedup, lmBuckets,
        urlDedupCol, qualityModel, gates))
      val payOut = Option.when(present(payloadCol))(multimodalSurvivorFrame(
        batch.where(col(payloadCol).isNotNull).select(col(idCol), col(payloadCol)),
        historyTable, numBuckets, payloadCol, idCol, decontaminateMm))
      // optional EMBEDDING leg (SemDeDup at intake, the l29b machinery):
      // within-batch cluster resolution under the history's frozen
      // quantizer, then the incremental probe vs the persisted IVF
      // history (main ∪ delta). The quantizer seeds from the FIRST
      // batch's vectors (ensureSemanticHistory) — deterministic on
      // replay because foreachBatch redelivers identical content.
      val embOut = embCol.map { e =>
        val t = s"${historyTable}_ei"
        val embRows0 = batch.where(col(e).isNotNull).select(col(idCol), col(e))
        // eval-embedding decontamination BEFORE the dedup legs (and
        // before seeding: a contaminated first batch must not train the
        // quantizer on leaked vectors, nor append them to the history)
        val embRows = decontaminateMm
          .filter(dt => spark.catalog.tableExists(s"${dt}_ei"))
          .fold(embRows0) { dt =>
            Similarity.semanticIncrementalDelta(spark, embRows0, s"${dt}_ei",
              embTau, idCol = idCol, vecCol = e, cId = idCol, cVec = e)
          }
        // a vector-free stream prefix defers seeding (the index must
        // not train on zero vectors): nothing to dedup against yet
        if (!Similarity.ensureSemanticHistory(spark, embRows, historyTable,
            numBuckets = numBuckets, cId = idCol, cVec = e)) embRows.limit(0)
        else {
          val within = Similarity.semanticDupClustersIndexed(spark, embRows, t,
              embTau, idCol = idCol, vecCol = e)
            .where(col(idCol) === col("cluster")).select(col(idCol))
            .join(embRows, Seq(idCol))
          Similarity.semanticIncrementalDelta(spark, within, t, embTau,
            idCol = idCol, vecCol = e, cId = idCol, cVec = e)
        }
      }
      // merge by id: (id, text, quality, payload[, emb]) — absent legs
      // NULL; a row carrying several content families keeps whatever
      // survived each leg independently
      val legs = textOut.toSeq ++ payOut.map(_._1) ++ embOut
      require(legs.nonEmpty, s"intake batch carries none of the content " +
        s"columns $htmlCol, $payloadCol${embCol.fold("")(", " + _)}")
      val survivors = writeSurvivors(
        legs.reduce(_.join(_, Seq(idCol), "full_outer")), outDir, batchId)
      val textSurv = textOut.map(_ => survivors.where(col("text").isNotNull))
      textSurv.foreach { s =>
        Dedup.appendBandHistoryDelta(spark, s, "text", idCol, historyTable, batchId)
        if (paragraphDedup)
          // assumeCanonical: survivors went through paragraphDedup + the
          // history probe, so each hash appears in exactly one doc — the
          // canonicalization groupBy would add a shuffle per micro-batch
          // and collapse nothing (ADVICE r15)
          Dedup.appendParagraphHistoryDelta(spark, s, "text", idCol,
            historyTable, batchId, assumeCanonical = true)
      }
      // modality deltas project from the materialized survivor identity
      // frame (payload-leg survivors == payload-not-null merged rows by
      // construction of the full-outer merge) — zero re-reads and zero
      // re-decodes of the written payloads. The identities are
      // deterministic functions of the payload bytes, so a replay still
      // overwrites each delta dir with identical content.
      payOut.foreach { case (_, ident) =>
        Dedup.appendImageHistoryDelta(spark, ident, idCol, historyTable, batchId)
        Dedup.appendAudioHistoryDelta(spark, ident, idCol, historyTable, batchId)
        Dedup.appendVideoHistoryDelta(spark, ident, idCol, historyTable, batchId)
      }
      embCol.foreach { e =>
        // the seeding guard above may have deferred index creation (a
        // vector-free stream prefix) — nothing to append and no centroid
        // table to assign against until the first vector batch seeds it
        if (spark.catalog.tableExists(s"${historyTable}_ei"))
          Similarity.appendToIvfDelta(spark,
            survivors.where(col(e).isNotNull).select(col(idCol), col(e)),
            s"${historyTable}_ei", batchId, cId = idCol, cVec = e)
      }
      textSurv.foreach(Dedup.appendHashHistoryDelta(spark, _, "text", idCol,
        historyTable, batchId))
    }
  }

  /** Drop all histories of a mixed intake (text pair, the paragraph
    * table when the paragraph leg created one, three modalities, and
    * the embedding-leg IVF index if one was created). */
  def dropMixedHistory(spark: SparkSession,
      table: String): Unit = {
    import graft.operators.Dedup
    (Dedup.IntakeHistory ++ Dedup.ParagraphHistory ++ Dedup.MultimodalHistory)
      .drop(spark, table)
    graft.operators.Similarity.dropIvfIndex(spark, s"${table}_ei")
  }

  /** ONE maintenance call for a mixed intake's histories — the
    * byte-ratio auto-fold ([[graft.operators.Dedup.History
    * .foldIfNeeded]]'s measured-trigger policy) across every
    * family the loop maintains: text (band + `_sh` + `_xh`), the
    * paragraph `_pg` table when the paragraph leg created one, image
    * `_ph`, audio `_ab`, video `_vb`/`_vn`, and the embedding `_ei`
    * index when the [[mixedIntakeBatch]] embedding leg created one.
    * Each check is filesystem metadata only (no jobs), so this is safe
    * to call between every micro-batch; folds run only where the
    * accumulated delta has earned one. Returns the families folded —
    * log it, alert on it, or feed a fold-cadence dashboard.
    *
    * Embedding drift is deliberately NOT handled here: a recluster
    * rewrites the whole index ([[graft.operators.Similarity
    * .reclusterIfDrifted]]), which belongs on a maintenance cadence an
    * operator chooses, not inside the ingest loop's hot path. */
  def maintainMixedHistories(spark: SparkSession,
      table: String, maxDeltaRatio: Double = 0.10): Seq[String] = {
    import graft.operators.{Dedup, Layout, Similarity}
    val families = Seq("text" -> Dedup.IntakeHistory,
      "paragraph" -> Dedup.ParagraphHistory, "image" -> Dedup.ImageHistory,
      "audio" -> Dedup.AudioHistory, "video" -> Dedup.VideoHistory)
    val ei = s"${table}_ei"
    families.collect {
      case (name, h) if h.foldIfNeeded(spark, table, maxDeltaRatio) => name
    } ++ Option.when(Layout.foldIfDue(spark, Seq(ei), maxDeltaRatio)(
      Similarity.compactIvfDelta(spark, ei)))("embedding")
  }

  /** Read the current CDC state (empty frame with `schema` if none). */
  def readState(spark: SparkSession, stateDir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    // NOTE: the returned frame is LAZY over a snapshot directory that
    // applyBatch's GC retains only while it is the current or previous
    // snapshot — materialize (collect/write) promptly; holding the frame
    // across 2+ further micro-batches can hit a deleted snapshot.
    snapshot(spark, stateDir, committed(spark, stateDir), schema)
}
