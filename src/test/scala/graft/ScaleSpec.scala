package graft

import graft.operators.{Dedup, Graph, Joins, Sampling, Similarity}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Empirical scale-stress for the LLM-pipeline family (the 100 TB
  * claims, measured instead of argued): a deliberately SKEWED corpus
  * ~12× the bench SF's documents table — a hot language carrying 60%
  * of rows, a 10k-copy boilerplate cluster, ~1.5% NULL texts and 1%
  * zero-norm vectors — driven through dedup / LSH / mixing / CC / ANN
  * while a SparkListener records per-task record counts for every
  * stage. The contract: no stage may concentrate more than `RATIO`×
  * the median task's records into one task.
  *
  * Record counts, not wall time: task records are a pure function of
  * the data and the plan, so the probe is deterministic on a noisy
  * shared box, while still being the quantity that BECOMES wall time
  * at 100 TB (a task reading 10× the median's records is the
  * straggler, whatever the neighbors are doing). Durations are
  * recorded and printed for context, not asserted.
  *
  * AQE partition coalescing is disabled inside this suite (and shuffle
  * parallelism raised to 16): at test scale every partition is far
  * below the 64 MB advisory size, so AQE folds them into one task and
  * the probe would measure nothing — at 100 TB none of these stages
  * would coalesce. Skew-join splitting (the part of AQE that matters
  * for the contract) stays on.
  *
  * A probe that can't fail proves nothing, so a deliberately-unsharded
  * control (plain tokenBudget over the hot language) asserts the
  * listener DETECTS the one-partition straggler it exists to catch.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  // default 12× the sf0.1 documents table — big enough that every stage
  // the contract checks clears FLOOR, small enough for every `sbt test`.
  // The 50× evidence recorded in BASELINE.md is [[ScaleSpec50x]] (one
  // command, no env vars):  sbt "testOnly *ScaleSpec* -- -n Scale50x"
  protected def scaleN: Int = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "60000").toInt
  protected def scaleM: Int = sys.env.getOrElse("SPARK_GRAFT_SCALE_M", "50000").toInt
  /** Tags stamped on every test — [[ScaleSpec50x]] adds Scale50x so the
    * `-n` filter selects exactly the heavy variant. */
  protected def suiteTags: Seq[org.scalatest.Tag] = Nil
  private lazy val N = scaleN
  private lazy val M = scaleM
  private val DIM = 32
  private val RATIO = 3.5
  private val FLOOR = 5000L  // ignore stages whose max task reads fewer records

  // ---- skewed corpus ------------------------------------------------
  // text: 30 words hash-drawn from an 800-word vocab (real shingle
  // structure for MinHash); lang: "en" on 60% of rows, a 37-language
  // tail on the rest; ids ≥ N-10000: byte-identical boilerplate (the
  // mass-duplicate shape); id % 64 == 0: NULL text (~1.5%).
  private lazy val docs: DataFrame = {
    val vocab = array((0 until 800).map(i => lit(s"w$i")): _*)
    val words = concat_ws(" ", transform(sequence(lit(0), lit(29)),
      j => element_at(vocab, pmod(hash(col("doc_id"), j), lit(800)).cast("int") + 1)))
    val df = spark.range(N).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(10)) < 6, lit("en"))
        .otherwise(concat(lit("l"), pmod(col("id"), lit(37)))).as("lang"),
      (pmod(col("id"), lit(40)) + 1).cast("long").as("n_tok"))
      .withColumn("text",
        when(pmod(col("doc_id"), lit(64)) === 0, lit(null).cast("string"))
          .when(col("doc_id") >= N - 10000,
            lit("click here to unsubscribe from this mailing list today"))
          .otherwise(words))
      .persist()
    df.count() // materialize once; every case reads the same cache
    df
  }

  // embeddings: 32-dim hash-derived vectors; id % 100 == 0 is a
  // zero-norm vector (the NaN-scoring poison the guards must exclude)
  private lazy val emb: DataFrame = {
    val vec = transform(sequence(lit(0), lit(DIM - 1)),
      j => when(pmod(col("vec_id"), lit(100)) === 0, lit(0.0f))
        .otherwise(((pmod(hash(col("vec_id"), j), lit(2001)) - 1000) / 1000.0).cast("float")))
    val df = spark.range(M).select(col("id").as("vec_id"))
      .withColumn("embedding", vec).persist()
    df.count()
    df
  }

  // ---- per-task probe -----------------------------------------------
  private class TaskSkewListener extends SparkListener {
    // stageId -> (records, durationMs) per successful task
    val byStage = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      if (t.taskInfo != null && t.taskInfo.successful && t.taskMetrics != null) {
        // read side (input + shuffle read) OR write side (shuffle write),
        // whichever is larger: map stages over generated/range sources
        // report no input records, but their shuffle WRITE records still
        // expose pre-exchange skew — without the max the probe is blind
        // to map-side imbalance on synthetic sources
        val recs = math.max(
          t.taskMetrics.inputMetrics.recordsRead +
            t.taskMetrics.shuffleReadMetrics.recordsRead,
          t.taskMetrics.shuffleWriteMetrics.recordsWritten)
        byStage.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) +=
          ((recs, t.taskInfo.duration))
      }
    }
    def taskCount: Int = synchronized(byStage.valuesIterator.map(_.size).sum)
    def snapshot: Map[Int, Seq[(Long, Long)]] =
      synchronized(byStage.view.mapValues(_.toSeq).toMap)
  }

  /** Run `body` with a fresh listener; wait for the async listener bus
    * to drain (task count stable) before returning the per-stage data. */
  private def probe(body: => Unit): Map[Int, Seq[(Long, Long)]] = {
    val l = new TaskSkewListener
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = -1; var stable = 0
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        val n = l.taskCount
        if (n == last) stable += 1 else { stable = 0; last = n }
        Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(l)
    l.snapshot
  }

  private def stageStats(stages: Map[Int, Seq[(Long, Long)]]): Seq[(Int, Int, Long, Long, Long)] =
    stages.toSeq.sortBy(_._1).map { case (sid, tasks) =>
      val recs = tasks.map(_._1).sorted
      (sid, tasks.size, recs.last, recs(recs.size / 2), tasks.map(_._2).max)
    }

  /** The balance contract: across stages with ≥4 tasks and a max task
    * above FLOOR records, max ≤ RATIO × median. */
  private def assertBalanced(op: String, stages: Map[Int, Seq[(Long, Long)]],
      ratio: Double = RATIO): Unit = {
    val rows = stageStats(stages)
    info(s"$op: " + rows.map { case (sid, n, mx, md, ms) =>
      s"stage $sid n=$n max=$mx med=$md ${ms}ms" }.mkString("; "))
    val offenders = rows.collect {
      case (sid, n, mx, md, _) if n >= 4 && mx >= FLOOR && mx.toDouble / math.max(md, 1) > ratio =>
        s"$op stage $sid: max task $mx records vs median $md across $n tasks " +
          f"(${mx.toDouble / math.max(md, 1)}%.1f× > $ratio×)"
    }
    assert(offenders.isEmpty, "straggler stages:\n" + offenders.mkString("\n"))
  }

  private def withScaleConf(body: => Unit): Unit = {
    val keys = Seq(
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val old = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  // ---- the cases ----------------------------------------------------

  test("scale: exact dedup with 1.5% NULL texts and a 10k-copy cluster stays balanced", suiteTags: _*) {
    withScaleConf {
      // expected survivors, derived from the data: one row per distinct
      // non-NULL text (the 10k-copy cluster collapses to 1) + every NULL
      val expected = docs.where($"text".isNotNull).select($"text").distinct().count() +
        docs.where($"text".isNull).count()
      var n = 0L
      val stages = probe { n = Dedup.exact(docs, "text", "doc_id").count() }
      assert(n === expected)
      assertBalanced("exact-dedup", stages)
    }
  }

  test("scale: paragraph dedup — a 50%-shared paragraph and a 10k-identical body both collapse to one carrier, stays balanced", suiteTags: _*) {
    withScaleConf {
      // every even doc carries the SAME boilerplate paragraph ahead of
      // its body — the doc-level legs cannot see it (whole-doc hashes
      // all differ), and at 100 TB this is the hot-hash shape: the
      // canonical-occurrence aggregation must partial-agg (never a
      // window), which is exactly what the balance contract probes
      val paraDocs = docs.select($"doc_id",
        when($"text".isNull, lit(null).cast("string"))
          .when(pmod($"doc_id", lit(2)) === 0,
            concat(lit("shared boilerplate paragraph for the scale probe\n"), $"text"))
          .otherwise($"text").as("text")).persist()
      paraDocs.count()
      // hotOccurrences scaled to the harness (production default 65536
      // assumes real cluster memory): both the 50%-shared paragraph
      // (~N/2 occurrences) and the 10k boilerplate cluster cross 4096,
      // so their canonical rows take the broadcast leg and the cold
      // shuffle join has no key above the threshold at either 12x or
      // 50x — the operator's lossless hot-key isolation, probed here
      var out: DataFrame = null
      val stages = probe {
        out = Dedup.paragraphDedup(paraDocs, "text", "doc_id",
          hotOccurrences = 4096).persist()
        out.count(): Unit
      }
      // the 50%-shared paragraph survives on exactly one doc…
      assert(out.where($"text".contains("shared boilerplate paragraph")).count() === 1L)
      // …and the 10k-copy BODY cluster collapses to one carrier too
      // (paragraph dedup subsumes the doc-level exact collapse)
      assert(out.where($"text".contains("click here to unsubscribe")).count() === 1L)
      // NULL rows all pass through
      assert(out.where($"text".isNull).count() ===
        paraDocs.where($"text".isNull).count())
      assertBalanced("paragraph-dedup", stages)
      out.unpersist(); paraDocs.unpersist(): Unit
    }
  }

  test("scale: repeated-span dedup — a 50%-shared mid-doc span cuts to one carrier, short docs skip anchoring, stays balanced", suiteTags: _*) {
    withScaleConf {
      // half the corpus embeds the SAME 15-token span mid-document —
      // at k=12 that is 4 shared grams per carrier, the mass-duplicated
      // gram shape whose canonical resolution must partial-agg (the
      // paragraph rationale); the 10k-copy boilerplate docs are 9
      // tokens (below k) and must skip anchoring entirely
      val span = (0 until 15).map(j => s"sp$j").mkString(" ")
      val spanDocs = docs.select($"doc_id",
        when($"text".isNull, lit(null).cast("string"))
          .when(pmod($"doc_id", lit(2)) === 0,
            concat(substring($"text", 1, 90), lit(s" $span "),
              substring($"text", 91, 10000)))
          .otherwise($"text").as("text")).persist()
      spanDocs.count()
      var out: DataFrame = null
      val stages = probe {
        out = Dedup.repeatedSpanDedup(spanDocs, "text", "doc_id", k = 12,
          hotOccurrences = 4096).persist()
        out.count(): Unit
      }
      // the span survives on very few docs: its canonical carrier plus
      // any doc whose cut windows merely overlap differently — with
      // identical span content the cut is exact, so expect exactly one
      assert(out.where($"text".contains("sp0 sp1 sp2")).count() === 1L,
        "shared span must survive on exactly one carrier")
      // ODD boilerplate docs (9 tokens < k) skip anchoring and pass
      // byte-identical (~N/12 of them; the even half carries the span,
      // making those 24-token texts identical to each other — they cut
      // to one carrier like any mass-duplicate)
      assert(out.where($"text" === lit(
        "click here to unsubscribe from this mailing list today")).count() >= 4000L)
      assert(out.where($"text".isNull).count() ===
        spanDocs.where($"text".isNull).count())
      assertBalanced("span-dedup", stages)
      out.unpersist(); spanDocs.unpersist(): Unit
    }
  }

  test("scale: capped MinHash LSH sidelines the boilerplate cluster, keeps planted recall, stays balanced", suiteTags: _*) {
    withScaleConf {
      // plant near-dups in NORMAL content: copies of docs 1..799 (odd ids
      // dodge the NULL stripe) with a one-token suffix → jaccard ≈ 0.966
      val planted = docs.where($"doc_id" % 64 =!= 0 && $"doc_id" < 800 && $"doc_id" % 2 === 1)
        .select(($"doc_id" + 1000000).as("doc_id"), $"lang", $"n_tok",
          concat($"text", lit(" zz")).as("text"))
      val aug = docs.unionByName(planted)
      var cands: Set[(Long, Long)] = Set.empty
      val stages = probe {
        cands = Dedup.minhashCandidates(aug, "text", "doc_id", maxBucket = 128)
          .where($"jaccard" >= 0.8)
          .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      }
      val expected = planted.select(($"doc_id" - 1000000).as("a"), $"doc_id".as("b"))
        .as[(Long, Long)].collect().toSet
      val missed = expected.diff(cands)
      // 16 hashes / 4 bands at jaccard ≈ 0.966: per-pair miss probability
      // ~3e-4 — demand ≥ 99% recall over the 400 planted pairs (the
      // UNCAPPED total-recall guarantee is l02d's oracle; this is the
      // production-capped path at 12× scale)
      assert(missed.size <= expected.size / 100,
        s"capped LSH missed ${missed.size}/${expected.size} planted pairs")
      // the 10k-copy cluster must NOT flood the pair stage: every band
      // bucket it fills is over the cap, so no boilerplate×boilerplate
      // pair survives (exact dedup is the right tool for those)
      assert(!cands.exists(p => p._1 >= N - 10000 && p._1 < N && p._2 >= N - 10000 && p._2 < N),
        "boilerplate cluster produced quadratic candidate pairs")
      assertBalanced("minhash-lsh", stages)
    }
  }

  test("scale: SimHash banded candidates on the same corpus stay balanced", suiteTags: _*) {
    withScaleConf {
      val stages = probe {
        Dedup.simhashCandidates(docs, "text", "doc_id", maxDist = 3, maxBucket = 1024)
          .count()
      }
      assertBalanced("simhash", stages)
    }
  }

  test("scale: image dHash banding — capped buckets sideline a 10k-identical flood, cross-codec copies still pair, stays balanced", suiteTags: _*) {
    withScaleConf {
      import graft.operators.Multimodal
      // images: splitmix-mixed 16x16 rasters (the oracle rows' ramp
      // fixture collapses to ~170 hash classes — degenerate for a
      // BALANCE contract; real image corpora hash ~uniformly, and the
      // mass-duplicate shape is planted explicitly instead: the last
      // 10k rows all share ONE seed — the same logo crawled 10k times)
      def mixedRgb(seed: Long): Array[Byte] = {
        val out = new Array[Byte](16 * 16 * 3)
        var x = seed * 0x9E3779B97F4A7C15L
        var j = 0
        while (j < out.length) {
          x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 29
          out(j) = (x & 0xff).toByte
          j += 1
        }
        out
      }
      val ppmHeader = "P6\n16 16\n255\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      def imagesOf(df: DataFrame, asPng: Boolean): DataFrame = {
        val schema = df.schema
          .add(org.apache.spark.sql.types.StructField("payload",
            org.apache.spark.sql.types.BinaryType))
        val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
        val seedIdx = df.schema.fieldIndex("img_seed")
        df.mapPartitions { rows =>
          rows.map { r =>
            val rgb = mixedRgb(r.getLong(seedIdx))
            val payload =
              if (asPng) Multimodal.encodePng(16, 16, rgb)
              else ppmHeader ++ rgb
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ payload)
          }
        }(enc)
      }
      val seeds = docs.select($"doc_id",
        when($"doc_id" >= N - 10000, lit(42L)).otherwise($"doc_id").as("img_seed"))
      val originals = imagesOf(seeds, asPng = false).select($"doc_id", $"payload")
      // planted cross-codec copies: the SAME raster re-encoded as PNG
      // under fresh ids
      val plantedSrc = docs.where($"doc_id" < 800 && $"doc_id" % 2 === 1)
      val copies = imagesOf(plantedSrc
          .select(($"doc_id" + 1000000).as("doc_id"), $"doc_id".as("img_seed")),
          asPng = true)
        .select($"doc_id", $"payload")
      val planted = plantedSrc
        .select($"doc_id".as("id_a"), ($"doc_id" + 1000000).as("id_b"))
      var missed = -1L; var floodPairs = -1L; var nPlanted = 0L
      val stages = probe {
        val sigs = Multimodal.imageDHash(
            originals.unionByName(copies), "payload", "dhash")
          .where($"dhash".isNotNull).select($"doc_id", $"dhash")
        val cands = Dedup.simhashCandidatesOfSigs(sigs, "doc_id", "dhash",
          maxDist = 3, nBands = 4, bits = 64, maxBucket = 1024)
        missed = planted.join(
          cands.where($"hamming_dist" === 0).select($"id_a", $"id_b"),
          Seq("id_a", "id_b"), "left_anti").count()
        floodPairs = cands.where($"id_a" >= N - 10000 && $"id_a" < N &&
          $"id_b" >= N - 10000 && $"id_b" < N).count()
        nPlanted = planted.count()
      }
      assert(nPlanted > 300, s"fixture degenerated: only $nPlanted planted pairs")
      assert(missed === 0, s"capped image banding missed $missed/$nPlanted cross-codec copies")
      // every band bucket the flood fills is over the cap: no
      // flood x flood quadratic pair may survive (exact/hash dedup is
      // the right tool for byte-identical mass duplicates)
      assert(floodPairs === 0, s"flood produced $floodPairs quadratic pairs")
      assertBalanced("image-dhash", stages)
    }
  }

  test("scale: probe sensitivity control — UNSHARDED token budget on the hot language IS a straggler", suiteTags: _*) {
    withScaleConf {
      // one window partition per language ⇒ "en" (60% of the corpus) is
      // one task. The probe MUST see it, or every green above is vacuous.
      val stages = probe {
        Sampling.tokenBudget(docs, "doc_id", "n_tok", "lang", budget = 1000000L).count()
      }
      val detected = stageStats(stages).exists { case (_, n, mx, md, _) =>
        n >= 4 && mx >= FLOOR && mx.toDouble / math.max(md, 1) > RATIO
      }
      assert(detected, "probe failed to detect the planted hot-language straggler — " +
        "the balance contract would be meaningless:\n" + stageStats(stages).mkString("\n"))
    }
  }

  test("scale: SHARDED token budget flattens the hot language the control just exposed", suiteTags: _*) {
    withScaleConf {
      // budget is PER GROUP (a mixing recipe caps each language)
      var perGroup: Array[(String, Long)] = null
      val stages = probe {
        perGroup = Sampling.tokenBudgetSharded(docs, "doc_id", "n_tok", "lang",
          budget = 200000L, nShards = 16)
          .groupBy($"lang").agg(sum($"n_tok").as("kept"))
          .as[(String, Long)].collect()
      }
      assert(perGroup.nonEmpty && perGroup.forall(_._2 <= 200000L),
        s"a group exceeded its budget: ${perGroup.filter(_._2 > 200000L).mkString(",")}")
      // the hot language actually hits its cap (~738k tokens available)
      assert(perGroup.find(_._1 == "en").exists(_._2 > 150000L))
      assertBalanced("token-budget-sharded", stages)
    }
  }

  test("scale: corpus mixture with a 60%-weight hot source interleaves without concentrating a task", suiteTags: _*) {
    withScaleConf {
      // the l18 oracle pins the recipe semantics; this pins the SCALE
      // shape — a hot source (60% weight, upsampled past 2 epochs) must
      // not concentrate the mix: the per-source legs are narrow
      // projections + explode (no exchange of their own), and the one
      // real shuffle is the training-order interleave (range exchange on
      // the portable key), which is where a skewed mix would funnel
      val cols = Seq($"doc_id", $"lang", $"n_tok", $"text")
      val hot = docs.where($"lang" === "en").select(cols: _*)
      val mid = docs.where($"lang" =!= "en" && $"doc_id" % 2 === 0).select(cols: _*)
      val low = docs.where($"lang" =!= "en" && $"doc_id" % 2 === 1).select(cols: _*)
      // scale the recipe with the corpus (2.5 rows of mix per corpus
      // row — 150k at 12×): a FIXED total would stop exercising
      // upsampling once the corpus outgrows it (at 50× a 150k recipe
      // needs no hot epochs at all and the >2-epoch assertion below
      // would be vacuously false)
      val total = N * 5L / 2
      val mix = Sampling.mixCorpora(
        Seq((hot, 60L, "hot"), (mid, 30L, "mid"), (low, 10L, "low")),
        "doc_id", totalRows = total)
        // training order: interleave on the portable key of the mix id
        // (doc_id × maxEpochs + epoch — distinct per emitted copy), the
        // composition the mixCorpora scaladoc prescribes
        .withColumn("mix_id", $"doc_id" * 8 + $"epoch")
      val dir = tmpDir("scale_mix")
      val stages = probe {
        // write in shuffle order: an aggregate consumer would let
        // EliminateSorts drop the range exchange and the probe would
        // measure nothing but the narrow legs
        Sampling.deterministicShuffle(mix, "mix_id").write
          .mode("overwrite").parquet(dir)
      }
      assertBalanced("corpus-mix-interleave", stages)
      // the recipe held at scale: per-source counts within ring-cut
      // granularity of the integer-weight targets, hot source genuinely
      // upsampled (> 2 epochs present)
      val out = spark.read.parquet(dir)
      val bySource = out.groupBy($"source").count()
        .as[(String, Long)].collect().toMap
      for ((name, w) <- Seq(("hot", 60L), ("mid", 30L), ("low", 10L))) {
        val target = total * w / 100
        val got = bySource.getOrElse(name, 0L)
        assert(math.abs(got - target) <= target / 50,
          s"source $name: $got rows vs target $target (>2% off)")
      }
      assert(out.where($"source" === "hot").agg(max($"epoch")).as[Long].head() >= 2,
        "hot source was not upsampled past 2 epochs")
    }
  }

  test("scale: sequence packing shards the layout windows (no single-partition cumsum)", suiteTags: _*) {
    withScaleConf {
      import graft.operators.Packing
      var total = 0L; var seqs = 0L
      val stages = probe {
        // aggregate a WINDOW-DERIVED column too, or Catalyst prunes the
        // whole layout window away and the probe measures a bare scan
        val r = Packing.packSequences(docs.where($"text".isNotNull),
            "doc_id", "n_tok", seqLen = 512, shards = 64)
          .agg(sum($"n_tok"), countDistinct($"shard", $"seq_in_shard"))
          .as[(Long, Long)].head()
        total = r._1; seqs = r._2
      }
      // conservation: every surviving doc's tokens are laid out
      assert(total === docs.where($"text".isNotNull)
        .agg(sum($"n_tok")).as[Long].head())
      assert(seqs >= total / 512, s"too few packed sequences: $seqs")
      assertBalanced("pack-sequences", stages)
    }
  }

  test("scale: BIN packing (Krell) — no doc splits on the skewed corpus, capacity exact, fill efficient, stays balanced", suiteTags: _*) {
    withScaleConf {
      import graft.operators.Packing
      var total = 0L; var docsN = 0L; var bins = 0L; var overCap = 0L
      var padded = 0L
      val stages = probe {
        val packed = Packing.packBins(docs.where($"text".isNotNull),
          "doc_id", "n_tok", seqLen = 512, shards = 64)
        val st = Packing.binStats(packed, 512)
        val r = st.agg(sum($"n_tokens"), sum($"n_docs"),
            count(lit(1)), sum(when($"n_tokens" > 512, 1L).otherwise(0L)),
            sum($"n_padding"))
          .as[(Long, Long, Long, Long, Long)].head()
        total = r._1; docsN = r._2; bins = r._3; overCap = r._4; padded = r._5
      }
      // conservation (n_tok ≤ 40 ≪ 512, so the cap never truncates
      // here) and the no-splitting capacity contract
      assert(total === docs.where($"text".isNotNull)
        .agg(sum($"n_tok")).as[Long].head())
      assert(docsN === docs.where($"text".isNotNull).count())
      assert(overCap === 0L, "a bin exceeded seqLen — a doc was split or misplaced")
      // fill efficiency: next-fit-decreasing on ≤40-token docs leaves
      // at most one straggler gap per bin — padding stays a small
      // fraction of the laid-out tokens (the number the paper buys)
      assert(padded.toDouble / (total + padded) <= 0.10,
        s"padding fraction ${padded.toDouble / (total + padded)} too high across $bins bins")
      assertBalanced("pack-bins", stages)
    }
  }

  test("scale: connected components over a 10k-spoke star plus chains stays balanced per round", suiteTags: _*) {
    withScaleConf {
      // the mass-duplicate cluster shape: one 10k-spoke star (hub 0),
      // 5k chain links, 20k hash-random edges
      val star = spark.range(1, 10001).select(lit(0L).as("a"), $"id".as("b"))
      val chains = spark.range(20000, 25000).select($"id".as("a"), ($"id" + 1).as("b"))
      val random = spark.range(20000).select(
        pmod(hash($"id"), lit(30000)).cast("long").as("a"),
        pmod(hash($"id", lit(1)), lit(30000)).cast("long").as("b"))
      val edges = star.unionByName(chains).unionByName(random)
      var comps: DataFrame = null
      val stages = probe {
        comps = Graph.connectedComponents(edges, "a", "b")
        // hub component: all 10k spokes resolve to 0
        assert(comps.where($"component" === 0).count() >= 10001)
      }
      assertBalanced("connected-components", stages)
    }
  }

  test("scale: bucketed as-of flattens a hot key the per-key as-of funnels into one task", suiteTags: _*) {
    withScaleConf {
      // ONE key carries 60% of both sides (the bot-user/default-tenant
      // shape). Per-key as-of = one sorted task for that key; the
      // bucketed two-pass must spread it across (key, bucket) windows.
      import org.apache.spark.sql.functions.timestamp_micros
      val hot = when(pmod($"id", lit(10)) < 6, 0L).otherwise(pmod($"id", lit(997)) + 1L)
      val left = spark.range(40000).select(hot.as("k"),
        timestamp_micros($"id" * 1000000L).as("ts"), $"id".as("lid")).persist()
      val right = spark.range(20000).select(hot.as("k"),
        timestamp_micros($"id" * 2000000L + 1L).as("ts"), ($"id" * 1.0).as("p")).persist()
      left.count(); right.count()
      // aggregate the MATCHED payload — a bare count() lets Catalyst
      // prune the whole window pipeline and the probe measures nothing
      def evalJoin(df: org.apache.spark.sql.DataFrame): (Long, Option[Double]) = {
        val r = df.agg(count(lit(1)), sum($"p")).collect().head
        (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]))
      }
      var res: (Long, Option[Double]) = null
      val stages = probe {
        res = evalJoin(Joins.asofJoinBucketed(left, right, "k", "ts", "ts", Seq("p"),
          bucketSeconds = 600L))
      }
      assert(res._1 === 40000L) // left-preserving
      assertBalanced("asof-bucketed", stages)
      // and the plain per-key form on the same data IS the straggler
      // (sensitivity control, like the token-budget pair) — and both
      // variants agree on the matched-payload aggregate
      var plainRes: (Long, Option[Double]) = null
      val plain = probe {
        plainRes = evalJoin(Joins.asofJoin(left, right, "k", "ts", "ts", Seq("p")))
      }
      assert(plainRes === res, "bucketed and per-key as-of diverged at scale")
      val detected = stageStats(plain).exists { case (_, nt, mx, md, _) =>
        nt >= 4 && mx >= FLOOR && mx.toDouble / math.max(md, 1) > RATIO
      }
      assert(detected, "probe failed to detect the hot-key as-of straggler:\n" +
        stageStats(plain).mkString("\n"))
      left.unpersist(); right.unpersist()
    }
  }

  test("scale: AQE skew-join split flattens a hot fact-fact join key (control: split disabled IS the straggler)", suiteTags: _*) {
    withScaleConf {
      // ONE key carries 60% of the fact side — the skew shape the window
      // operators up-stack had to solve by hand (sharding/bucketing).
      // JOINS are the one place AQE fixes it at runtime; this case proves
      // that claim is true ON THIS ENGINE'S CONFIG, not just in the docs,
      // with thresholds tuned so the optimization fires at test scale
      // (the hot partition is ~4 MB here, not 256 MB).
      // 32 input partitions: a skewed reduce partition can only split at
      // map-output-block granularity, so map-side parallelism bounds how
      // finely AQE can split the hot key (4 map tasks would cap the split
      // at 4 chunks of 30k records — still a straggler)
      // hash payload, and aggregated BELOW the join so it survives column
      // pruning: skew detection reads COMPRESSED map-output sizes, and a
      // pruned-to-constant-key hot partition lz4-compresses to ~nothing —
      // no threshold can see it (exactly what production rows, which
      // carry real payloads, don't do)
      val keyed = when(pmod($"id", lit(10)) < 6, 0L).otherwise(pmod($"id", lit(997)) + 1L)
      val fact = spark.range(0, 200000, 1, 32)
        .select(keyed.as("k"), hash($"id").cast("long").as("payload")).persist()
      val dim = spark.range(0, 998).select($"id".as("k"), ($"id" * 2.0).as("w")).persist()
      fact.count(); dim.count()
      val tuned = Seq(
        // forbid broadcast BOTH at plan time and at AQE re-plan time: the
        // right side is small, and a runtime broadcast conversion would
        // dodge the skew path this case exists to exercise (real
        // fact-fact right sides aren't broadcastable)
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        // skew thresholds are over COMPRESSED map-output bytes — the
        // 120k-row hot partition is a few hundred KB on the wire, so the
        // production 256m threshold must scale down with the data
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k")
      val old = (tuned.map(_._1) :+ "spark.sql.adaptive.skewJoin.enabled")
        .map(k => k -> spark.conf.getOption(k))
      tuned.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        def run(): (Long, Map[Int, Seq[(Long, Long)]]) = {
          var n = 0L
          val st = probe {
            val r = fact.join(dim, Seq("k"))
              .agg(count(lit(1)), sum($"payload")).collect().head
            n = r.getLong(0)
          }
          (n, st)
        }
        // control: skew split OFF — the probe must see the one-task hot key
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        val (n0, control) = run()
        assert(n0 === 200000L)
        info("skew-join control (split disabled): " + stageStats(control).map {
          case (sid, n, mx, md, ms) => s"stage $sid n=$n max=$mx med=$md ${ms}ms" }.mkString("; "))
        val detected = stageStats(control).exists { case (_, nt, mx, md, _) =>
          nt >= 4 && mx >= FLOOR && mx.toDouble / math.max(md, 1) > RATIO
        }
        assert(detected, "probe failed to detect the hot-key join straggler with " +
          "skew split disabled — the split evidence below would be vacuous:\n" +
          stageStats(control).mkString("\n"))
        // with AQE skew split ON: same result, post-split task balance
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        val (n1, split) = run()
        assert(n1 === 200000L, "skew split changed the join result")
        assertBalanced("skew-join-split", split)
        // and the straggler is materially flattened, not just re-labeled
        val mx0 = stageStats(control).map(_._3).max
        val mx1 = stageStats(split).map(_._3).max
        assert(mx1 * 2 <= mx0,
          s"skew split did not flatten the hot task: max $mx0 -> $mx1 records")
      } finally {
        old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
        fact.unpersist(); dim.unpersist()
      }
    }
  }

  test("scale: z-ordered write stays balanced; second-column box prunes the scan at 12x", suiteTags: _*) {
    withScaleConf {
      // two independent-ish uniform dimensions — the multi-dim filter
      // shape a single-column sort cannot prune
      val base = spark.range(N).select(col("id"),
        pmod(hash(col("id")), lit(1000)).cast("long").as("x"),
        pmod(hash(col("id"), lit(1)), lit(1000)).cast("long").as("y"))
      val dir = tmpDir("scale_zorder")
      val stages = probe {
        graft.operators.Layout.writeZOrdered(base, dir, Seq("x", "y"), numFiles = 64)
      }
      // the Morton key over uniform dims is uniform — the range
      // repartition before the write must not concentrate a task
      assertBalanced("zorder-write", stages)
      // the Hilbert key is a bijection of the same rank grid, so its
      // range partitioning must stay exactly as balanced — the curve
      // buys locality (connected file regions), never at skew's expense
      val hDir = tmpDir("scale_zorder_h")
      val hStages = probe {
        graft.operators.Layout.writeZOrdered(base, hDir, Seq("x", "y"),
          numFiles = 64, curve = "hilbert")
      }
      assertBalanced("zorder-write-hilbert", hStages)
      // pruning at scale: a 5%-of-range box on the SECOND column must
      // skip most files' row groups (8x8-ish grid → ~1-2 of 8 y-slabs)
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = spark.read.parquet(dir).where($"y".between(100, 150))
        val kept = df.count()
        df.collect()
        val scan = df.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.head
        val decoded = scan.metrics("numOutputRows").value
        info(s"zorder-prune: decoded $decoded of $N rows for a 5% second-column box (kept $kept)")
        assert(decoded * 2 <= N,
          s"z-order pruned nothing at scale: decoded $decoded of $N")
        assert(kept > 0)
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
  }

  test("scale: ANN + IVF top-k over 50k embeddings with 1% zero-norm vectors — k rows/query, no poison, bounded lists", suiteTags: _*) {
    withScaleConf {
      val queries = emb.where($"vec_id".isin(1L, 7L, 13L, 19L, 101L, 1001L, 20011L, 49999L))
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
      var ann: Array[(Long, Long)] = null
      var ivf: Array[(Long, Long)] = null
      val stages = probe {
        ann = Similarity.annTopK(queries, emb, k = 10, nPlanes = 6)
          .select($"q_id", $"vec_id").as[(Long, Long)].collect()
        ivf = Similarity.ivfTopK(queries, emb, k = 10, nLists = 16, nProbe = 4)
          .select($"q_id", $"vec_id").as[(Long, Long)].collect()
      }
      for ((res, nm) <- Seq((ann, "ann"), (ivf, "ivf"))) {
        val byQ = res.groupBy(_._1)
        assert(byQ.size === 8 && byQ.values.forall(_.length == 10), s"$nm: not k per query")
        assert(!res.exists(_._2 % 100 == 0), s"$nm: a zero-norm vector surfaced in top-k")
      }
      // IVF lists are data-dependent (Voronoi cells of hash-picked
      // centroids) — inherently uneven, so the generic contract gets a
      // looser bound here; the catastrophic mode (one list absorbing the
      // corpus via a NaN centroid) would blow far past it
      assertBalanced("ann+ivf", stages, ratio = 6.0)
    }
  }

  test("scale: streaming intake batch collapses the boilerplate cluster, drops planted copies vs history, stays balanced", suiteTags: _*) {
    withScaleConf {
      import graft.streaming.StreamOps
      import graft.functions.{TextFunctions => TF}
      val table = "t_scale_intake"
      val outDir = spark.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + "/t_scale_intake_out"
      val outP = new org.apache.hadoop.fs.Path(outDir)
      val fs = outP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Dedup.IntakeHistory.drop(spark, table)
      fs.delete(outP, true)
      def wrap(c: org.apache.spark.sql.Column) =
        concat(lit("""<div class="d"><p>"""), c,
          lit("</p><script>track()</script></div>"))
      try {
        // ---- batch 0: the full skewed corpus (NULL stripe + the
        // 10k-copy boilerplate cluster) PLUS planted within-batch
        // near-copies, as HTML. The plant is not only coverage (the
        // within-batch LSH leg must fire at this scale): a batch with
        // ZERO duplicates lets AQE's empty-relation propagation
        // eliminate the anti-joins and serve the result through a
        // locality-packed `AQEShuffleRead local` (3 reducers per task,
        // the rest empty) — a degenerate-input artifact the balance
        // contract would misread as a straggler ----
        val withins = docs
          .where($"doc_id" % 64 =!= 0 && $"doc_id" < 800 && $"doc_id" % 2 === 1)
          .select(($"doc_id" + 500000).as("doc_id"),
            wrap(concat($"text", lit(" zz"))).as("html"))
        // a foreachBatch sink receives its micro-batch MATERIALIZED by
        // the source; constructing one from filtered scans of a cached
        // fixture is test scaffolding, so it materializes OUTSIDE the
        // probe — otherwise every history-building job re-executes the
        // lopsided union scan and the probe measures the scaffolding
        val b0 = docs.select($"doc_id", wrap($"text").as("html"))
          .unionByName(withins)
          .repartition(16).localCheckpoint(eager = true)
        val nWithins = withins.count()
        // expected ORIGINAL survivors, derived independently of the
        // dedup machinery: one row per distinct non-NULL text passing
        // the quality gate (strip∘wrap is identity on these texts
        // modulo whitespace, so the gate can be restated on the raw
        // text; the boilerplate cluster contributes exactly 1).
        // Originals are never the dropped side of a planted pair (the
        // copy carries the larger id).
        val expected0 = docs.where($"text".isNotNull)
          .select($"text").distinct()
          .where(TF.qualityScore(TF.normalizeText($"text")) >= 0.5)
          .count()
        var ran = false
        val stages0 = probe {
          ran = StreamOps.mixedIntakeBatch(b0, 0L, table, 8, "html", "payload", "doc_id",
            outDir, minQuality = 0.5)
        }
        assert(ran)
        val out0 = spark.read.parquet(s"$outDir/batch-0")
        assert(out0.where($"doc_id" < 500000).count() === expected0)
        // within-batch LSH recall at production banding: ≥99% of the
        // planted copies dropped (the l02d uncapped oracle owns total
        // recall; this is the capped path at scale)
        assert(out0.where($"doc_id" >= 500000).count() <= nWithins / 100,
          "within-batch planted near-copies survived intake")
        assertBalanced("intake-b0", stages0)
        // ---- batch 1, against the now-populated history: exact copies
        // (must fall to the hash history), near-copies at jaccard ≈
        // 0.97 (must fall to the band history), and genuinely new texts
        // (reversed originals — disjoint shingles; must ALL survive) ----
        val exactCopies = docs
          .where($"text".isNotNull && $"doc_id" % 97 === 1 && $"doc_id" < N - 10000)
          .select(($"doc_id" + 1000000).as("doc_id"), wrap($"text").as("html"))
        val nearCopies = docs
          .where($"doc_id" % 64 =!= 0 && $"doc_id" < 800 && $"doc_id" % 2 === 1)
          .select(($"doc_id" + 2000000).as("doc_id"),
            wrap(concat($"text", lit(" zz"))).as("html"))
        val fresh = docs
          .where($"text".isNotNull && $"doc_id" % 3 === 0 && $"doc_id" < N - 10000)
          .select(($"doc_id" + 3000000).as("doc_id"),
            wrap(reverse($"text")).as("html"))
        val expectedFresh = docs
          .where($"text".isNotNull && $"doc_id" % 3 === 0 && $"doc_id" < N - 10000)
          .select(reverse($"text").as("t")).distinct()
          .where(TF.qualityScore(TF.normalizeText($"t")) >= 0.5)
          .count()
        val b1 = exactCopies.unionByName(nearCopies).unionByName(fresh)
          .repartition(16).localCheckpoint(eager = true) // same rationale as b0
        val stages1 = probe {
          StreamOps.mixedIntakeBatch(b1, 1L, table, 8, "html", "payload", "doc_id",
            outDir, minQuality = 0.5)
        }
        val out1 = spark.read.parquet(s"$outDir/batch-1")
        // exact copies can never survive (hash equality is exact)
        assert(out1.where($"doc_id" >= 1000000 && $"doc_id" < 2000000).count() === 0L,
          "a planted EXACT copy survived the hash history at scale")
        // near copies: same ≥99% banding-recall bound as batch 0 (a
        // banded miss is deterministic per pair, so it would repeat here)
        val nearSurvived = out1.where($"doc_id" >= 2000000 && $"doc_id" < 3000000).count()
        assert(nearSurvived <= nWithins / 100,
          s"$nearSurvived planted near-copies survived the band history")
        assert(out1.where($"doc_id" >= 3000000).count() === expectedFresh,
          "fresh reversed texts were wrongly deduped")
        assertBalanced("intake-b1", stages1)
      } finally {
        Dedup.IntakeHistory.drop(spark, table)
        fs.delete(outP, true)
      }
    }
  }

  test("scale: MIXED intake — one loop routes the skewed text corpus + a three-modality payload stripe, no-content rows vanish, plants die, stays balanced", suiteTags: _*) {
    withScaleConf {
      import graft.streaming.StreamOps
      import graft.functions.{TextFunctions => TF}
      import graft.operators.Multimodal
      val table = "t_scale_mixed"
      val outDir = spark.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + "/t_scale_mixed_out"
      val outP = new org.apache.hadoop.fs.Path(outDir)
      val fs = outP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      StreamOps.dropMixedHistory(spark, table)
      fs.delete(outP, true)
      def wrap(c: org.apache.spark.sql.Column) =
        concat(lit("""<div class="d"><p>"""), c,
          lit("</p><script>track()</script></div>"))
      def modal(ids: DataFrame, reencode: Boolean): DataFrame = {
        val m0 = col("__seed") % 3 === 0
        val m1 = col("__seed") % 3 === 1
        val m2 = col("__seed") % 3 === 2
        val img =
          if (reencode) Multimodal.syntheticPngMixed(ids.where(m0), "__seed", 16, 16)
          else Multimodal.syntheticPpmMixed(ids.where(m0), "__seed", 16, 16)
        val aud =
          if (reencode) Multimodal.syntheticWavMulawTone(ids.where(m1), "__seed")
          else Multimodal.syntheticWavPcm16(ids.where(m1), "__seed")
        val vid =
          if (reencode) Multimodal.syntheticAviMjpegBlocks(ids.where(m2), "__seed", 64, 32, 4)
          else Multimodal.syntheticY4mBlocks(ids.where(m2), "__seed", 64, 32, 4)
        img.select(col("doc_id"), lit(null).cast("string").as("html"), col("payload"))
          .unionByName(aud.select(col("doc_id"), lit(null).cast("string").as("html"), col("payload")))
          .unionByName(vid.select(col("doc_id"), lit(null).cast("string").as("html"), col("payload")))
      }
      try {
        // text side: the full skewed corpus as html — the NULL-text
        // stripe wraps to a NULL html, so those rows carry NO content
        // and must be routed to NEITHER leg (vanish from survivors);
        // within-batch near-copy plants per the intake case's AQE
        // empty-relation rationale
        val textSide = docs.select($"doc_id", wrap($"text").as("html"),
          lit(null).cast("binary").as("payload"))
        val withins = docs
          .where($"doc_id" % 64 =!= 0 && $"doc_id" < 800 && $"doc_id" % 2 === 1)
          .select(($"doc_id" + 500000).as("doc_id"),
            wrap(concat($"text", lit(" zz"))).as("html"),
            lit(null).cast("binary").as("payload"))
        // binary stripe: ~N/10 payloads, modality by seed % 3, plus
        // within-batch re-encode plants (same raster/signal, different
        // container — each must die on its modality's keep-min)
        val binSide = modal(docs.where($"doc_id" % 10 === 3)
          .select(($"doc_id" + 5000000).as("doc_id"), $"doc_id".as("__seed")),
          reencode = false)
        val binPlants = modal(docs.where($"doc_id" % 30 === 3)
          .select(($"doc_id" + 6000000).as("doc_id"), $"doc_id".as("__seed")),
          reencode = true)
        // embedding stripe (the l33 leg): ~M/10 vectors, plus 2x-scaled
        // within-batch copies (bit-identical cosine geometry — each must
        // die on the frozen-quantizer keep-min). The stripe contains no
        // zero-norm rows by residue arithmetic (id ≡ 7 mod 10 excludes
        // id ≡ 0 mod 100), so the survivor count is exact.
        def vecSide(sel: org.apache.spark.sql.Column, bump: Long, scale: Float) =
          emb.where(sel).select(($"vec_id" + bump).as("doc_id"),
            lit(null).cast("string").as("html"),
            lit(null).cast("binary").as("payload"),
            transform($"embedding", x => (x * lit(scale)).cast("float")).as("embedding"))
        val embSide = vecSide($"vec_id" % 10 === 7, 7000000L, 1.0f)
        val embPlants = vecSide($"vec_id" % 50 === 7, 8000000L, 2.0f)
        val withEmb = (df: DataFrame) => df.select($"doc_id", $"html",
          $"payload", lit(null).cast("array<float>").as("embedding"))
        val b0 = withEmb(textSide).unionByName(withEmb(withins))
          .unionByName(withEmb(binSide)).unionByName(withEmb(binPlants))
          .unionByName(embSide).unionByName(embPlants)
          .repartition(16).localCheckpoint(eager = true) // scaffolding outside the probe
        val nWithins = withins.count()
        val expected0 = docs.where($"text".isNotNull)
          .select($"text").distinct()
          .where(TF.qualityScore(TF.normalizeText($"text")) >= 0.5)
          .count()
        var ran = false
        val stages0 = probe {
          ran = StreamOps.mixedIntakeBatch(b0, 0L, table, 8, "html",
            "payload", "doc_id", outDir, minQuality = 0.5,
            embCol = Some("embedding"))
        }
        assert(ran)
        val out0 = spark.read.parquet(s"$outDir/batch-0")
        assert(out0.where($"text".isNotNull && $"doc_id" < 500000).count()
          === expected0, "text-leg survivors diverged from the closed form")
        assert(out0.where($"doc_id" >= 500000 && $"doc_id" < 5000000).count()
          <= nWithins / 100, "within-batch planted near-copies survived")
        // per-modality survivor contracts. Image identity is EXACT
        // dHash equality → hash-derived distinct images never collide
        // (equality holds at any scale). Audio/video identity is
        // BANDED NEAR-dup: on a splitmix-derived corpus the natural
        // within-tolerance pair density is quadratic in the stripe
        // size (measured: ~0.3% drops at 12x), and dropping a genuine
        // within-tolerance pair is the operator doing its job — so
        // those legs get a tolerance, not equality (their exact
        // recall/differential contracts live in the per-modality
        // cases and the l28b/l30b registry rows).
        def binSurv(m: Int) = out0.where($"payload".isNotNull &&
          $"doc_id" >= 5000000 && $"doc_id" < 6000000 &&
          ($"doc_id" - 5000000) % 3 === m).count()
        def binIn(m: Int) = docs.where($"doc_id" % 10 === 3 &&
          $"doc_id" % 3 === m).count()
        val (si, sa, sv) = (binSurv(0), binSurv(1), binSurv(2))
        info(s"mixed binary survivors: img $si/${binIn(0)} aud $sa/${binIn(1)} vid $sv/${binIn(2)}")
        assert(si === binIn(0), "a distinct image was wrongly deduped (exact dHash)")
        assert(sa >= binIn(1) * 95 / 100, s"audio leg dropped too many distinct clips: $sa")
        assert(sv >= binIn(2) * 95 / 100, s"video leg dropped too many distinct clips: $sv")
        assert(out0.where($"doc_id" >= 6000000 && $"doc_id" < 7000000).count() === 0L,
          "a planted re-encode copy survived its modality's keep-min")
        // embedding stripe: hash-derived dim-32 vectors never reach
        // cos 0.95 naturally (P ≈ (1−τ²)^15 per pair), so survivor
        // equality is exact; every 2x-scaled copy dies on keep-min
        assert(out0.where($"doc_id" >= 7000000 && $"doc_id" < 8000000).count()
          === emb.where($"vec_id" % 10 === 7).count(),
          "a distinct embedding was wrongly deduped")
        assert(out0.where($"doc_id" >= 8000000).count() === 0L,
          "a planted scaled embedding copy survived the frozen-quantizer keep-min")
        // NULL-content rows vanished (no leg saw them)
        assert(out0.where($"text".isNull && $"payload".isNull &&
          $"embedding".isNull).count() === 0L)
        assertBalanced("mixed-b0", stages0)
      } finally {
        StreamOps.dropMixedHistory(spark, table)
        fs.delete(outP, true)
      }
    }
  }

  test("scale: trained quality classifier — train on a labeled slice, per-row score the full skewed corpus, stays balanced", suiteTags: _*) {
    import graft.operators.{QualityClassifier => QC}
    def gib(c: org.apache.spark.sql.Column) =
      translate(c, "abcdefghijklmnopqrstuvwxyz", "zyxwvutsrqponmlkjihgfedcba")
    withScaleConf {
      val stages = probe {
        // labeled slice (public practice trains on a curated SAMPLE):
        // positives = natural docs of one ring slice, negatives = the
        // gibberish siblings of another — ids kept disjoint by parity
        val pos = docs.where($"text".isNotNull && $"doc_id" % 12 === 1)
          .select(($"doc_id" * 2).as("id"), $"text", lit(1).as("y"))
        val neg = docs.where($"text".isNotNull && $"doc_id" % 12 === 2)
          .select(($"doc_id" * 2 + 1).as("id"), gib($"text").as("text"),
            lit(0).as("y"))
        val model = QC.train(pos.unionByName(neg), "text", "id", "y",
          dim = 512, epochs = 2, lr = 0.5)
        // the 100 TB path: score EVERY doc (incl. the 10k-copy cluster
        // and NULLs) through the per-row map-literal fold — no explode,
        // no join, nothing to skew; assert separation on a HELD-OUT
        // slice the model never saw
        val scored = docs.select($"doc_id", $"text",
            QC.scoreMicroColumn($"text", model).as("p"))
          .localCheckpoint(true)
        val held = scored.where($"text".isNotNull && $"doc_id" % 12 === 5)
        val cleanMean = held.agg(avg($"p")).head().getDouble(0)
        val gibMean = docs.where($"text".isNotNull && $"doc_id" % 12 === 5)
          .select(QC.scoreMicroColumn(gib($"text"), model).as("p"))
          .agg(avg($"p")).head().getDouble(0)
        assert(cleanMean > gibMean,
          s"held-out separation lost: clean $cleanMean <= gibberish $gibMean")
        assert(scored.where($"text".isNull && $"p".isNotNull).count() === 0)
      }
      assertBalanced("quality classifier", stages)
    }
  }

  test("scale: URL dedup — one URL duplicated 10k times peels off through the lossless hot branch, stays balanced", suiteTags: _*) {
    import graft.operators.{UrlOps => U}
    withScaleConf {
      // ONE url on ~10k interleaved rows (a crawler hammering a single
      // page — the mass-duplicated key; interleaved like a real crawl,
      // not a contiguous block: a contiguous cluster makes any
      // post-filter record count concentrate in its input partition,
      // which is an input-LAYOUT property, not an operator stage); the
      // rest spread over ~N distinct canonical urls via tracking-param
      // and case noise that canonicalization must fold
      val urls = docs.select($"doc_id",
        when($"doc_id" % 64 === 0, lit(null).cast("string"))
          .when($"doc_id" % 6 === 3,
            lit("http://Hot.example.com/index?utm_source=crawl"))
          .otherwise(concat(lit("http://site"), $"doc_id" % 97,
            lit(".example.com/p"), ($"doc_id" / 8).cast("long"),
            when($"doc_id" % 2 === 0, lit("/")).otherwise(lit("#f"))))
          .as("url")).persist()
      urls.count()
      // expected survivors, derived from the data BEFORE the probe:
      // one row per distinct canonical url + every NULL
      val nulls = urls.where($"url".isNull).count()
      val distinctCanon = urls.where($"url".isNotNull)
        .select(U.canonicalizeUrl($"url")).distinct().count()
      val expectedHotMin = urls
        .where($"url".isNotNull && $"doc_id" % 6 === 3)
        .agg(min($"doc_id")).head().getLong(0)
      var out: DataFrame = null
      // hotOccurrences far below the 10k cluster forces the broadcast
      // peel-off; correctness must be unchanged (lossless)
      val stages = probe {
        out = U.urlDedup(urls, "url", "doc_id", hotOccurrences = 1000)
          .persist()
        out.count(): Unit
      }
      assert(out.count() === distinctCanon + nulls)
      val hotSurvivor = out
        .where(U.canonicalizeUrl($"url") === "http://hot.example.com/index")
        .select($"doc_id").as[Long].collect().toSeq
      assert(hotSurvivor === Seq(expectedHotMin),
        s"hot url must keep exactly its min id: $hotSurvivor")
      assertBalanced("url dedup", stages)
      out.unpersist(); urls.unpersist(): Unit
    }
  }

  test("scale: char-bigram LM train + score over the skewed corpus (NULLs, 10k-copy cluster) stays balanced", suiteTags: _*) {
    withScaleConf {
      import graft.operators.NgramLm
      val lm = NgramLm.trainCharBigram(docs.where($"doc_id" % 3 === 0), "text")
      // the model is alphabet-bounded regardless of corpus size — the
      // broadcast-join scale story stands on this
      assert(lm.big.count() < 10000, "model must stay alphabet-bounded")
      var scoredNonNull = 0L; var nullScored = 0L
      val stages = probe {
        val out = NgramLm.scoreDocs(docs, "text", "doc_id", lm)
          .select($"doc_id", $"n_big", $"avg_logp")
        scoredNonNull = out.where($"avg_logp".isNotNull).count()
        nullScored = out.where($"n_big" === 0).count()
      }
      // every non-NULL text scores (the boilerplate cluster too — same
      // score, no special casing); NULL texts carry no evidence
      val nNull = docs.where($"text".isNull).count()
      assert(nullScored === nNull)
      assert(scoredNonNull === N - nNull)
      assertBalanced("ngram-lm", stages)
    }
  }

  test("scale: semantic dedup — zero-norm poison keeps itself, planted scaled copies drop, per-cluster pair work stays balanced", suiteTags: _*) {
    withScaleConf {
      import graft.operators.Similarity
      // planted: exact-scaled copies (2x — bit-identical cosine
      // geometry) of every 1000th vector under offset ids
      val copies = emb.where($"vec_id" % 1000 === 0 && $"vec_id" % 100 =!= 0)
        .select(($"vec_id" + 10000000L).as("vec_id"),
          transform($"embedding", x => (x * lit(2.0f)).cast("float")).as("embedding"))
      val aug = emb.unionByName(copies)
      var clusters: Map[Long, Long] = null
      val stages = probe {
        clusters = Similarity.semanticDupClusters(aug, tau = 0.95,
            nLists = 64, maxCluster = 4096)
          .as[(Long, Long)].collect().toMap
      }
      // every planted copy collapses onto its original; zero-norm
      // vectors (NaN against everything) always keep themselves
      copies.select($"vec_id").as[Long].collect().foreach { id =>
        assert(clusters(id) === id - 10000000L, s"scaled copy $id survived")
      }
      (0L until M.toLong by 100).take(50).foreach { id =>
        assert(clusters(id) === id, s"zero-norm $id absorbed into a cluster")
      }
      assertBalanced("semantic-dedup", stages)
    }
  }

  test("scale: video frame-vote banding — a 10k-identical flood sidelined, cross-container copies still pair, stays balanced", suiteTags: _*) {
    withScaleConf {
      import graft.operators.Multimodal
      val nVid = math.min(N, 60000) / 4 // 4 frames each: same decode volume as the image case
      val seeds = spark.range(nVid).select($"id".as("doc_id"),
        when($"id" >= nVid - 2500, lit(7L)).otherwise($"id").as("__seed"))
      val originals = Multimodal.syntheticY4mBlocks(seeds, "__seed", 64, 32, 4)
        .select($"doc_id", $"payload")
      val copies = Multimodal.syntheticAviMjpegBlocks(
          seeds.where($"doc_id" % 499 === 0 && $"doc_id" < nVid - 2500)
            .select(($"doc_id" + 10000000L).as("doc_id"), $"__seed"), "__seed", 64, 32, 4)
        .select($"doc_id", $"payload")
      var clusters: Map[Long, Long] = null
      val stages = probe {
        clusters = Dedup.videoNearDupClusters(
            Multimodal.multimodalIdentities(originals.unionByName(copies),
              "payload", "doc_id"), "doc_id", maxBucket = 1024)
          .as[(Long, Long)].collect().toMap
      }
      copies.select($"doc_id").as[Long].collect().foreach { id =>
        assert(clusters(id) === clusters(id - 10000000L),
          s"cross-container copy $id not in its original's component")
      }
      assertBalanced("video-banding", stages)
    }
  }

  test("scale: audio fingerprint banding — capped buckets sideline a 10k-identical flood, cross-codec copies still pair, stays balanced", suiteTags: _*) {
    withScaleConf {
      import graft.operators.Multimodal
      // audio corpus: distinct melodies, except ids >= N-10000 all
      // carry seed 7 (the mass-duplicate flood — one fingerprint class
      // that would go quadratic in every band without the cap)
      val nAudio = math.min(N, 60000)
      val seeds = spark.range(nAudio).select($"id".as("doc_id"),
        when($"id" >= nAudio - 10000, lit(7L)).otherwise($"id").as("__seed"))
      val originals = Multimodal.syntheticWavPcm16(seeds, "__seed")
        .select($"doc_id", $"payload")
      // cross-codec copies of every 997th NON-flood doc
      val copies = Multimodal.syntheticWavMulawTone(
          seeds.where($"doc_id" % 997 === 0 && $"doc_id" < nAudio - 10000)
            .select(($"doc_id" + 10000000L).as("doc_id"), $"__seed"), "__seed")
        .select($"doc_id", $"payload")
      var clusters: Map[Long, Long] = null
      val stages = probe {
        clusters = Dedup.audioNearDupClusters(
            Multimodal.multimodalIdentities(originals.unionByName(copies),
              "payload", "doc_id"), "doc_id", maxBucket = 1024)
          .as[(Long, Long)].collect().toMap
      }
      // planted cross-codec pairs survive the cap (their buckets are
      // small); the flood is sidelined, not exploded. Component
      // equality, not identity: at 60k seeds the fingerprint space has
      // natural ≤8-distance neighbors, so a copy's component can have
      // a minimum below its original — the contract is that copy and
      // original always land in the SAME component.
      copies.select($"doc_id").as[Long].collect().foreach { id =>
        assert(clusters(id) === clusters(id - 10000000L),
          s"cross-codec copy $id not in its original's component")
      }
      assertBalanced("audio-banding", stages)
    }
  }

  test("scale: text-front gates — C4 surgery, Gopher pack, trained language ID, DSIR select over the skewed corpus (NULLs, 10k-copy cluster), stay balanced", suiteTags: _*) {
    import graft.operators.{C4Rules, Dsir, GopherRules => G, LangId}
    def gib(c: org.apache.spark.sql.Column) =
      translate(c, "abcdefghijklmnopqrstuvwxyz", "zyxwvutsrqponmlkjihgfedcba")
    withScaleConf {
      val stages = probe {
        // C4 line surgery: per-row rebuild + verdict over every doc —
        // same zero-exchange class as Gopher; NULL conventions hold
        val c4 = docs.select($"doc_id", $"text",
            C4Rules.cleanedText($"text").as("ct"),
            C4Rules.keeps($"text").as("keep")).localCheckpoint(true)
        assert(c4.where($"keep".isNull).count() === 0,
          "c4 keep must never be NULL")
        assert(c4.where($"text".isNull && (!$"keep" || $"ct".isNotNull))
          .count() === 0, "NULL text must pass and rebuild to NULL")
        assert(c4.where($"text".isNotNull && $"ct".isNull).count() === 0,
          "non-NULL text must rebuild to a non-NULL (possibly empty) text")
        // Gopher: ONE per-row pass over every doc — NULLs, the hot
        // language, the 10k-copy cluster; nothing leaves the row, so
        // the only distribution that matters is the scan's
        val flags = docs.select($"doc_id", $"text",
            G.keeps($"text").as("keep")).localCheckpoint(true)
        assert(flags.where($"keep".isNull).count() === 0,
          "keep must never be NULL")
        assert(flags.where($"text".isNull && !$"keep").count() === 0,
          "NULL text must pass (no evidence)")
        // language ID: train one-vs-rest heads on a ring SLICE
        // (natural = en, alphabet-permuted = xx), then route the FULL
        // corpus through the K per-row scoring folds
        val slice = docs.where($"text".isNotNull && $"doc_id" % 12 === 1)
        val labeled = slice
          .select(($"doc_id" * 2).as("id"), $"text", lit("en").as("lang"))
          .unionByName(slice.select(($"doc_id" * 2 + 1).as("id"),
            gib($"text").as("text"), lit("xx").as("lang")))
        val lm = LangId.train(labeled, "text", "id", "lang",
          Seq("en", "xx"), dim = 256, epochs = 2, ngram = 2)
        val routed = docs.select($"doc_id", $"text",
            LangId.predict($"text", lm).as("pred"))
          .localCheckpoint(true)
        assert(routed.where($"text".isNotNull && $"pred".isNull).count() === 0)
        assert(routed.where($"text".isNull && $"pred".isNotNull).count() === 0)
        // DSIR: fit target/raw on disjoint slices, per-row log-weight
        // the full corpus, Gumbel top-k (bounded heaps, never a global
        // sort — the TakeOrderedAndProject pin lives in DsirSpec)
        val rawSlice = docs.where($"text".isNotNull && $"doc_id" % 12 === 4)
          .select($"doc_id", $"text")
        val m = Dsir.train(
          docs.where($"text".isNotNull && $"doc_id" % 12 === 3)
            .select($"doc_id", $"text"),
          rawSlice.unionByName(rawSlice.select(
            ($"doc_id" + 10000000L).as("doc_id"), gib($"text").as("text"))),
          "text", dim = 2048)
        val top = Dsir.selectTopK(docs, "text", "doc_id", m, 500)
          .localCheckpoint(true)
        assert(top.count() === 500)
        assert(top.where($"text".isNull).count() === 0,
          "NULL text must never be selected")
      }
      assertBalanced("text-front gates", stages)
    }
  }

  test("scale: WET sink bounded packer — byte bound holds on the skewed corpus, lossless round trip, one shuffle, stays balanced", suiteTags: _*) {
    import graft.sources.Warc
    import graft.streaming.WetSink
    withScaleConf {
      val pages0 = docs.where($"text".isNotNull)
        .select(
          concat(lit("http://w"), $"doc_id", lit(".example.com/p")).as("url"),
          $"text")
      val nIn = pages0.count()
      val bound = 64L * 1024
      // the largest single record the bound may overshoot by
      val maxRec = pages0.select(max(octet_length($"text").cast("long") +
        octet_length($"url") + 128L)).head.getLong(0)
      val stages = probe {
        val packed = WetSink.packBounded(pages0, "url", "text",
          maxContainerBytes = bound, shards = 32, gzip = true)
          .localCheckpoint(true)
        val st = packed.agg(max($"n_bytes"), sum($"n_records"),
          count(lit(1))).head
        assert(st.getLong(0) <= bound + maxRec,
          s"container ${st.getLong(0)} bytes vs bound $bound + rec $maxRec")
        assert(st.getLong(1) === nIn, "every row packs exactly once")
        // the 10k-copy cluster spreads by url hash, so the bound forces
        // MANY containers — not one giant row per shard
        assert(st.getLong(2) > 32, s"bound must cut containers: ${st.getLong(2)}")
        val back = Warc.pages(packed, "warc").localCheckpoint(true)
        assert(back.count() === nIn)
        assert(back.where($"malformed" =!= 0).count() === 0)
      }
      assertBalanced("wet sink bounded pack", stages)
    }
  }

  test("scale: WARC pack → parse over the skewed corpus — container-parallel record walk, lossless round trip, stays balanced", suiteTags: _*) {
    import graft.sources.Warc
    withScaleConf {
      val pages0 = docs.where($"text".isNotNull)
        .select($"doc_id",
          concat(lit("http://w"), $"doc_id", lit(".example.com/p")).as("url"),
          $"text", pmod($"doc_id", lit(64)).as("bucket"))
      val nIn = pages0.count()
      val stages = probe {
        // 64 containers over the skewed corpus (incl. the 10k-copy
        // boilerplate cluster — identical bodies pack like any other);
        // odd buckets gzip. One groupBy to container grain, then the
        // per-row imperative grammar walk — container count is the
        // parallelism unit, so balance = the bucketing choice
        val packed = Warc.packWet(pages0, "bucket", "url", "text",
          gzipOdd = true).localCheckpoint(true)
        // 63, not 64: bucket 0 is exactly the NULL-text congruence
        // class (id % 64 == 0), which the non-null filter emptied
        assert(packed.count() === 63)
        val back = Warc.pages(packed, "warc").localCheckpoint(true)
        // lossless: every non-null doc returns as exactly one page,
        // zero malformed units anywhere
        assert(back.count() === nIn)
        assert(back.where($"malformed" =!= 0).count() === 0)
        assert(back.where($"page_text".isNull).count() === 0)
      }
      assertBalanced("warc pack/parse", stages)
    }
  }
}

/** Selects the heavy 50× evidence run ([[ScaleSpec50x]]). */
object Scale50x extends org.scalatest.Tag("Scale50x")

/** The 50× scale-stress evidence as a one-command suite (was a
  * one-off env-var run in round 6):
  *
  *   sbt "testOnly *ScaleSpec* -- -n Scale50x"
  *
  * Same corpus shape, same balance contracts, 250k docs / 200k
  * embeddings. Excluded from the default `sbt test` (task-scoped filter
  * in build.sbt) so the regular suite stays fast; the green run is
  * recorded in BASELINE.md per round. */
class ScaleSpec50x extends ScaleSpec {
  override protected def scaleN: Int = 250000
  override protected def scaleM: Int = 200000
  override protected def suiteTags: Seq[org.scalatest.Tag] = Seq(Scale50x)
}
