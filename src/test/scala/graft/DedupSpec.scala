package graft

import graft.operators.{Dedup, Layout, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** L1/L2/L4 properties the oracle queries can't check: LSH recall on
  * planted near-duplicates, dedup idempotence, ANN-vs-exact overlap,
  * approx-distinct error bound (the a04 claim). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")

  /** The identity frame of a (doc_id, payload) frame — the input of
    * every multimodal dedup operator. */
  private def ident(payloads: org.apache.spark.sql.DataFrame) =
    graft.operators.Multimodal.multimodalIdentities(payloads, "payload", "doc_id")

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select($"doc_id").as[Long].collect().toSet

  test("L1: exact dedup removes planted copies and is idempotent") {
    val copies = docs.where($"doc_id" % 5 === 0)
      .select(($"doc_id" + 100000).as("doc_id"), $"text")
    val aug = docs.unionByName(copies)
    val once = Dedup.exact(aug, "text", "doc_id")
    assert(once.count() === docs.count()) // all copies gone, originals kept
    assert(Dedup.exact(once, "text", "doc_id").count() === once.count())
  }

  test("L2: minhash-LSH candidates find every planted near-duplicate") {
    val planted = docs.where($"doc_id" % 7 === 0)
      .select(($"doc_id" + 200000).as("doc_id"), concat($"text", lit(" zzextra")).as("text"))
    val aug = docs.unionByName(planted)
    val cands = Dedup.minhashCandidates(aug, "text", "doc_id")
      .where($"jaccard" >= 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val expected = planted.select(($"doc_id" - 200000).as("a"), $"doc_id".as("b"))
      .as[(Long, Long)].collect().toSet
    val missed = expected.diff(cands)
    // 16 hashes / 4 bands on ~0.97 jaccard: recall should be total here
    assert(missed.isEmpty, s"LSH missed ${missed.size} planted pairs")
  }

  test("L2b: simhash banded candidates include all planted near-dups within maxDist") {
    val planted = docs.where($"doc_id" % 7 === 0)
      .select(($"doc_id" + 200000).as("doc_id"), concat($"text", lit(" zz")).as("text"))
    val aug = docs.unionByName(planted)
    val sigs = aug.select($"doc_id", Dedup.simhash($"text").as("sig"))
    val pairsWithin = sigs.as("a").join(sigs.as("b"),
        col("a.doc_id") + 200000 === col("b.doc_id"))
      .select(col("a.doc_id"), Dedup.hamming(col("a.sig"), col("b.sig")).as("hd"))
      .where($"hd" <= 3).as[(Long, Int)].collect().toMap
    val cands = Dedup.simhashCandidates(aug, "text", "doc_id", maxDist = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // pigeonhole: every pair with hamming<=3 must be bucketed in >=1 band
    pairsWithin.keys.foreach { id =>
      assert(cands.contains((id, id + 200000)),
        s"banded simhash missed pair ($id, ${id + 200000})")
    }
  }

  test("L24b: image history lifecycle — delta-visible probe, same-id replay, fold, undecodable passthrough") {
    import graft.operators.Multimodal
    val table = "t_img_hist"
    def ppm(ids: Seq[Long]) = Multimodal.syntheticPpmMixed(
      ids.toDF("doc_id"), "doc_id", 16, 16).select($"doc_id", $"payload")
    def png(pairs: Seq[(Long, Long)]) = Multimodal.syntheticPngMixed(
      pairs.toDF("doc_id", "__seed"), "__seed", 16, 16)
      .select($"doc_id", $"payload")
    Dedup.ImageHistory.drop(spark, table)
    try {
      val b0 = ident(ppm(1L to 10L))
      Dedup.ImageHistory.ensure(spark, table, b0.schema("doc_id"), 4)
      Dedup.appendImageHistoryDelta(spark, b0, "doc_id", table, 0)
      // BEFORE compaction the probe must see the delta: a cross-codec
      // copy of history image 3 dies, fresh 20/21 survive
      val b1 = ident(ppm(Seq(20L, 21L)).unionByName(png(Seq((103L, 3L)))))
      assert(ids(Dedup.imageIncrementalDelta(spark, b1, table, "doc_id"))
        === Set(20L, 21L), "delta-side history identity missed")
      // same-id replay: the original batch probing its own appended
      // hashes recomputes the identical (full) survivor set
      assert(ids(Dedup.imageIncrementalDelta(spark, b0, table, "doc_id"))
        === (1L to 10L).toSet, "replay guard dropped a batch's own rows")
      // fold, then the same probes hold against the bucketed main
      Dedup.ImageHistory.fold(spark, table)
      assert(spark.table(s"${table}_ph").count() === 10L)
      assert(ids(Dedup.imageIncrementalDelta(spark, b1, table, "doc_id"))
        === Set(20L, 21L), "post-fold history identity missed")
      // undecodable payloads pass through both stages (no identity)
      val junk = Seq((300L, "not an image".getBytes)).toDF("doc_id", "payload")
      val mixed = ppm(Seq(30L)).unionByName(junk)
      val within = Dedup.imageExact(
        ident(mixed.unionByName(png(Seq((130L, 30L))))), "doc_id")
      assert(ids(within) === Set(30L, 300L), "within-batch keep-min or passthrough broke")
      assert(ids(Dedup.imageIncrementalDelta(spark, within, table, "doc_id"))
        === Set(30L, 300L))
    } finally Dedup.ImageHistory.drop(spark, table)
  }

  test("fused identity chain: multimodalIdentities bit-matches the per-modality extractors") {
    import graft.operators.Multimodal
    def ppm(ids: Seq[Long]) = Multimodal.syntheticPpmMixed(
      ids.toDF("doc_id"), "doc_id", 16, 16).select($"doc_id", $"payload")
    def wav(ids: Seq[Long]) = Multimodal.syntheticWavPcm16(
      ids.toDF("doc_id"), "doc_id").select($"doc_id", $"payload")
    def y4m(ids: Seq[Long]) = Multimodal.syntheticY4mBlocks(
      ids.toDF("doc_id"), "doc_id", 64, 32, 3).select($"doc_id", $"payload")
    val junk = Seq((900L, "junk bytes".getBytes),
      (901L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "payload")
    val batch = ppm(1L to 6L).unionByName(wav(10L to 15L))
      .unionByName(y4m(20L to 24L)).unionByName(junk)
      .localCheckpoint(true)
    // the fused pass returns exactly the three extractors' values
    val fused = Multimodal.multimodalIdentities(batch, "payload", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)),
          Option(r.get(3)).map(_.asInstanceOf[scala.collection.Seq[Long]].toSeq))).toMap
    val ph = Multimodal.imageDHash(batch, "payload", "d").collect()
      .map(r => r.getLong(0) -> Option(r.get(2))).toMap
    val afp = Multimodal.audioFingerprint(batch, "payload", "a").collect()
      .map(r => r.getLong(0) -> Option(r.get(2))).toMap
    val fhs = Multimodal.videoFrameHashes(batch, "payload", "doc_id")
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    fused.foreach { case (id, (p, a, f)) =>
      assert(p === ph(id), s"image dHash diverged for $id")
      assert(a === afp(id), s"audio fingerprint diverged for $id")
      assert(f === fhs.get(id), s"video frame hashes diverged for $id")
    }
  }

  test("L39: within-corpus paragraph dedup — keep-first across docs and within one, blank lines exempt, all-boilerplate docs drop, NULL passthrough") {
    def doc(id: Long, text: String) = (id, text)
    val corpus = Seq(
      doc(1L, "alpha one\nshared nav bar\nbody of one"),
      doc(2L, "shared nav bar\nbody of two"),          // loses the nav (doc 1 idx 1 is canonical)
      doc(3L, "repeat me\nrepeat me\nunique three"),   // in-doc repeat: first kept
      doc(4L, "shared nav bar"),                       // all-boilerplate: drops entirely
      doc(5L, "top five\n\nafter blank"),              // blank line survives in place
      doc(6L, null.asInstanceOf[String]))              // NULL passthrough
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 5L, 6L), s"wrong survivors: ${out.keySet}")
    assert(out(1L) === "alpha one\nshared nav bar\nbody of one")
    assert(out(2L) === "body of two", "shared paragraph not removed from doc 2")
    assert(out(3L) === "repeat me\nunique three", "in-doc repeat not collapsed")
    assert(out(5L) === "top five\n\nafter blank", "blank line must survive in place")
    assert(out(6L) === null, "NULL text must pass through")
    // idempotent: a second pass changes nothing (no cross-doc dups left)
    val again = Dedup.paragraphDedup(
      corpus.where($"doc_id" =!= 6L).join(
        Seq(1L, 2L, 3L, 5L).toDF("doc_id"), Seq("doc_id"), "left_semi")
        .select($"doc_id", when($"doc_id" === 1L, out(1L))
          .when($"doc_id" === 2L, out(2L)).when($"doc_id" === 3L, out(3L))
          .otherwise(out(5L)).as("text")), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again === out.removed(6L), "paragraph dedup must be idempotent")
  }

  test("L41: repeated-span dedup — k-token spans cut keep-first across and within docs, k-1 near-miss untouched, all-span docs drop, NULL passthrough") {
    val span5 = "s1 s2 s3 s4 s5"            // shared 5-token span
    val near4 = "n1 n2 n3 n4"               // 4-token near-miss control
    val corpus = Seq(
      (1L, s"a1 a2 $span5 a3 a4"),          // canonical carrier: untouched
      (2L, s"b1 b2 b3 $span5 b4"),          // later doc: span cut
      (3L, s"c1 $near4 c2"),
      (4L, s"d1 $near4 d2"),                // 4-gram shared → below k → kept
      (5L, span5),                          // nothing but the span → drops
      // self-repeat of a doc-6-unique span: first occurrence kept,
      // second cut (a span shared with an EARLIER doc would lose both
      // — the canonical copy lives in the earlier doc)
      (6L, "e1 e2 r1 r2 r3 r4 r5 e3 r1 r2 r3 r4 r5 e4"),
      (7L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpanDedup(corpus, "text", "doc_id", k = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 6L, 7L), s"wrong survivors: ${out.keySet}")
    assert(out(1L) === s"a1 a2 $span5 a3 a4", "canonical doc must stay byte-identical")
    assert(out(2L) === "b1 b2 b3 b4", s"span not cut from the later doc: ${out(2L)}")
    assert(out(3L) === s"c1 $near4 c2" && out(4L) === s"d1 $near4 d2",
      "a k-1 shared span must not be cut")
    assert(out(6L) === "e1 e2 r1 r2 r3 r4 r5 e3 e4",
      s"self-repeat not trimmed keep-first: ${out(6L)}")
    assert(out(7L) === null, "NULL text must pass through")
    // overlapping duplicated grams union into one cut: a 6-token span
    // shared with doc 1's (5-token-extended) content cuts whole
    val longSpan = s"$span5 s6"
    val more = Seq((10L, s"x1 $longSpan x2"), (11L, s"y1 y2 $longSpan y3"))
      .toDF("doc_id", "text")
    val out2 = Dedup.repeatedSpanDedup(more, "text", "doc_id", k = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2(10L) === s"x1 $longSpan x2")
    assert(out2(11L) === "y1 y2 y3", s"overlapping windows must union: ${out2(11L)}")
  }

  test("L41b: span rebuild preserves CASE — identity is case-insensitive, surviving bytes are the originals") {
    val span = "S1 s2 S3 s4 S5" // mixed-case 5-token span
    val corpus = Seq(
      (1L, s"A1 a2 $span a3 A4"), // canonical carrier
      // case-VARIANT of the span: the lower-casing anchor tokenizer
      // gives it the same identity, so it must be cut — and the doc's
      // own surviving tokens must keep their original case (the
      // all-lowercase fixtures above could never catch a rebuild that
      // lower-cased cut documents)
      (2L, s"B1 b2 b3 ${span.toLowerCase} B4"),
      (3L, s"C1 $span c2"))
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpanDedup(corpus, "text", "doc_id", k = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === s"A1 a2 $span a3 A4", "untouched doc must stay byte-identical")
    assert(out(2L) === "B1 b2 b3 B4",
      s"case-variant span must cut and survivors keep case: ${out(2L)}")
    assert(out(3L) === "C1 c2", s"mixed-case span must cut keep-first: ${out(3L)}")
  }

  test("L39c: paragraph history writes are one-row-per-hash even from a NON-deduped corpus (bounded probe hits)") {
    val table = "t_pg_boot"
    Dedup.ParagraphHistory.drop(spark, table)
    try {
      // the footer paragraph appears in all three docs — a bootstrap
      // from this corpus used to store three occurrence rows for it,
      // making the probe's broadcast hit set grow with corpus
      // duplication instead of batch size
      val corpus = Seq(
        (3L, "own three\ncommon footer text"),
        (1L, "own one\ncommon footer text"),
        (2L, "own two\ncommon footer text"))
        .toDF("doc_id", "text")
      Dedup.writeParagraphHistory(corpus, "text", "doc_id", table, 4)
      val hist = spark.table(s"${table}_pg")
      assert(hist.count() === hist.select("__ph").distinct().count(),
        "history must hold each paragraph hash exactly once")
      // 3 own lines + 1 footer; the footer's stored canonical is the
      // MIN id (the family's keep-min), so the pid multiset is {1,1,2,3}
      assert(hist.count() === 4)
      val pids = hist.select("__pid").as[Long].collect().sorted.toSeq
      assert(pids === Seq(1L, 1L, 2L, 3L), s"stored pids: $pids")
      // probe: a fresh batch's footer copy dies, its own line survives
      val out = Dedup.paragraphIncrementalDelta(spark,
        Seq((9L, "fresh intro\ncommon footer text")).toDF("doc_id", "text"),
        table, "text", "doc_id")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out(9L) === "fresh intro")
      // same-id replay guard vs the stored canonical: the canonical
      // id's own footer survives the probe
      val replay = Dedup.paragraphIncrementalDelta(spark,
        Seq((1L, "common footer text")).toDF("doc_id", "text"),
        table, "text", "doc_id")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(replay(1L) === "common footer text")
    } finally Dedup.ParagraphHistory.drop(spark, table)
  }

  test("L39: paragraph history lifecycle — delta-visible probe, same-id replay, fold, auto-fold trigger") {
    val table = "t_pg_hist"
    Dedup.ParagraphHistory.drop(spark, table)
    try {
      val b0 = Seq(
        (1L, "seed intro one\ncommon footer text"),
        (2L, "seed intro two\nsecond body line"))
        .toDF("doc_id", "text")
      Dedup.ParagraphHistory.ensure(spark, table, b0.schema("doc_id"), 4)
      Dedup.appendParagraphHistoryDelta(spark, b0, "text", "doc_id", table, 0)
      def probe(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
        Dedup.paragraphIncrementalDelta(spark, df, table, "text", "doc_id")
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // BEFORE fold the probe must see the delta: the copied footer
      // dies, the fresh line survives; a doc of only-history
      // paragraphs drops entirely
      val b1 = Seq(
        (10L, "fresh ten line\ncommon footer text"),
        (11L, "common footer text\nseed intro one"))
        .toDF("doc_id", "text")
      val o1 = probe(b1)
      assert(o1 === Map(10L -> "fresh ten line"),
        s"delta-side paragraph identity missed: $o1")
      // same-id replay: the appended batch probing its own rows
      // rebuilds IDENTICAL docs, not empty ones
      val replay = probe(b0)
      assert(replay === Map(1L -> "seed intro one\ncommon footer text",
        2L -> "seed intro two\nsecond body line"),
        s"replay guard dropped a batch's own paragraphs: $replay")
      // fold, then the same probes hold against the bucketed main
      Dedup.ParagraphHistory.fold(spark, table)
      assert(spark.table(s"${table}_pg").count() === 4L)
      assert(probe(b1) === Map(10L -> "fresh ten line"),
        "post-fold paragraph identity missed")
      // auto-fold trigger: a new delta earns a fold at a tiny ratio,
      // and the trigger does not re-fire once folded
      Dedup.appendParagraphHistoryDelta(spark,
        Seq((20L, "late delta paragraph")).toDF("doc_id", "text"),
        "text", "doc_id", table, 1)
      assert(Dedup.ParagraphHistory.foldIfNeeded(spark, table, 1e-9))
      assert(!Dedup.ParagraphHistory.foldIfNeeded(spark, table, 1e-9))
      assert(probe(Seq((30L, "late delta paragraph\nbrand new line"))
        .toDF("doc_id", "text")) === Map(30L -> "brand new line"))
    } finally Dedup.ParagraphHistory.drop(spark, table)
  }

  test("L28b: audio history lifecycle — delta-visible banded probe, same-id replay, fold, undecodable passthrough") {
    import graft.operators.Multimodal
    val table = "t_aud_hist"
    def pcm(ids: Seq[Long]) = Multimodal.syntheticWavPcm16(
      ids.toDF("doc_id"), "doc_id").select($"doc_id", $"payload")
    def mulaw(pairs: Seq[(Long, Long)]) = Multimodal.syntheticWavMulawTone(
      pairs.toDF("doc_id", "__seed"), "__seed").select($"doc_id", $"payload")
    Dedup.AudioHistory.drop(spark, table)
    try {
      val b0 = ident(pcm(1L to 10L))
      Dedup.AudioHistory.ensure(spark, table, b0.schema("doc_id"), 4)
      Dedup.appendAudioHistoryDelta(spark, b0, "doc_id", table, 0)
      // BEFORE compaction the probe must see the delta: a LOSSY μ-law
      // re-encode of history clip 3 (a few Hamming bits away, not
      // equal) dies on the band join; fresh 20/21 survive
      val b1 = ident(pcm(Seq(20L, 21L)).unionByName(mulaw(Seq((103L, 3L)))))
      assert(ids(Dedup.audioIncrementalDelta(spark, b1, table, "doc_id"))
        === Set(20L, 21L), "delta-side lossy re-encode missed")
      // same-id replay: the original batch probing its own appended
      // signatures recomputes the identical (full) survivor set
      assert(ids(Dedup.audioIncrementalDelta(spark, b0, table, "doc_id"))
        === (1L to 10L).toSet, "replay guard dropped a batch's own rows")
      // fold, then the same probes hold against the bucketed main
      Dedup.AudioHistory.fold(spark, table)
      assert(spark.table(s"${table}_ab").count() === 10L * Dedup.AudioBands)
      assert(ids(Dedup.audioIncrementalDelta(spark, b1, table, "doc_id"))
        === Set(20L, 21L), "post-fold lossy re-encode missed")
      // undecodable payloads pass through (no identity), and the
      // within-batch cluster resolution keeps min id per re-encode pair
      val junk = Seq((300L, "not audio".getBytes)).toDF("doc_id", "payload")
      val batch = ident(pcm(Seq(30L)).unionByName(mulaw(Seq((130L, 30L))))
        .unionByName(junk))
      val within = Dedup.audioNearDupClusters(batch, "doc_id")
        .where($"doc_id" === $"cluster").select($"doc_id")
        .join(batch, Seq("doc_id"))
      assert(ids(within) === Set(30L, 300L), "within-batch keep-min or passthrough broke")
      assert(ids(Dedup.audioIncrementalDelta(spark, within, table, "doc_id"))
        === Set(30L, 300L))
    } finally Dedup.AudioHistory.drop(spark, table)
  }

  test("L30: video frame vote — shared-prefix clips pair on the shorter length, half-overlap stays distinct, copies never survive") {
    import graft.operators.Multimodal
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    def y4m(frames: Seq[Array[Byte]]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("YUV4MPEG2 W64 H32 F25:1 Cmono\n".getBytes(ascii))
      frames.foreach { f => out.write("FRAME\n".getBytes(ascii)); out.write(f) }
      out.toByteArray
    }
    def g(seed: Long, f: Int) = Multimodal.blockGray(seed, 64, 32, f, 32)
    val fA = (0 until 4).map(f => g(1L, f))
    val vids = Seq(
      (1L, y4m(fA)),                                  // A: 4 frames
      // B shares A's SUFFIX frames (aligned at idx 2,3) — 0.5 < 0.6;
      // sharing the prefix would legitimately chain through D (a clip
      // of the same prefix) under transitive resolution
      (2L, y4m(Seq(g(99L, 0), g(99L, 1)) ++ fA.drop(2))),
      (3L, y4m(fA.take(3) :+ g(77L, 0))),             // C: 3/4 shared (0.75 ≥ 0.6)
      (4L, y4m(fA.take(2))),                          // D: A's 2-frame prefix clip (2/2 of min)
      (5L, "not a video".getBytes))                   // no identity
      .toDF("doc_id", "payload")
    val clusters = Dedup.videoNearDupClusters(ident(vids), "doc_id",
        maxBucket = Int.MaxValue)
      .as[(Long, Long)].collect().toMap
    assert(clusters(2L) === 2L, "half-overlap must stay a distinct video")
    assert(clusters(3L) === 1L, "3/4-frame overlap must collapse")
    assert(clusters(4L) === 1L,
      "a prefix clip matches 100% of ITS OWN frames — the vote uses the shorter length")
    assert(clusters(5L) === 5L, "undecodable keeps itself")
    assert(clusters(1L) === 1L)
  }

  test("L30b: video history lifecycle — delta-visible vote probe, same-id replay, fold, missing-denominator crash window under-drops") {
    import graft.operators.{Layout, Multimodal}
    val table = "t_vid_hist"
    def y4m(ids: Seq[Long]) = Multimodal.syntheticY4mBlocks(
      ids.toDF("doc_id"), "doc_id", 64, 32, 4).select($"doc_id", $"payload")
    def mjpeg(pairs: Seq[(Long, Long)]) = Multimodal.syntheticAviMjpegBlocks(
      pairs.toDF("doc_id", "__seed"), "__seed", 64, 32, 4)
      .select($"doc_id", $"payload")
    Dedup.VideoHistory.drop(spark, table)
    try {
      val b0 = ident(y4m(1L to 10L))
      Dedup.VideoHistory.ensure(spark, table, b0.schema("doc_id"), 4)
      Dedup.appendVideoHistoryDelta(spark, b0, "doc_id", table, 0)
      // BEFORE compaction: the cross-container copy of history video 3
      // dies on the delta-side frame vote, fresh 20/21 survive
      val b1 = ident(y4m(Seq(20L, 21L)).unionByName(mjpeg(Seq((103L, 3L)))))
      assert(ids(Dedup.videoIncrementalDelta(spark, b1, table, "doc_id"))
        === Set(20L, 21L), "delta-side cross-container vote missed")
      // same-id replay: the batch probing its own appended frames
      // recomputes the identical survivor set
      assert(ids(Dedup.videoIncrementalDelta(spark, b0, table, "doc_id"))
        === (1L to 10L).toSet, "replay guard dropped a batch's own rows")
      // fold, probes hold against the bucketed mains
      Dedup.VideoHistory.fold(spark, table)
      assert(spark.table(s"${table}_vb").count() === 10L * 4 * Dedup.VideoBands)
      assert(spark.table(s"${table}_vn").count() === 10L)
      assert(ids(Dedup.videoIncrementalDelta(spark, b1, table, "doc_id"))
        === Set(20L, 21L), "post-fold vote missed")
      // crash window: band rows appended, vote denominators NOT (the
      // appendVideoHistoryDelta order) — the probe must UNDER-drop
      // (copy of 30 survives), never error or wrongly drop
      Dedup.appendVideoHistoryDelta(spark, ident(y4m(Seq(30L))), "doc_id", table, 1)
      val nDelta = new org.apache.hadoop.fs.Path(
        Layout.deltaDirOf(spark, s"${table}_vn"), "batch-1")
      nDelta.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(nDelta, true)
      val probe30 = ident(mjpeg(Seq((130L, 30L))).unionByName(y4m(Seq(40L))))
      assert(ids(Dedup.videoIncrementalDelta(spark, probe30, table, "doc_id"))
        === Set(130L, 40L),
        "missing vote denominator must under-drop, not error")
      // re-append (replay) completes the pair → the copy now dies
      Dedup.appendVideoHistoryDelta(spark, ident(y4m(Seq(30L))), "doc_id", table, 1)
      assert(ids(Dedup.videoIncrementalDelta(spark, probe30, table, "doc_id"))
        === Set(40L))
      // undecodable passthrough
      val junk = Seq((300L, "not video".getBytes)).toDF("doc_id", "payload")
      assert(ids(Dedup.videoIncrementalDelta(spark, ident(junk), table, "doc_id"))
        === Set(300L))
    } finally Dedup.VideoHistory.drop(spark, table)
  }

  test("history ensure: a video history with only `_vn` present gets `_vb` created, `_vn` untouched") {
    import graft.operators.{Layout, Multimodal}
    val table = "t_vid_half"
    def y4m(ids: Seq[Long]) = ident(Multimodal.syntheticY4mBlocks(
      ids.toDF("doc_id"), "doc_id", 64, 32, 4).select($"doc_id", $"payload"))
    Dedup.VideoHistory.drop(spark, table)
    try {
      val b0 = y4m(1L to 3L)
      Dedup.VideoHistory.ensure(spark, table, b0.schema("doc_id"), 4)
      Dedup.appendVideoHistoryDelta(spark, b0, "doc_id", table, 0)
      Dedup.VideoHistory.fold(spark, table)
      // the half-lost state: `_vb` gone with its location, `_vn` folded
      Layout.dropTableAndLocation(spark, s"${table}_vb")
      val counts = spark.table(s"${table}_vn").collect().map(_.toString).toSet
      assert(counts.size === 3)
      Dedup.VideoHistory.ensure(spark, table, b0.schema("doc_id"), 4)
      assert(spark.table(s"${table}_vb").count() === 0L, "_vb must be created empty")
      val spec = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(s"${table}_vb")).bucketSpec
      assert(spec.map(b => (b.numBuckets, b.bucketColumnNames)) ===
        Some((4, Seq("__fidx", "__band", "__bucket"))))
      assert(spark.table(s"${table}_vn").collect().map(_.toString).toSet === counts,
        "ensure must not touch the surviving `_vn`")
      // the created table takes the appends' rows: a later batch folds in
      Dedup.appendVideoHistoryDelta(spark, y4m(Seq(9L)), "doc_id", table, 1)
      Dedup.VideoHistory.fold(spark, table)
      assert(spark.table(s"${table}_vb").count() === 4L * Dedup.VideoBands)
      assert(spark.table(s"${table}_vn").count() === 4L)
    } finally Dedup.VideoHistory.drop(spark, table)
  }

  test("history fold-if-needed: a stale delta without its table folds nothing and does not throw") {
    import graft.streaming.StreamOps
    val table = "t_stale_delta"
    StreamOps.dropMixedHistory(spark, table)
    try {
      // an image delta with no `_ph` table — what a new session over an
      // old warehouse sees under the in-memory metastore, or a drop that
      // crashed between the table and its delta
      Seq((1L, 7L)).toDF("__pid", "__ph").write
        .parquet(s"${Layout.deltaDirOf(spark, s"${table}_ph")}/batch-0")
      assert(!spark.catalog.tableExists(s"${table}_ph"))
      val folded = StreamOps.maintainMixedHistories(spark, table)
      assert(!folded.contains("image"), s"folded: $folded")
    } finally StreamOps.dropMixedHistory(spark, table)
  }

  test("L23 auto-compaction: byte-ratio trigger folds when earned, probe's delta legs vanish, replay stays safe across an auto fold") {
    import graft.streaming.StreamOps
    import org.apache.hadoop.fs.Path
    val table = "t_autofold"
    val outDir = tmpDir("autofold_out")
    val hconf = spark.sparkContext.hadoopConfiguration
    Dedup.IntakeHistory.drop(spark, table)
    try {
      def docs(ids: Range) = ids.map(_.toLong).toDF("doc_id")
        .select($"doc_id", concat(lit("<p>"),
          array_join(transform(sequence(lit(0), lit(39)),
            i => concat(lit("tok"), $"doc_id", lit("w"), i)), " "),
          lit("</p>")).as("html"))
      def deltaDirs = Seq(table, s"${table}_sh", s"${table}_xh")
        .map(t => new Path(Layout.deltaDirOf(spark, t)))
      def anyDelta = deltaDirs.exists(p => p.getFileSystem(hconf).exists(p))
      // batch 0 against empty mains: the delta IS the corpus — any
      // positive ratio is exceeded, the fold fires immediately (cheap
      // early folds are intended), and a second call does not thrash
      StreamOps.mixedIntakeBatch(docs(0 until 300), 0L, table, 4,
        "html", "payload", "doc_id", outDir)
      assert(anyDelta, "append should land delta-side")
      assert(Dedup.IntakeHistory.foldIfNeeded(spark, table), "over-ratio delta must fold")
      assert(!anyDelta, "fold must clear every delta dir")
      assert(!Dedup.IntakeHistory.foldIfNeeded(spark, table), "empty delta must not re-fold")
      // a small batch against the now-large main stays UNDER the 10%
      // ratio: the policy leaves it delta-side (fold work not yet earned)
      StreamOps.mixedIntakeBatch(docs(300 until 310), 1L, table, 4,
        "html", "payload", "doc_id", outDir)
      assert(anyDelta)
      assert(!Dedup.IntakeHistory.foldIfNeeded(spark, table, maxDeltaRatio = 0.5),
        "a 10-doc delta over a 300-doc main must not trigger at ratio 0.5")
      // tightening the ratio models accumulated pressure → auto fold;
      // post-fold the probes' delta legs VANISH (they key on the dirs'
      // existence — absence is the recovered probe plan)
      assert(Dedup.IntakeHistory.foldIfNeeded(spark, table, maxDeltaRatio = 1e-9))
      assert(!anyDelta, "post-fold probes must be main-only")
      val survivors1 = spark.read.parquet(s"$outDir/batch-1")
        .select($"doc_id").as[Long].collect().sorted
      assert(survivors1 === (300L until 310L).toArray)
      // REPLAY across the auto-triggered fold: pointer rolled back, the
      // stream re-delivers batch 1 — the fold manifest suppresses the
      // re-append (batch 1's rows already live in the folded main), the
      // same-id probe exclusion keeps the survivor set identical, and
      // no delta state reappears
      val outP = new Path(outDir)
      outP.getFileSystem(hconf).delete(new Path(outP, "_LATEST"), false)
      assert(StreamOps.mixedIntakeBatch(docs(300 until 310), 1L, table, 4,
        "html", "payload", "doc_id", outDir))
      val replayed = spark.read.parquet(s"$outDir/batch-1")
        .select($"doc_id").as[Long].collect().sorted
      assert(replayed === survivors1, "replay across an auto fold changed the survivor set")
      assert(!anyDelta, "a folded batch's replay must not re-append delta rows")
    } finally Dedup.IntakeHistory.drop(spark, table)
  }

  test("L2b/L24: hamming at the full 64-bit window counts the sign bit; banding handles negative signatures") {
    import org.apache.spark.sql.functions.col
    val pairs = Seq(
      (0L, Long.MinValue),              // differ ONLY in bit 63
      (-1L, Long.MaxValue),             // same low 63 bits, sign differs
      (Long.MinValue, Long.MinValue))   // negative-equal
      .toDF("a", "b")
    val d64 = pairs.select(Dedup.hamming(col("a"), col("b"), bits = 64).as("h"))
      .as[Long].collect().toSeq
    assert(d64 === Seq(1L, 1L, 0L), s"64-bit window: $d64")
    // the 63-bit window must NOT see the sign bit (the old contract)
    val d63 = pairs.select(Dedup.hamming(col("a"), col("b"), bits = 63).as("h"))
      .as[Long].collect().toSeq
    assert(d63 === Seq(0L, 0L, 0L), s"63-bit window: $d63")
    // band join at bits=64 with negative sigs: a sign-bit-only pair is
    // within maxDist=3, so pigeonhole must surface it (top band is the
    // sign-carrying one — arithmetic shiftright plus mask must agree)
    val sigs = Seq((1L, Long.MinValue), (2L, 0L), (3L, -1L), (4L, Long.MaxValue))
      .toDF("doc_id", "sig")
    val cands = Dedup.simhashCandidatesOfSigs(sigs, "doc_id", "sig",
        maxDist = 3, nBands = 4, bits = 64, maxBucket = Int.MaxValue)
      .select($"id_a", $"id_b", $"hamming_dist").as[(Long, Long, Int)]
      .collect().toSet
    assert(cands === Set((1L, 2L, 1), (3L, 4L, 1)), s"got $cands")
    // ADVICE r11: a single 64-bit band would wrap `1L << 64` to 1,
    // zeroing the band mask — every signature in one bucket, which the
    // maxBucket cap then sidelines to ZERO candidates. Loud, not silent:
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashCandidatesOfSigs(sigs, "doc_id", "sig",
        maxDist = 0, nBands = 1, bits = 64, maxBucket = 1024)
    }
    assert(e.getMessage.contains("band"))
  }

  test("L4b: ANN top-k overlaps exact top-k (recall@10)") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.where($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val exact = Similarity.bruteForceTopK(queries, emb, 10)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopK(queries, emb, 10, nPlanes = 6)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = ann.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.3, f"ANN recall@10 $recall%.2f below floor")
    // every query still gets k results (buckets + multiprobe non-empty)
    assert(ann.groupBy(_._1).forall(_._2.size == 10))
  }

  test("L4c: IVF top-k overlaps exact top-k and returns k per query") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.where($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val exact = Similarity.bruteForceTopK(queries, emb, 10)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, emb, 10, nLists = 16, nProbe = 4)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.3, f"IVF recall@10 $recall%.2f below floor")
    assert(ivf.groupBy(_._1).forall(_._2.size == 10))
  }

  test("L4c: one Lloyd's iteration does not hurt recall (and is deterministic)") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.where($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val exact = Similarity.bruteForceTopK(queries, emb, 10)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
    def recallAt(iters: Int): Double = {
      val ivf = Similarity.ivfTopK(queries, emb, 10, nLists = 16, nProbe = 4,
          lloydIters = iters)
        .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
      ivf.intersect(exact).size.toDouble / exact.size
    }
    val r0 = recallAt(0); val r1 = recallAt(1)
    info(f"IVF recall@10: sampled=$r0%.3f refined(1 Lloyd)=$r1%.3f")
    assert(r1 >= r0, f"Lloyd's refinement degraded recall: $r0%.3f -> $r1%.3f")
    // integer-grid means: the refined index is a pure function of the
    // data, so a second run returns the identical result set
    val again = Similarity.ivfTopK(queries, emb, 10, nLists = 16, nProbe = 4,
        lloydIters = 1)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
    val first = Similarity.ivfTopK(queries, emb, 10, nLists = 16, nProbe = 4,
        lloydIters = 1)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
    assert(again === first, "refined IVF result set not reproducible")
  }

  test("L4c: centroid count tops up to nLists on a sparse corpus (ring-bucket fill)") {
    // 6 vectors, 16 requested lists: ring buckets can't all populate —
    // the id-order fill must still index every vector and return exact
    // top-k (every list has ≤1 vector, so probing nProbe=4 of 6 lists
    // that include the query's own planted copy is guaranteed)
    val six = (0 until 6).map(i =>
        (i.toLong, Seq.tabulate(8)(d => if (d == i) 1f else 0.01f * (i + d))))
      .toDF("vec_id", "embedding")
    val queries = six.where($"vec_id" < 2)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val ivf = Similarity.ivfTopK(queries, six, 1, nLists = 16, nProbe = 16,
        lloydIters = 0)
      .select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
    // with nProbe = nLists every list is probed: top-1 must be the query itself
    assert(ivf === Set((0L, 0L), (1L, 1L)),
      s"sparse-corpus IVF top-1 wrong: $ivf")
  }

  test("L4e: persisted IVF index returns exactly the per-call ivfTopK results") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.where($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    Similarity.dropIvfIndex(spark, "t_ivf_parity")
    Similarity.writeIvfIndex(spark, emb, "t_ivf_parity", nLists = 16, lloydIters = 1)
    try {
      def norm(df: org.apache.spark.sql.DataFrame) = df
        .select($"q_id", $"vec_id", $"rank").as[(Long, Long, Int)].collect().toSet
      val indexed = norm(
        Similarity.ivfTopKIndexed(spark, queries, "t_ivf_parity", k = 10, nProbe = 4))
      val perCall = norm(
        Similarity.ivfTopK(queries, emb, k = 10, nLists = 16, nProbe = 4, lloydIters = 1))
      assert(indexed === perCall,
        "persisted-index probe diverged from the per-call build (same deterministic quantizer)")
      // and a second probe of the SAME index is identical (no build state)
      assert(indexed === norm(
        Similarity.ivfTopKIndexed(spark, queries, "t_ivf_parity", k = 10, nProbe = 4)))
      // centroid-cache invalidation (r19): REBUILD the index over a
      // different corpus under the SAME table name — the probe must
      // see the new quantizer (generation key change), never a stale
      // cached copy from the build above
      val shifted = emb.select($"vec_id" + 100000,
        transform($"embedding", x => -x)).toDF("vec_id", "embedding")
      Similarity.writeIvfIndex(spark, shifted, "t_ivf_parity",
        nLists = 16, lloydIters = 1)
      val q2 = shifted.where($"vec_id" < 100010)
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
      val rebuilt = norm(
        Similarity.ivfTopKIndexed(spark, q2, "t_ivf_parity", k = 10, nProbe = 4))
      val rebuiltPerCall = norm(
        Similarity.ivfTopK(q2, shifted, k = 10, nLists = 16, nProbe = 4,
          lloydIters = 1))
      assert(rebuilt === rebuiltPerCall,
        "rebuilt-index probe diverged — stale cached centroids?")
    } finally Similarity.dropIvfIndex(spark, "t_ivf_parity")
  }

  test("L4f: appendToIvfIndex == frozen-quantizer rebuild; appended vectors probe-visible through pruning") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val emb = Tables.embeddings(spark, sf0001).select($"vec_id", $"embedding")
    val queries = emb.where($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val base = emb.where($"vec_id" % 7 =!= 3)
    val later = emb.where($"vec_id" % 7 === 3).unionByName(queries
      .select(($"q_id" + 500000).as("vec_id"), $"q_vec".as("embedding")))
    Similarity.dropIvfIndex(spark, "t_ivf_app")
    Similarity.writeIvfIndex(spark, base, "t_ivf_app", nLists = 16, lloydIters = 1)
    val writes = scala.collection.mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        writes.synchronized { writes += qe }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Similarity.appendToIvfDelta(spark, later, "t_ivf_app", batchId = 0)
      // 1) the delta write never read the EXISTING index and never
      //    shuffled — at 100 TB the append costs one batch pass, full
      //    stop. Listener events deliver async: poll with a deadline
      //    (the bus has no public flush).
      def capturedWrites() = writes.synchronized { writes.toList }
        .filter(_.executedPlan.toString.contains("InsertIntoHadoopFsRelation"))
      val deadline = System.currentTimeMillis + 30000
      while (capturedWrites().isEmpty && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      spark.listenerManager.unregister(listener)
      val writePlans = capturedWrites()
      assert(writePlans.nonEmpty, "no captured append write plan")
      writePlans.foreach { qe =>
        val p = qe.executedPlan
        assert(!p.toString.contains("t_ivf_app["),
          s"append write scanned the existing index:\n$p")
        val shuffles = p.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e }
        assert(shuffles.isEmpty, s"append write shuffled:\n$p")
      }
      assert(spark.table("t_ivf_app").count() === base.count(),
        "the delta append touched the main table")
      Similarity.compactIvfDelta(spark, "t_ivf_app")
      // 2) bit-parity with a frozen-quantizer rebuild: after the fold
      //    the table holds exactly the assignment of base∪later to the
      //    SAME centroids (the production claim — append ≡ rebuild as
      //    long as the quantizer is unchanged)
      val centRows = spark.table("t_ivf_app_centroids")
        .select($"list", $"centroid").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
      val cents = org.apache.spark.sql.functions.typedLit(centRows.toSeq)
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select($"vec_id", $"embedding", $"__list")
        .as[(Long, Seq[Float], Long)].collect().toSet
      val expected = rows(base.unionByName(later).select($"vec_id", $"embedding",
        Similarity.nearestAgainst(cents, $"embedding").as("__list")))
      assert(rows(spark.table("t_ivf_app")) === expected,
        "appended index diverged from the frozen-quantizer assignment")
      // 3) bucket spec survived the fold; probes still prune AND find
      //    the appended planted copies
      val spec = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("t_ivf_app")).bucketSpec
      assert(spec.exists(s => s.numBuckets == 16 && s.bucketColumnNames == Seq("__list")))
      val top = Similarity.ivfTopKIndexed(spark, queries, "t_ivf_app", k = 10, nProbe = 4)
      top.collect()
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(top.queryExecution.executedPlan.toString)
      assert(m.isDefined && m.get.group(2).toInt == 16,
        "post-append probe lost bucket pruning")
      val found = top.select($"q_id", $"vec_id").as[(Long, Long)].collect().toSet
      (0L until 5L).foreach { q =>
        assert(found.contains((q, q + 500000)),
          s"appended planted copy of query $q not surfaced")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      Similarity.dropIvfIndex(spark, "t_ivf_app")
    }
  }

  test("L4e: indexed probe prunes the corpus scan to the probed lists' bucket files") {
    // one query, nProbe=4 of 16 lists — the scan must read at most 4 of
    // the 16 bucket files (SelectedBucketsCount), not the whole corpus;
    // at 100 TB this pruning IS the point of persisting the index
    val emb = Tables.embeddings(spark, sf0001)
    val oneQ = emb.where($"vec_id" === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    Similarity.dropIvfIndex(spark, "t_ivf_prune")
    Similarity.writeIvfIndex(spark, emb, "t_ivf_prune", nLists = 16, lloydIters = 0)
    try {
      val top = Similarity.ivfTopKIndexed(spark, oneQ, "t_ivf_prune", k = 5, nProbe = 4)
      top.collect()
      val plan = top.queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(m.isDefined, s"no bucket pruning in the indexed probe plan:\n$plan")
      assert(m.get.group(1).toInt <= 4 && m.get.group(2).toInt == 16,
        s"expected <=4 of 16 buckets selected, got: ${m.get.matched}")
    } finally Similarity.dropIvfIndex(spark, "t_ivf_prune")
  }

  test("L4g: delta append is replay-idempotent, probe-visible, and compaction equals a direct append") {
    val emb = Tables.embeddings(spark, sf0001).select($"vec_id", $"embedding")
    val queries = emb.where($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val base = emb.where($"vec_id" % 7 =!= 3)
    val planted = queries.select(($"q_id" + 500000).as("vec_id"), $"q_vec".as("embedding"))
    val b0 = emb.where($"vec_id" % 7 === 3 && $"vec_id" % 2 === 0)
    val b1 = emb.where($"vec_id" % 7 === 3 && $"vec_id" % 2 === 1).unionByName(planted)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"q_id", $"vec_id", $"rank").as[(Long, Long, Int)].collect().toSet
    Similarity.dropIvfIndex(spark, "t_ivf_delta")
    Similarity.writeIvfIndex(spark, base, "t_ivf_delta", nLists = 16, lloydIters = 1)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val deltaPath = new org.apache.hadoop.fs.Path(
      Layout.deltaDirOf(spark, "t_ivf_delta"))
    try {
      Similarity.appendToIvfDelta(spark, b0, "t_ivf_delta", batchId = 0)
      Similarity.appendToIvfDelta(spark, b1, "t_ivf_delta", batchId = 1)
      // the main table was NOT touched: delta rows live beside it
      assert(spark.table("t_ivf_delta").count() === base.count())
      assert(fs.exists(deltaPath))
      // batches land in batch-<id>/ subdirs — recursive lookup to count
      def deltaCount() = spark.read.option("recursiveFileLookup", "true")
        .parquet(deltaPath.toString).count()
      assert(deltaCount() === b0.count() + b1.count())
      // REPLAY batch 1 (same content): identical delta, not a double-append
      Similarity.appendToIvfDelta(spark, b1, "t_ivf_delta", batchId = 1)
      assert(deltaCount() === b0.count() + b1.count())
      // probes see delta vectors immediately (planted copies surface)
      val preCompact = norm(
        Similarity.ivfTopKIndexed(spark, queries, "t_ivf_delta", k = 10, nProbe = 4))
      (0L until 5L).foreach { q =>
        assert(preCompact.exists(t => t._1 == q && t._2 == q + 500000),
          s"delta-appended planted copy of query $q not surfaced")
      }
      // compaction folds the delta in: same probe results, bucket spec
      // and pruning preserved, delta gone
      Similarity.compactIvfDelta(spark, "t_ivf_delta")
      assert(!fs.exists(deltaPath), "compaction left the delta behind")
      assert(spark.table("t_ivf_delta").count() === base.count() + b0.count() + b1.count())
      val spec = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("t_ivf_delta")).bucketSpec
      assert(spec.exists(s => s.numBuckets == 16 && s.bucketColumnNames == Seq("__list")))
      val post = Similarity.ivfTopKIndexed(spark, queries, "t_ivf_delta", k = 10, nProbe = 4)
      post.collect()
      assert(norm(post) === preCompact, "compaction changed probe results")
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(post.queryExecution.executedPlan.toString)
      assert(m.isDefined && m.get.group(2).toInt == 16,
        "post-compaction probe lost bucket pruning")
      // compaction with no delta is a no-op
      Similarity.compactIvfDelta(spark, "t_ivf_delta")
      assert(spark.table("t_ivf_delta").count() === base.count() + b0.count() + b1.count())
    } finally Similarity.dropIvfIndex(spark, "t_ivf_delta")
  }

  test("L4f/L4g job budget: index appends are ONE pass — drift stats ride the write via observe(), never a separate scan") {
    // r19 optimization pin (VERDICT r18 #2 follow-through): the delta
    // append previously persisted the batch and paid a (count, avg)
    // aggregate job before its write (4 jobs measured). It is now
    // exactly one job — the write. The budget leaves one-job headroom
    // for commit-protocol variation; a regression re-introducing a
    // batch-side scan lands above it.
    val vecs = (0L until 200L).map { i =>
      (i, Seq.tabulate(8)(j => if (j == (i % 4).toInt) 1f else 0.1f))
    }.toDF("vec_id", "embedding")
    val t = "t_ivf_jobpin"
    Similarity.dropIvfIndex(spark, t)
    Similarity.writeIvfIndex(spark, vecs.where($"vec_id" < 100), t,
      nLists = 4, numBuckets = 4)
    try {
      def countJobs(body: => Unit): Int = {
        val n = new java.util.concurrent.atomic.AtomicInteger
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            n.incrementAndGet(): Unit
        }
        spark.sparkContext.addSparkListener(l)
        // deterministic drain (ADVICE r19): a fixed sleep both slowed
        // the suite and could undercount on a loaded box
        try { body; org.apache.spark.graftshim.ListenerBridge
          .waitUntilEmpty(spark.sparkContext) }
        finally spark.sparkContext.removeSparkListener(l)
        n.get()
      }
      // warm the write/codegen paths so the measured calls are steady
      Similarity.appendToIvfDelta(spark, vecs.where($"vec_id" === 100), t, 0)
      val deltaJobs = countJobs {
        Similarity.appendToIvfDelta(spark,
          vecs.where($"vec_id" >= 101 && $"vec_id" < 150), t, batchId = 1)
      }
      assert(deltaJobs <= 2,
        s"appendToIvfDelta launched $deltaJobs jobs — the one-pass fusion regressed")
      assert(spark.read.parquet(s"${Layout.deltaDirOf(spark, t)}/batch-1")
        .count() === 49L, "the measured append did not land its batch")
    } finally Similarity.dropIvfIndex(spark, t)
  }

  test("L4h: aging policy — measured drift triggers a recluster with build parity and a reset baseline") {
    // base lives in span(e0, e1), so every centroid the build can
    // derive (samples and Lloyd means of base vectors) does too; the
    // shifted batch is orthogonal to that span and scores EXACTLY 0
    // against any such centroid — the drift arithmetic is closed-form
    // regardless of which vectors the deterministic sample picks
    val base = (0L to 19L).map { i =>
      (i, Seq.tabulate(8)(j => if (j == (i % 2).toInt) 1f else 0f))
    }.toDF("vec_id", "embedding")
    val shifted = (100L to 109L).map { i =>
      (i, Seq.tabulate(8)(j => if (j == 2 || j == 3) 1f else 0f))
    }.toDF("vec_id", "embedding")
    val t = "t_ivf_age"; val ref = "t_ivf_age_ref"
    Similarity.dropIvfIndex(spark, t)
    Similarity.dropIvfIndex(spark, ref)
    Similarity.writeIvfIndex(spark, base, t, nLists = 2, lloydIters = 1,
      numBuckets = 4)
    try {
      // freshly built: current tightness IS the baseline
      val a0 = Similarity.ivfAging(spark, t, tau = 0.05)
      assert(a0.builtRows === 20L && math.abs(a0.drift) < 1e-9 && !a0.drifted)
      // orthogonal batch: current mean = built * 20/30, drift = built/3
      Similarity.appendToIvfDelta(spark, shifted, t, batchId = 0)
      val a1 = Similarity.ivfAging(spark, t, tau = 0.05)
      assert(a1.currentRows === 30L)
      assert(math.abs(a1.currentMeanSim - a1.builtMeanSim * 20 / 30) < 1e-6,
        s"orthogonal-batch mean must be built*2/3: $a1")
      assert(a1.drifted, s"drift ${a1.drift} must exceed tau: $a1")
      val (report, ran) = Similarity.reclusterIfDrifted(spark, t, tau = 0.05)
      assert(ran && report.drifted)
      // the rebuild folded the delta and rewrote the whole index
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        Layout.deltaDirOf(spark, t))), "recluster left the delta behind")
      assert(spark.table(t).count() === 30L)
      // parity: recluster ≡ writeIvfIndex over the same content with
      // the same recorded parameters (deterministic quantizer)
      Similarity.writeIvfIndex(spark, base.unionByName(shifted), ref,
        nLists = 2, lloydIters = 1, numBuckets = 4)
      def cents(n: String) = spark.table(s"${n}_centroids")
        .select($"list", $"centroid").as[(Long, Seq[Float])].collect().toSet
      def assigned(n: String) = spark.table(n)
        .select($"vec_id", $"__list").as[(Long, Long)].collect().toSet
      assert(cents(t) === cents(ref), "recluster centroids diverged from fresh build")
      assert(assigned(t) === assigned(ref), "recluster assignments diverged")
      // baseline reset: measured against the NEW quantizer, no drift
      val a2 = Similarity.ivfAging(spark, t, tau = 0.05)
      assert(math.abs(a2.drift) < 1e-9 && !a2.drifted, s"stale baseline: $a2")
      // sampled read side (the 100 TB path): same baseline, fewer rows
      // measured, deterministic across re-reads of an unchanged index
      val s1 = Similarity.ivfAging(spark, t, tau = 0.05, sampleFraction = 0.5)
      val s2 = Similarity.ivfAging(spark, t, tau = 0.05, sampleFraction = 0.5)
      assert(s1 == s2, "seeded sample must be deterministic")
      assert(s1.currentRows <= 30L && s1.builtMeanSim == a2.builtMeanSim)
      assert(!Similarity.reclusterIfDrifted(spark, t, tau = 0.05)._2,
        "undrifted index must not rebuild")
      // probes stay exact: exhaustive probe (nProbe = nLists) over the
      // reclustered index equals brute force over the union
      val queries = Seq((0L, Seq.tabulate(8)(j => if (j == 0) 1f else 0f)),
        (1L, Seq.tabulate(8)(j => if (j == 2 || j == 3) 1f else 0f)))
        .toDF("q_id", "q_vec")
      def norm(df: org.apache.spark.sql.DataFrame) = df
        .select($"q_id", $"vec_id", $"rank").as[(Long, Long, Int)].collect().toSet
      assert(norm(Similarity.ivfTopKIndexed(spark, queries, t, k = 5, nProbe = 2))
        === norm(Similarity.bruteForceTopK(queries, base.unionByName(shifted), 5)),
        "post-recluster exhaustive probe diverged from brute force")
    } finally {
      Similarity.dropIvfIndex(spark, t)
      Similarity.dropIvfIndex(spark, ref)
    }
  }

  test("L4h: an interrupted recluster swap completes at re-entry") {
    val base = (0L to 19L).map { i =>
      (i, Seq.tabulate(8)(j => if (j == (i % 2).toInt) 1f else 0f))
    }.toDF("vec_id", "embedding")
    val t = "t_ivf_age_crash"
    Similarity.dropIvfIndex(spark, t)
    Similarity.writeIvfIndex(spark, base, t, nLists = 2, lloydIters = 1,
      numBuckets = 4)
    try {
      val before = spark.table(t)
        .select($"vec_id", $"__list").as[(Long, Long)].collect().toSet
      // plant the crash state "new generation committed to side tables,
      // crashed between drop-main and rename": both side tables hold
      // the (here: identical) new generation, the main table is gone
      Layout.writeBucketed(spark.table(t), s"${t}__recluster", Seq("__list"), 4)
      spark.table(s"${t}_centroids").write.format("parquet")
        .saveAsTable(s"${t}_centroids__next")
      Layout.dropTableAndLocation(spark, t)
      assert(!spark.catalog.tableExists(t))
      // harden the crash: the old main's directory survived the drop
      // (the two-step drop window) — recovery must clear it, or the
      // RENAME wedges moving the managed location onto it
      val fsH = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val staleH = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")), t)
      fsH.mkdirs(staleH)
      fsH.create(new org.apache.hadoop.fs.Path(staleH, "stale-orphan"), true).close()
      // re-entry completes BOTH swaps and rewrites the baseline
      Similarity.reclusterIvfIndex(spark, t)
      assert(spark.catalog.tableExists(t) &&
        spark.catalog.tableExists(s"${t}_centroids"))
      assert(!spark.catalog.tableExists(s"${t}__recluster") &&
        !spark.catalog.tableExists(s"${t}_centroids__next"),
        "recovery left swap halves behind")
      assert(spark.table(t)
        .select($"vec_id", $"__list").as[(Long, Long)].collect().toSet === before,
        "recovery changed the index content")
      val a = Similarity.ivfAging(spark, t, tau = 0.05)
      assert(a.builtRows === 20L && math.abs(a.drift) < 1e-9 && !a.drifted)
    } finally Similarity.dropIvfIndex(spark, t)
  }

  test("L4h: recluster re-entry recovers a crash inside its own compaction (__compact holds the only copy)") {
    val base = (0L to 19L).map { i =>
      (i, Seq.tabulate(8)(j => if (j == (i % 2).toInt) 1f else 0f))
    }.toDF("vec_id", "embedding")
    val delta = (20L to 24L).map { i =>
      (i, Seq.tabulate(8)(j => if (j == (i % 2).toInt) 1f else 0f))
    }.toDF("vec_id", "embedding")
    val t = "t_ivf_age_cmp_crash"
    val tmp = t + "__compact"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Similarity.dropIvfIndex(spark, t)
    Layout.dropTableAndLocation(spark, tmp)
    Similarity.writeIvfIndex(spark, base, t, nLists = 2, lloydIters = 1,
      numBuckets = 4)
    try {
      Similarity.appendToIvfDelta(spark, delta, t, batchId = 0)
      val deltaP = new org.apache.hadoop.fs.Path(Layout.deltaDirOf(spark, t))
      // plant the fold's own state C inside a recluster: tmp fully
      // written, commit record renamed, main dropped — the r10 code
      // hit the misleading "neither exists" require here; the fix
      // delegates to the fold protocol's re-entry first
      val cols = spark.table(t).columns.map(org.apache.spark.sql.functions.col)
      Layout.writeBucketed(
        spark.table(t).unionByName(
          spark.read.option("recursiveFileLookup", "true")
            .parquet(deltaP.toString).select(cols: _*)),
        tmp, Seq("__list"), 4, onePassPerBucket = true)
      fs.rename(deltaP, new org.apache.hadoop.fs.Path(deltaP.toString + "__folded"))
      Layout.dropTableAndLocation(spark, t)
      assert(!spark.catalog.tableExists(t) && spark.catalog.tableExists(tmp))
      Similarity.reclusterIvfIndex(spark, t)
      assert(spark.catalog.tableExists(t) && !spark.catalog.tableExists(tmp) &&
        !spark.catalog.tableExists(s"${t}__recluster") &&
        !spark.catalog.tableExists(s"${t}_centroids__next"),
        "recovery left swap halves behind")
      assert(spark.table(t).select($"vec_id").as[Long].collect().toSet
        === (0L to 24L).toSet, "recovered index lost or duplicated rows")
    } finally {
      Layout.dropTableAndLocation(spark, tmp)
      Similarity.dropIvfIndex(spark, t)
    }
  }

  test("L2h: band-history delta append is replay-idempotent, probe-visible, and compaction equals a direct append") {
    def doc(n: Int): String = (0 until 20).map(w => s"tok${n}w$w").mkString(" ")
    val table = "t_band_delta"; val ref = "t_band_delta_ref"
    val hist = (1 to 10).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    // delta batch: doc 11 near-dups history doc 1; 12-14 fresh
    val batchA = Seq((11L, doc(1) + " zz"), (12L, doc(12)), (13L, doc(13)),
      (14L, doc(14))).toDF("doc_id", "text")
    // probe batch: 21 near-dups MAIN doc 2, 22 near-dups DELTA doc 12,
    // 23 fresh — a correct probe must see both history legs
    val batchB = Seq((21L, doc(2) + " zz"), (22L, doc(12) + " zz"),
      (23L, doc(23))).toDF("doc_id", "text")
    def pairs(t: String) =
      Dedup.minhashIncremental(spark, batchB, t, "text", "doc_id")
        .where($"jaccard" >= 0.8)
        .select($"id_new", $"id_hist").as[(Long, Long)].collect().toSet
    Dedup.BandHistory.drop(spark, table)
    Dedup.BandHistory.drop(spark, ref)
    Dedup.writeBandHistory(hist, "text", "doc_id", table, numBuckets = 4)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def deltaP(t: String) = new org.apache.hadoop.fs.Path(
      graft.operators.Layout.deltaDirOf(spark, t))
    try {
      Dedup.appendBandHistoryDelta(spark, batchA, "text", "doc_id", table, batchId = 0)
      // REPLAY the same batch: overwrite-own-dir, not a double append
      Dedup.appendBandHistoryDelta(spark, batchA, "text", "doc_id", table, batchId = 0)
      def deltaCount(t: String) = spark.read
        .option("recursiveFileLookup", "true").parquet(deltaP(t).toString)
        .select($"doc_id").distinct().count()
      assert(deltaCount(table) === 4 && deltaCount(s"${table}_sh") === 4)
      // main tables untouched by the delta append
      assert(spark.table(table).select($"doc_id").distinct().count() === 10)
      // probe sees BOTH legs: the main pair and the delta pair
      val withDelta = pairs(table)
      assert(withDelta === Set((21L, 2L), (22L, 12L)),
        s"delta probe pairs: $withDelta")
      // parity: a twin history written DIRECTLY from history ∪ batch
      Dedup.writeBandHistory(hist.unionByName(batchA), "text", "doc_id", ref,
        numBuckets = 4)
      assert(pairs(ref) === withDelta,
        "delta-probe diverged from direct-write probe")
      // compaction folds both tables, preserves bucket spec, delta gone
      Dedup.BandHistory.fold(spark, table)
      assert(!fs.exists(deltaP(table)) && !fs.exists(deltaP(s"${table}_sh")))
      assert(spark.table(table).select($"doc_id").distinct().count() === 14)
      assert(spark.table(s"${table}_sh").select($"doc_id").distinct().count() === 14)
      for (t <- Seq(table, s"${table}_sh")) {
        val spec = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(t)).bucketSpec
        assert(spec.exists(_.numBuckets == 4), s"$t lost its bucket spec")
      }
      assert(pairs(table) === withDelta, "compaction changed probe results")
      // compaction with no delta is a no-op
      Dedup.BandHistory.fold(spark, table)
      assert(spark.table(table).select($"doc_id").distinct().count() === 14)
    } finally {
      Dedup.BandHistory.drop(spark, table)
      Dedup.BandHistory.drop(spark, ref)
    }
  }

  test("L2h: probe verifies through the _sh delta in the between-folds crash window") {
    def doc(n: Int): String = (0 until 20).map(w => s"tok${n}w$w").mkString(" ")
    val table = "t_band_window"
    val hist = (1 to 8).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val arrived = Seq((11L, doc(11)), (12L, doc(12))).toDF("doc_id", "text")
    val probeBatch = Seq((21L, doc(11) + " zz")).toDF("doc_id", "text")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Dedup.BandHistory.drop(spark, table)
    Dedup.writeBandHistory(hist, "text", "doc_id", table, numBuckets = 4)
    try {
      Dedup.appendBandHistoryDelta(spark, arrived, "text", "doc_id", table, batchId = 0)
      def pairs() = Dedup.minhashIncremental(spark, probeBatch, table,
          "text", "doc_id", maxBucket = Int.MaxValue)
        .where($"jaccard" >= 0.8)
        .select($"id_new", $"id_hist").as[(Long, Long)].collect().toSet
      assert(pairs() === Set((21L, 11L))) // both deltas live
      // simulate compactBandDelta dying between its two folds: the BAND
      // delta is folded into the main table, the _sh delta survives —
      // doc 11's band rows are now main-side but its shingles are
      // delta-side only; verification must coalesce across sources or
      // this pair silently vanishes
      Layout.foldDeltaIntoBucketed(spark, table)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(Layout.deltaDirOf(spark, table))))
      assert(fs.exists(new org.apache.hadoop.fs.Path(Layout.deltaDirOf(spark, s"${table}_sh"))))
      assert(pairs() === Set((21L, 11L)), "pair lost in the between-folds window")
      // re-running the compaction completes the job; probe unchanged
      Dedup.BandHistory.fold(spark, table)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(Layout.deltaDirOf(spark, s"${table}_sh"))))
      assert(pairs() === Set((21L, 11L)))
    } finally Dedup.BandHistory.drop(spark, table)
  }

  test("L2h: fold manifest — a batch replayed AFTER its fold is skipped, never duplicated") {
    def doc(n: Int): String = (0 until 20).map(w => s"tok${n}w$w").mkString(" ")
    val table = "t_band_manifest"
    val hist = (1 to 8).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val batch = Seq((11L, doc(11)), (12L, doc(12))).toDF("doc_id", "text")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def deltaP(t: String) = new org.apache.hadoop.fs.Path(Layout.deltaDirOf(spark, t))
    Dedup.BandHistory.drop(spark, table)
    Dedup.writeBandHistory(hist, "text", "doc_id", table, numBuckets = 4)
    try {
      Dedup.appendBandHistoryDelta(spark, batch, "text", "doc_id", table, batchId = 0)
      Dedup.BandHistory.fold(spark, table)
      assert(spark.table(s"${table}_sh").count() === 10)
      // the lost-checkpoint replay: the stream re-delivers batch 0 AFTER
      // the fold — without the manifest this would re-append, and the
      // NEXT fold would duplicate rows 11/12 in the main tables forever
      Dedup.appendBandHistoryDelta(spark, batch, "text", "doc_id", table, batchId = 0)
      assert(!fs.exists(deltaP(table)) && !fs.exists(deltaP(s"${table}_sh")),
        "replayed folded batch landed in the delta")
      Dedup.BandHistory.fold(spark, table) // would fold the duplicate in
      // one shingle row and bands(=4) band rows per doc — no duplicates
      assert(spark.table(s"${table}_sh").count() === 10)
      assert(spark.table(table).groupBy($"doc_id").count()
        .where($"count" =!= 4).count() === 0,
        "duplicated band rows after replay-after-fold")
      // a FRESH batch id still appends and folds normally
      val b1 = Seq((13L, doc(13))).toDF("doc_id", "text")
      Dedup.appendBandHistoryDelta(spark, b1, "text", "doc_id", table, batchId = 1)
      assert(fs.exists(deltaP(table)), "fresh batch wrongly skipped")
      Dedup.BandHistory.fold(spark, table)
      assert(spark.table(s"${table}_sh").count() === 11)
      // the manifest survives the folds: batch 0 AND 1 both marked
      assert(Layout.isBatchFolded(spark, table, 0) &&
        Layout.isBatchFolded(spark, table, 1))
    } finally Dedup.BandHistory.drop(spark, table)
  }

  test("L4g: fold manifest — a vector batch replayed after its fold is skipped (no double top-k slots)") {
    val emb = Tables.embeddings(spark, sf0001).select($"vec_id", $"embedding")
    val base = emb.where($"vec_id" < 400)
    val batch = emb.where($"vec_id" >= 400 && $"vec_id" < 450)
    val table = "t_ivf_manifest"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Similarity.dropIvfIndex(spark, table)
    Similarity.writeIvfIndex(spark, base, table, nLists = 8, lloydIters = 1)
    val deltaPath = new org.apache.hadoop.fs.Path(Layout.deltaDirOf(spark, table))
    try {
      Similarity.appendToIvfDelta(spark, batch, table, batchId = 0)
      Similarity.compactIvfDelta(spark, table)
      val n = spark.table(table).count()
      assert(n === base.count() + batch.count())
      // replay after the fold: skipped, nothing lands
      Similarity.appendToIvfDelta(spark, batch, table, batchId = 0)
      assert(!fs.exists(deltaPath), "folded batch re-appended")
      Similarity.compactIvfDelta(spark, table)
      assert(spark.table(table).count() === n,
        "replay-after-fold duplicated vectors in the index")
      // fresh batch id unaffected
      val b1 = emb.where($"vec_id" >= 450 && $"vec_id" < 460)
      Similarity.appendToIvfDelta(spark, b1, table, batchId = 1)
      assert(spark.read.parquet(s"$deltaPath/batch-1").count() === b1.count())
      Similarity.compactIvfDelta(spark, table)
      assert(spark.table(table).count() === n + b1.count())
    } finally Similarity.dropIvfIndex(spark, table)
  }

  test("L2h: a band-history rebuild starts a new generation — probes see only its rows, and a fresh batch 0 lands") {
    def doc(n: Int): String = (0 until 20).map(w => s"tok${n}w$w").mkString(" ")
    def docs(ids: Range) = ids.map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val table = "t_band_regen"
    // history ids matched by near-copies (fresh ids) of docs `ids`
    def hits(ids: Int*) = Dedup.minhashIncremental(spark,
        ids.map(i => (i + 1000L, doc(i) + " zz")).toDF("doc_id", "text"),
        table, "text", "doc_id")
      .where($"jaccard" >= 0.8).select($"id_hist").as[Long].collect().toSet
    Dedup.BandHistory.drop(spark, table)
    try {
      Dedup.writeBandHistory(docs(1 to 5), "text", "doc_id", table, numBuckets = 4)
      Dedup.appendBandHistoryDelta(spark, docs(6 to 8), "text", "doc_id", table, 0)
      Dedup.BandHistory.fold(spark, table) // batch 0 enters the fold manifest
      Dedup.appendBandHistoryDelta(spark, docs(9 to 10), "text", "doc_id", table, 1)
      assert(hits(1, 6, 9) === Set(1L, 6L, 9L))
      // rebuild over a disjoint set: the old generation's unfolded
      // delta must not answer probes
      Dedup.writeBandHistory(docs(21 to 25), "text", "doc_id", table, numBuckets = 4)
      assert(hits(1, 6, 9, 10, 21) === Set(21L),
        "the rebuild kept the previous generation's delta rows")
      // the new stream's batch 0 is not in the new generation's manifest
      Dedup.appendBandHistoryDelta(spark, docs(31 to 32), "text", "doc_id", table, 0)
      assert(hits(31, 32) === Set(31L, 32L),
        "a stale fold manifest skipped the new generation's batch 0")
    } finally Dedup.BandHistory.drop(spark, table)
  }

  test("L4g: an IVF rebuild starts a new generation — probes see only its rows, and a fresh batch 0 lands") {
    def vecs(ids: Range) = ids.map { i =>
      (i.toLong, Seq.tabulate(8)(j => ((i * 31 + j * 7) % 11 + 1).toFloat))
    }.toDF("vec_id", "embedding")
    val t = "t_ivf_regen"
    // every indexed id an exhaustive probe (nProbe = nLists, k > rows) returns
    def probed() = Similarity.ivfTopKIndexed(spark,
        vecs(0 until 1).select($"vec_id".as("q_id"), $"embedding".as("q_vec")),
        t, k = 100, nProbe = 2)
      .select($"vec_id").as[Long].collect().toSet
    def rows() = Similarity.ivfAging(spark, t).currentRows // main ∪ delta
    Similarity.dropIvfIndex(spark, t)
    try {
      Similarity.writeIvfIndex(spark, vecs(0 until 20), t, nLists = 2,
        lloydIters = 0, numBuckets = 4)
      Similarity.appendToIvfDelta(spark, vecs(100 until 105), t, batchId = 0)
      Similarity.compactIvfDelta(spark, t) // batch 0 enters the fold manifest
      Similarity.appendToIvfDelta(spark, vecs(200 until 205), t, batchId = 1)
      assert(rows() === 30L)
      // rebuild over a disjoint set: the old generation's delta rows,
      // assigned under the old centroids, must not survive it (list
      // pruning hides them from probes, but a fold would land them)
      Similarity.writeIvfIndex(spark, vecs(300 until 320), t, nLists = 2,
        lloydIters = 0, numBuckets = 4)
      assert(probed() === (300L until 320L).toSet)
      Similarity.compactIvfDelta(spark, t)
      assert(spark.table(t).count() === 20L,
        "the rebuild kept the previous generation's delta rows")
      // the new stream's batch 0 is not in the new generation's manifest
      Similarity.appendToIvfDelta(spark, vecs(400 until 405), t, batchId = 0)
      assert(rows() === 25L,
        "a stale fold manifest skipped the new generation's batch 0")
      assert(probed() === ((300L until 320L) ++ (400L until 405L)).toSet)
    } finally Similarity.dropIvfIndex(spark, t)
  }

  test("L4e: an IVF build over a training set with no usable vector fails loudly, naming the cause") {
    val t = "t_ivf_novec"
    val bad = Seq((1L, Seq.fill(8)(0f)), (2L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    Similarity.dropIvfIndex(spark, t)
    try {
      val e = intercept[IllegalArgumentException](
        Similarity.writeIvfIndex(spark, bad, t, nLists = 2, numBuckets = 4))
      assert(e.getMessage.contains("no usable vector"), e.getMessage)
    } finally Similarity.dropIvfIndex(spark, t)
  }

  test("L2h: a history id present in BOTH main and delta yields ONE candidate pair row") {
    def doc(n: Int): String = (0 until 20).map(w => s"tok${n}w$w").mkString(" ")
    val table = "t_band_redeliver"
    val hist = (1 to 8).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val d11 = Seq((11L, doc(11))).toDF("doc_id", "text")
    val probeBatch = Seq((21L, doc(11) + " zz")).toDF("doc_id", "text")
    Dedup.BandHistory.drop(spark, table)
    Dedup.writeBandHistory(hist, "text", "doc_id", table, numBuckets = 4)
    try {
      def rows() = Dedup.minhashIncremental(spark, probeBatch, table,
          "text", "doc_id", maxBucket = Int.MaxValue)
        .where($"jaccard" >= 0.8).select($"id_new", $"id_hist")
        .as[(Long, Long)].collect().toList
      // doc 11 redelivered by upstream in TWO delta batches (at-least-once
      // delivery the exact-dedup stage would normally absorb; the probe's
      // pair contract must hold even without it): one row, not two
      Dedup.appendBandHistoryDelta(spark, d11, "text", "doc_id", table, batchId = 0)
      Dedup.appendBandHistoryDelta(spark, d11, "text", "doc_id", table, batchId = 1)
      assert(rows() === List((21L, 11L)), "delta-side redelivery multiplied the pair")
      // fold ONE copy into main, redeliver delta-side again: the id now
      // lives in BOTH sources — cross-leg union and the two-source
      // shingle lookup must still emit exactly one row
      Dedup.BandHistory.drop(spark, table)
      Dedup.writeBandHistory(hist, "text", "doc_id", table, numBuckets = 4)
      Dedup.appendBandHistoryDelta(spark, d11, "text", "doc_id", table, batchId = 0)
      Dedup.BandHistory.fold(spark, table)
      Dedup.appendBandHistoryDelta(spark, d11, "text", "doc_id", table, batchId = 1)
      assert(rows() === List((21L, 11L)), "main+delta id multiplied the pair")
    } finally Dedup.BandHistory.drop(spark, table)
  }

  test("L4g: every interrupted-compaction crash state recovers without loss or duplication") {
    val emb = Tables.embeddings(spark, sf0001).select($"vec_id", $"embedding")
    val base = emb.where($"vec_id" < 400)
    val batch = emb.where($"vec_id" >= 400 && $"vec_id" < 450)
    val table = "t_ivf_crash"
    val tmp = table + "__compact"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def deltaP = new org.apache.hadoop.fs.Path(Layout.deltaDirOf(spark, table))
    def foldedP = new org.apache.hadoop.fs.Path(deltaP.toString + "__folded")
    def expected = base.count() + batch.count()
    def freshIndexWithDelta(): Unit = {
      Similarity.dropIvfIndex(spark, table)
      Layout.dropTableAndLocation(spark, tmp)
      fs.delete(deltaP, true); fs.delete(foldedP, true)
      // numBuckets pinned to nLists: the compactor folds under the
      // TABLE's spec, and checkFinal + mergedToTmp both assume 8
      Similarity.writeIvfIndex(spark, base, table, nLists = 8, lloydIters = 0,
        numBuckets = 8)
      Similarity.appendToIvfDelta(spark, batch, table, batchId = 0)
    }
    def mergedToTmp(): Unit = { // reproduce the compactor's tmp write
      val cols = spark.table(table).columns.map(org.apache.spark.sql.functions.col)
      Layout.writeBucketed(
        spark.table(table).unionByName(
          spark.read.option("recursiveFileLookup", "true")
            .parquet(deltaP.toString).select(cols: _*)),
        tmp, Seq("__list"), 8, onePassPerBucket = true)
    }
    def checkFinal(label: String): Unit = {
      assert(spark.table(table).count() === expected, s"$label: row count")
      assert(spark.table(table).select($"vec_id").distinct().count() === expected,
        s"$label: duplicated vectors")
      assert(!fs.exists(deltaP) && !fs.exists(foldedP), s"$label: leftover state")
      val spec = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).bucketSpec
      assert(spec.exists(_.numBuckets == 8), s"$label: bucket spec lost")
    }
    try {
      // state A: stale tmp from a mid-write crash, delta intact
      freshIndexWithDelta()
      Layout.writeBucketed(base.limit(3)
        .withColumn("__list", org.apache.spark.sql.functions.lit(0L)),
        tmp, Seq("__list"), 8)
      Similarity.compactIvfDelta(spark, table)
      checkFinal("state A (stale tmp)")
      // state B: crashed after the commit rename but BEFORE the swap —
      // tmp and main coexist, delta renamed to __folded
      freshIndexWithDelta()
      mergedToTmp()
      fs.rename(deltaP, foldedP)
      Similarity.compactIvfDelta(spark, table)
      checkFinal("state B (tmp+main+folded)")
      // state C: crashed between drop-main and rename — tmp is the only copy
      freshIndexWithDelta()
      mergedToTmp()
      fs.rename(deltaP, foldedP)
      Layout.dropTableAndLocation(spark, table)
      Similarity.compactIvfDelta(spark, table)
      checkFinal("state C (tmp only)")
      // state D: crashed after the swap, only the folded marker remains
      freshIndexWithDelta()
      mergedToTmp()
      fs.rename(deltaP, foldedP)
      Layout.dropTableAndLocation(spark, table)
      spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
      Similarity.compactIvfDelta(spark, table)
      checkFinal("state D (folded marker only)")
      // state E: crashed after the commit record (state B) and the
      // INGEST LOOP KEPT RUNNING — a new batch landed in the recreated
      // delta dir (and its pointer was flipped) before recovery ran;
      // recovery must MERGE the folded batches back beside it, not
      // delete the live dir (that would destroy a durably-acknowledged
      // batch)
      freshIndexWithDelta()
      mergedToTmp()
      fs.rename(deltaP, foldedP)
      val late = emb.where($"vec_id" >= 450 && $"vec_id" < 470)
      Similarity.appendToIvfDelta(spark, late, table, batchId = 1)
      Similarity.compactIvfDelta(spark, table)
      assert(spark.table(table).count() === expected + late.count(),
        "state E: post-crash batch lost by recovery")
      assert(spark.table(table).select($"vec_id").distinct().count()
        === expected + late.count(), "state E: duplicated vectors")
      assert(!fs.exists(deltaP) && !fs.exists(foldedP), "state E: leftover state")
      // state F: the old main's warehouse directory SURVIVED the drop
      // (dropTableAndLocation is two steps — DROP TABLE, then location
      // delete — and a durable-metastore DROP can also fail its FS
      // delete); recovery must clear the stale directory before the
      // RENAME or the catalog move wedges onto it
      freshIndexWithDelta()
      mergedToTmp()
      fs.rename(deltaP, foldedP)
      Layout.dropTableAndLocation(spark, table)
      val staleLoc = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")),
        table)
      fs.mkdirs(staleLoc)
      fs.create(new org.apache.hadoop.fs.Path(staleLoc, "stale-orphan"), true).close()
      Similarity.compactIvfDelta(spark, table)
      checkFinal("state F (stale main dir)")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table)).location.getPath,
        "stale-orphan")), "state F: stale orphan file survived into the new main")
    } finally {
      fs.delete(deltaP, true); fs.delete(foldedP, true)
      Layout.dropTableAndLocation(spark, tmp)
      Similarity.dropIvfIndex(spark, table)
    }
  }

  test("L2: a planted hot bucket (1k identical docs) is sidelined, planted near-dups still found") {
    // 1000 byte-identical boilerplate docs share every band signature —
    // uncapped, their bucket self-join is ~500k pairs in ONE task. With
    // the cap they contribute nothing, while a genuine near-dup pair in
    // normal content must still surface.
    val boiler = spark.range(0, 1000)
      .select($"id".as("doc_id"), lit("click here to unsubscribe from this mailing list").as("text"))
    val base = Seq(
      (2000L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2001L, "the quick brown fox jumps over the lazy dog again and again today zzextra"),
      (3000L, "completely unrelated text about distributed query engines and shuffles"))
      .toDF("doc_id", "text")
    val aug = boiler.unionByName(base)
    val mh = Dedup.minhashCandidates(aug, "text", "doc_id", maxBucket = 100)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(mh.contains((2000L, 2001L)), "capped minhash lost the genuine near-dup pair")
    assert(!mh.exists(p => p._1 < 1000 && p._2 < 1000), "hot-bucket pairs not sidelined")
    val sh = Dedup.simhashCandidates(aug, "text", "doc_id", maxDist = 3, maxBucket = 100)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(!sh.exists(p => p._1 < 1000 && p._2 < 1000), "simhash hot-bucket pairs not sidelined")
  }

  test("L2h: incremental near-dedup — full ingest loop against a persisted band history") {
    import graft.operators.Dedup
    // six pairwise-unrelated documents (each ~16 tokens: trigram Jaccard
    // across any two is far below 0.8; a 1-token suffix copy is ~0.93)
    val sents = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank while birds sing",
      "distributed query engines shuffle partitions across executors and prune columns at the columnar scan layer",
      "a watermark bounds state growth in streaming joins so the store evicts rows once event time passes",
      "bucketed tables join without exchanges because both sides already share the same hash partitioning on disk",
      "minhash signatures approximate jaccard similarity by taking minima of permuted shingle hashes per band",
      "sequence packing lays documents into fixed token windows per shard without any global cumulative sum")
    val history = sents.take(4).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    Dedup.BandHistory.drop(spark, "t_incr_hist")
    Dedup.writeBandHistory(history, "text", "doc_id", "t_incr_hist", numBuckets = 4)

    // batch 1: a near-dup of history doc 3 plus a genuinely fresh doc
    val batch1 = Seq((103L, sents(3) + " zzextra"), (200L, sents(4))).toDF("doc_id", "text")
    val cands1 = Dedup.minhashIncremental(spark, batch1, "t_incr_hist", "text", "doc_id",
        maxBucket = Int.MaxValue)
      .select($"id_new", $"id_hist", $"jaccard").collect()
    assert(cands1.exists(r => r.getLong(0) == 103L && r.getLong(1) == 3L && r.getDouble(2) >= 0.8),
      s"planted near-dup (103, 3) not found: ${cands1.mkString(",")}")
    assert(!cands1.exists(r => r.getLong(0) == 200L && r.getDouble(2) >= 0.8),
      "fresh doc spuriously matched history")
    val surv1 = Dedup.nearDedupIncremental(spark, batch1, "t_incr_hist", "text", "doc_id")
    assert(surv1.select($"doc_id").as[Long].collect().toSet === Set(200L))

    // rewrite the history with the survivors; batch 2 must now dedup
    // against them too (materialized first: surv1 reads the table)
    Dedup.writeBandHistory(history.unionByName(surv1).localCheckpoint(),
      "text", "doc_id", "t_incr_hist", numBuckets = 4)
    val batch2 = Seq((300L, sents(4) + " zzextra"), (400L, sents(5))).toDF("doc_id", "text")
    val surv2 = Dedup.nearDedupIncremental(spark, batch2, "t_incr_hist", "text", "doc_id")
    assert(surv2.select($"doc_id").as[Long].collect().toSet === Set(400L),
      "batch-2 near-dup of an APPENDED doc not dropped — append broke the loop")

    // parity: incremental pairs == cross-side pairs of batch-mode LSH over
    // (current history ∪ batch2), including the verified jaccard values
    val curHist = history.unionByName(surv1)
    val inc = Dedup.minhashIncremental(spark, batch2, "t_incr_hist", "text", "doc_id",
        maxBucket = Int.MaxValue)
      .select($"id_hist", $"id_new", $"jaccard").as[(Long, Long, Double)].collect().toSet
    val batchMode = Dedup.minhashCandidates(curHist.unionByName(batch2), "text", "doc_id",
        maxBucket = Int.MaxValue)
      .where($"id_a" < 300L && $"id_b" >= 300L) // cross-side pairs only
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    assert(inc === batchMode, s"incremental != batch-mode cross pairs: $inc vs $batchMode")
    Dedup.BandHistory.drop(spark, "t_incr_hist")
  }

  test("L2h: compaction drops deleted docs' bands; probes match a fresh build, bucket spec preserved") {
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val sents = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank while birds sing",
      "distributed query engines shuffle partitions across executors and prune columns at the columnar scan layer",
      "a watermark bounds state growth in streaming joins so the store evicts rows once event time passes",
      "bucketed tables join without exchanges because both sides already share the same hash partitioning on disk",
      "minhash signatures approximate jaccard similarity by taking minima of permuted shingle hashes per band")
    val corpus = sents.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    Dedup.BandHistory.drop(spark, "t_cmp_hist")
    Dedup.BandHistory.drop(spark, "t_cmp_fresh")
    Dedup.writeBandHistory(corpus, "text", "doc_id", "t_cmp_hist", numBuckets = 4)
    // docs 3 and 4 are deleted from the corpus; compact to the survivors
    val survivors = corpus.where($"doc_id" < 3)
    Dedup.compactBandHistory(spark, "t_cmp_hist", survivors, "doc_id")
    try {
      // dead ids are really gone from BOTH tables
      assert(spark.table("t_cmp_hist").where($"doc_id" >= 3).count() === 0L)
      assert(spark.table("t_cmp_hist_sh").where($"doc_id" >= 3).count() === 0L)
      // bucket spec preserved on both tables
      for (t <- Seq("t_cmp_hist", "t_cmp_hist_sh")) {
        val spec = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(t)).bucketSpec
        assert(spec.exists(_.numBuckets == 4), s"$t lost its bucket spec")
      }
      // a batch near-duplicating a DELETED doc (4) and a surviving doc
      // (1): the probe of the compacted history equals a fresh build
      // over the survivors — the deleted doc cannot resurface
      val batch = Seq((104L, sents(4) + " zzextra"), (101L, sents(1) + " zzextra"))
        .toDF("doc_id", "text")
      Dedup.writeBandHistory(survivors, "text", "doc_id", "t_cmp_fresh", numBuckets = 4)
      def probe(table: String) = Dedup.minhashIncremental(spark, batch, table,
          "text", "doc_id", maxBucket = Int.MaxValue)
        .select($"id_new", $"id_hist", $"jaccard").as[(Long, Long, Double)]
        .collect().toSet
      val compacted = probe("t_cmp_hist")
      assert(compacted === probe("t_cmp_fresh"),
        "compacted history diverged from a fresh build over the survivors")
      assert(compacted.exists(p => p._1 == 101L && p._2 == 1L && p._3 >= 0.8))
      assert(!compacted.exists(_._1 == 104L), "deleted doc resurfaced as a duplicate")
      // zero-exchange probe property survives the rewrite (the l02h pin)
      def pathTo(p: SparkPlan, pred: SparkPlan => Boolean): Option[List[SparkPlan]] =
        if (pred(p)) Some(List(p))
        else p.children.iterator.flatMap(c => pathTo(c, pred)).nextOption().map(p :: _)
      val conf = spark.conf
      val oldAqe = conf.get("spark.sql.adaptive.enabled")
      val oldB = conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val plan = Dedup.minhashIncremental(spark, batch, "t_cmp_hist",
          "text", "doc_id").queryExecution.executedPlan
        for (table <- Seq("t_cmp_hist", "t_cmp_hist_sh")) {
          val path = pathTo(plan,
              p => p.children.isEmpty && p.toString.contains(s"default.$table["))
            .getOrElse(fail(s"no scan of $table in plan:\n$plan"))
          val joinIdx = path.lastIndexWhere(_.nodeName.toLowerCase.contains("join"))
          assert(joinIdx >= 0)
          assert(!path.drop(joinIdx + 1).exists(_.isInstanceOf[ShuffleExchangeLike]),
            s"exchange above $table after compaction")
        }
      } finally {
        conf.set("spark.sql.adaptive.enabled", oldAqe)
        conf.set("spark.sql.autoBroadcastJoinThreshold", oldB)
      }
      // crash recovery: simulate dying between drop-old and rename (the
      // table exists ONLY as the orphaned __compact tmp) — a re-run must
      // complete the swap, not drop the only copy as "stale"
      val expectRows = spark.table("t_cmp_hist").orderBy($"doc_id", $"__band")
        .collect()
      spark.sql("ALTER TABLE `t_cmp_hist` RENAME TO `t_cmp_hist__compact`")
      Dedup.compactBandHistory(spark, "t_cmp_hist", survivors, "doc_id")
      assert(spark.catalog.tableExists("t_cmp_hist") &&
        !spark.catalog.tableExists("t_cmp_hist__compact"))
      assert(spark.table("t_cmp_hist").orderBy($"doc_id", $"__band").collect()
        === expectRows, "recovered compaction lost or mutated rows")
      assert(probe("t_cmp_hist") === compacted)
    } finally {
      Dedup.BandHistory.drop(spark, "t_cmp_hist")
      Dedup.BandHistory.drop(spark, "t_cmp_fresh")
    }
  }

  test("L1: NULL texts all pass through exact dedup (not merged as duplicates)") {
    val df = Seq((1L, "same"), (2L, "same"), (3L, null), (4L, null), (5L, null))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").select("doc_id").as[Long].collect().sorted
    assert(out === Array(1L, 3L, 4L, 5L)) // one of the dups, ALL the nulls
  }

  test("L1: NULL-text rows are routed AROUND the window exchange (no NULL mega-partition)") {
    // a mostly-NULL corpus: routed through the window (the old shape),
    // every NULL row lands in the single NULL-hash partition — one
    // straggler task at scale. The window's input must be filtered to
    // non-NULL texts BEFORE its exchange.
    import org.apache.spark.sql.execution.window.WindowExec
    // parquet-backed, not a local Seq: ConvertToLocalRelation would fold
    // the isnotnull filter into the LocalTableScan and hide it from the
    // plan assertion below (the production shape IS a file scan)
    val path = tmpDir("nulldedup")
    (1L to 100L).map(i => (i, if (i % 2 == 0) null else s"t${i % 5}"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(path)
    val out = Dedup.exact(spark.read.parquet(path), "text", "doc_id")
    out.collect()
    val wins = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(out.queryExecution.executedPlan) { case w: WindowExec => w }
    assert(wins.nonEmpty, s"no WindowExec in plan:\n${out.queryExecution.executedPlan}")
    wins.foreach { w =>
      assert(w.child.toString.contains("isnotnull(text"),
        s"window input is not pre-filtered to non-NULL texts:\n${w.child}")
    }
  }

  test("L15: token budget keeps an exact per-group prefix, monotone in budget") {
    import graft.operators.Sampling
    val docs = (1L to 200L).map(i => (i, s"g${i % 3}", (i % 17 + 1))).toDF("id", "g", "n")
    def kept(budget: Long, df: org.apache.spark.sql.DataFrame = docs) =
      Sampling.tokenBudget(df, "id", "n", "g", budget)
        .select($"id").as[Long].collect().toSet
    val k100 = kept(100); val k500 = kept(500)
    assert(k100.subsetOf(k500), "larger budget must be a superset")
    assert(kept(0) === Set.empty)
    // partitioning-invariant (pure function of the data)
    assert(k500 === kept(500, docs.repartition(7)))
    // exact prefix: kept ids are the first ones in ring order per group
    // and the next doc in ring order would blow the budget
    val P = 2147483647L
    def ring(id: Long) = (((id % P) * 2654435761L) + 104729L) % P
    for (g <- Seq("g0", "g1", "g2")) {
      val inGroup = (1L to 200L).filter(i => s"g${i % 3}" == g)
        .sortBy(i => (ring(i), i))
      val toks = inGroup.map(i => (i % 17 + 1)).scanLeft(0L)(_ + _).tail
      val expected = inGroup.zip(toks).takeWhile(_._2 <= 500).map(_._1).toSet
      assert(k500.intersect(inGroup.toSet) === expected, s"group $g not an exact prefix")
    }
  }

  test("L15b: sharded token budget packs a single hot group across N independent windows") {
    import graft.operators.Sampling
    // ONE group (the hot-language shape), 400 docs
    val docs = (1L to 400L).map(i => (i, "en", (i % 13 + 1))).toDF("id", "g", "n")
    val out = Sampling.tokenBudgetSharded(docs, "id", "n", "g", budget = 800, nShards = 4)
    val keptIds = out.select($"id").as[Long].collect().toSet
    val P = 2147483647L
    def ring(id: Long) = (((id % P) * 2654435761L) + 104729L) % P
    def shard(id: Long) = ring(id) % 4
    // per shard: exact prefix in ring order under budget/nShards = 200
    val byShard = (1L to 400L).groupBy(shard)
    assert(byShard.size == 4, "fixture must populate all 4 shards")
    for ((sh, ids) <- byShard) {
      val ordered = ids.sortBy(i => (ring(i), i))
      val cum = ordered.map(i => (i % 13 + 1).toLong).scanLeft(0L)(_ + _).tail
      val expected = ordered.zip(cum).takeWhile(_._2 <= 200).map(_._1).toSet
      assert(keptIds.intersect(ids.toSet) === expected, s"shard $sh not an exact prefix")
      assert(expected.nonEmpty, s"shard $sh contributed nothing — not parallel packing")
    }
    // global budget respected
    val total = out.agg(org.apache.spark.sql.functions.sum($"n")).as[Long].collect().head
    assert(total <= 800)
    // deterministic under repartitioning
    val again = Sampling.tokenBudgetSharded(docs.repartition(7), "id", "n", "g",
      budget = 800, nShards = 4).select($"id").as[Long].collect().toSet
    assert(again === keptIds)
    // budget < nShards degrades gracefully via remainder distribution
    // (budget/nShards would floor to 0 and silently keep NOTHING):
    // 3 of the 4 shards get budget 1, and with 1-token docs exactly 3 survive
    val unit = (1L to 400L).map(i => (i, "en", 1)).toDF("id", "g", "n")
    val small = Sampling.tokenBudgetSharded(unit, "id", "n", "g", budget = 3, nShards = 4)
    assert(small.count() === 3)
  }

  test("L15: budget operators keep caller columns named __shard/__cum intact") {
    import graft.operators.Sampling
    // fixed temp names would silently overwrite these and then drop them
    val docs = (1L to 50L).map(i => (i, "en", 2, s"keep$i", s"also$i"))
      .toDF("id", "g", "n", "__shard", "__cum")
    val out = Sampling.tokenBudgetSharded(docs, "id", "n", "g", budget = 1000, nShards = 2)
    assert(out.columns.toSeq === Seq("id", "g", "n", "__shard", "__cum"))
    assert(out.select($"__shard").as[String].collect().forall(_.startsWith("keep")))
    val out2 = Sampling.tokenBudget(docs, "id", "n", "g", 1000)
    assert(out2.columns.toSeq === Seq("id", "g", "n", "__shard", "__cum"))
    assert(out2.count() === 50)
  }

  test("L1b: incremental dedup drops seen texts, keeps fresh and NULL ones") {
    val hist = Seq((1L, "aa"), (2L, "bb"), (3L, null)).toDF("doc_id", "text")
    val nb = Seq((10L, "aa"), (11L, "cc"), (12L, null)).toDF("doc_id", "text")
    val out = Dedup.exactIncremental(nb, hist, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    // "aa" was seen → dropped; "cc" is fresh; NULL is never a duplicate
    // of anything (including history's NULL) — same contract as exact()
    assert(out === Array(11L, 12L))
  }

  test("L1 family: caller columns named __h/__rn survive every dedup form intact") {
    // the temp hash/rank columns must uniquify around caller columns of
    // the same name (the saltedJoin/tokenBudget hygiene rule)
    val hist = Seq((1L, "aa", "kh", 7), (2L, "bb", "kh2", 8)).toDF("doc_id", "text", "__h", "__rn")
    val nb = Seq((10L, "aa", "keep", 5), (11L, "cc", "keep2", 6)).toDF("doc_id", "text", "__h", "__rn")
    for (out <- Seq(Dedup.exactIncremental(nb, hist, "text", "doc_id"),
        Dedup.exactIncrementalProbe(nb, hist, "text", "doc_id"))) {
      assert(out.columns.toSeq === Seq("doc_id", "text", "__h", "__rn"))
      assert(out.select($"doc_id", $"__h", $"__rn").as[(Long, String, Int)]
        .collect().toSet === Set((11L, "keep2", 6)))
    }
    val ex = Dedup.exact(nb.unionByName(nb.select($"doc_id" + 100 as "doc_id",
      $"text", $"__h", $"__rn")), "text", "doc_id")
    assert(ex.columns.toSeq === Seq("doc_id", "text", "__h", "__rn"))
    assert(ex.select($"doc_id").as[Long].collect().sorted === Array(10L, 11L))
  }

  test("L1c: broadcastable-batch probe form agrees exactly with the shuffle form") {
    // same NULL contract on the toy frame...
    val hist = Seq((1L, "aa"), (2L, "bb"), (3L, null)).toDF("doc_id", "text")
    val nb = Seq((10L, "aa"), (11L, "cc"), (12L, null)).toDF("doc_id", "text")
    assert(Dedup.exactIncrementalProbe(nb, hist, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted === Array(11L, 12L))
    // ...and row-for-row parity with exactIncremental on a real corpus
    // split (seen / fresh / NULL-text rows all present)
    val batch = docs.where($"doc_id" % 3 === 0)
      .select(($"doc_id" + 300000).as("doc_id"),
        when($"doc_id" % 6 === 0, $"text")
          .otherwise(concat($"text", lit(" fresh"))).as("text"))
    val probe = Dedup.exactIncrementalProbe(batch, docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    val shuffleForm = Dedup.exactIncremental(batch, docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(probe === shuffleForm)
  }

  test("L4: a zero-norm embedding never outranks real neighbors (NaN filtered)") {
    val emb = Tables.embeddings(spark, sf0001)
      .unionByName(Seq((999999L, Seq.empty[Float], 0))
        .toDF("vec_id", "embedding", "label"))
    val queries = emb.where($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val top = Similarity.bruteForceTopK(queries, emb, 5)
      .select($"vec_id").as[Long].collect().toSet
    assert(!top.contains(999999L))
  }

  test("L4: NULL scores (null embedding / null array element) are dropped, not a crash") {
    val base = Tables.embeddings(spark, sf0001)
    val nullEmb = Seq((999998L, null.asInstanceOf[Seq[Float]], 0))
      .toDF("vec_id", "embedding", "label")
    // a genuine null ELEMENT (parquet lists are containsNull=true); put
    // it at index 0 so the common-prefix cosine loop actually reads it
    val nullElem = base.limit(1).select(lit(999999L).as("vec_id"),
      concat(array(lit(null).cast("float")), slice($"embedding", 2, 1000)).as("embedding"),
      lit(0).as("label"))
    val emb = base.unionByName(nullEmb).unionByName(nullElem)
    val queries = emb.where($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val top = Similarity.bruteForceTopK(queries, emb, 5)
      .select($"vec_id").as[Long].collect().toSet
    assert(!top.contains(999998L) && !top.contains(999999L))
  }

  test("L2c: zero-norm vectors never surface as near-dup pairs (NaN guard)") {
    // Spark orders NaN greater than any double, so `cos_sim >= t` alone
    // would emit every zero-vector bucket-mate pair; the operator's
    // isnan guard must exclude them while identical unit vectors pair up
    val df = Seq(
      (1L, Seq.fill(4)(0.0f)), (2L, Seq.fill(4)(0.0f)),
      (3L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), (4L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("id", "vec")
    val pairs = Dedup.embeddingNearDups(df, "vec", "id",
      nPlanes = 4, threshold = 0.9, maxBucket = Int.MaxValue)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((3L, 4L)), s"identical unit vectors must pair: $pairs")
    assert(!pairs.exists(p => p._1 <= 2L || p._2 <= 2L),
      s"zero-norm vectors surfaced as near-dups: $pairs")
  }

  test("L9c: deterministic shuffle order is invariant under input partitioning") {
    import graft.operators.Sampling
    val ids = docs.select($"doc_id")
    val a = Sampling.deterministicShuffle(ids, "doc_id")
      .select($"doc_id").as[Long].collect()
    val b = Sampling.deterministicShuffle(ids.repartition(7), "doc_id")
      .select($"doc_id").as[Long].collect()
    assert(a.length > 0 && a.sameElements(b),
      "shuffle order changed with input partitioning")
    // and it is a real shuffle: not the natural id order
    assert(!a.sameElements(a.sorted), "shuffle key left ids in natural order")
  }

  test("L9: hash split is stable under repartitioning; strata keep their fractions") {
    import graft.operators.Sampling
    val docs10 = docs.repartition(10)
    val docs3 = docs.repartition(3)
    def trainSet(df: org.apache.spark.sql.DataFrame) =
      Sampling.hashSplit(df, "doc_id", 80).where($"split" === "train")
        .select($"doc_id").as[Long].collect().toSet
    // partitioning must not change ANY row's split (randomSplit fails this)
    assert(trainSet(docs10) === trainSet(docs3))
    // train + eval partition the corpus
    val split = Sampling.hashSplit(docs, "doc_id", 80)
    assert(split.count() === docs.count())
    assert(split.where($"split" === "train").count() +
      split.where($"split" === "eval").count() === docs.count())
    // stratified sampleBy respects per-stratum fractions (seeded)
    val strat = Sampling.stratifiedSample(
      docs.withColumn("stratum", ($"doc_id" % 2 === 0).cast("string")),
      "stratum", Map("true" -> 0.5, "false" -> 0.1), seed = 42L)
    val n = docs.count().toDouble
    val kept = strat.groupBy($"stratum").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(kept("true") / (n / 2) - 0.5) < 0.15, kept.toString)
    assert(math.abs(kept("false") / (n / 2) - 0.1) < 0.1, kept.toString)
  }

  test("L18: mixture composition tracks integer weights, upsamples by whole tagged epochs, deterministic") {
    import graft.operators.Sampling
    def src(m: Int) = docs.where($"doc_id" % 3 === m)
    val sources = Seq((src(0), 2L, "web"), (src(1), 3L, "code"), (src(2), 5L, "books"))
    def run() = Sampling.mixCorpora(sources, "doc_id", totalRows = 1000)
      .select($"source", $"epoch", $"doc_id").as[(String, Long, Long)].collect()
    val mix = run()
    val bySource = mix.groupBy(_._1)
    for ((df, w, name) <- sources) {
      val n = df.count()
      val target = 1000L * w / 10L
      val full = target / n
      val rows = bySource.getOrElse(name, Array.empty)
      // n*full rows from whole epochs + a hash-cut of ~target%n: the
      // count tracks the integer target up to ring lumpiness
      assert(math.abs(rows.length - target) <= math.max(4L, n / 5),
        s"$name: ${rows.length} rows vs target $target (n=$n)")
      // every WHOLE epoch replicates the complete source, tagged 0..full-1
      for (e <- 0L until full)
        assert(rows.count(_._2 == e) === n, s"$name epoch $e incomplete")
      // the fractional epoch is a strict subset
      assert(rows.count(_._2 == full) < n, s"$name fractional epoch not partial")
      assert(rows.forall(_._2 <= full))
    }
    assert(mix.sorted === run().sorted) // pure function of the inputs
    intercept[IllegalArgumentException] { // duplicate names
      Sampling.mixCorpora(Seq((src(0), 1L, "a"), (src(1), 1L, "a")), "doc_id", 10)
    }
    intercept[IllegalArgumentException] { // mismatched schemas
      Sampling.mixCorpora(
        Seq((src(0).select($"doc_id"), 1L, "a"), (src(1), 1L, "b")), "doc_id", 10)
    }
    intercept[IllegalArgumentException] { // all-zero weights
      Sampling.mixCorpora(Seq((src(0), 0L, "a")), "doc_id", 10)
    }
  }

  test("L29: semantic dedup — paraphrase-class perturbations collapse, orthogonal vectors and sidelined clusters keep themselves") {
    // two tight semantic groups plus REAL perturbed paraphrases (not
    // the l29 row's exactly-scaled copies): cos(v, v+ε) ≈ 0.995
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val vecs = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(0.99, 0.1, 0, 0)),   // group A + paraphrase
      (3L, v(0, 1, 0, 0)), (4L, v(0.05, 0.995, 0.05, 0)), // group B + paraphrase
      (5L, v(0, 0, 1, 0)),                               // isolated
      (6L, v(0, 0, 0, 0)))                               // zero-norm: NaN, never pairs
      .toDF("vec_id", "embedding")
    val clusters = Similarity.semanticDupClusters(vecs, tau = 0.95,
        nLists = 2, maxCluster = Int.MaxValue)
      .as[(Long, Long)].collect().toMap
    assert(clusters(2L) === 1L && clusters(4L) === 3L,
      s"paraphrases must join their originals: $clusters")
    assert(clusters(1L) === 1L && clusters(3L) === 3L &&
      clusters(5L) === 5L && clusters(6L) === 6L, s"$clusters")
    // sidelined clusters (maxCluster=1) go quadratic nowhere: every
    // vector keeps itself — the LSH hot-bucket discipline
    val sidelined = Similarity.semanticDupClusters(vecs, tau = 0.95,
        nLists = 2, maxCluster = 1)
      .as[(Long, Long)].collect()
    assert(sidelined.forall { case (id, c) => id === c }, sidelined.toSeq)
  }

  test("L29: indexed semantic dedup reuses the persisted frozen quantizer — same clusters as the ad-hoc pass") {
    val emb = Tables.embeddings(spark, sf0001).select($"vec_id", $"embedding")
    val aug = emb.unionByName(emb.where($"vec_id" % 9 === 0)
      .select(($"vec_id" + 50000).as("vec_id"),
        transform($"embedding", x => (x * lit(2.0f)).cast("float")).as("embedding")))
    val adhoc = Similarity.semanticDupClusters(aug, tau = 0.95,
        nLists = 8, maxCluster = Int.MaxValue)
      .as[(Long, Long)].collect().toMap
    Similarity.dropIvfIndex(spark, "l29_sem_ivf")
    Similarity.writeIvfIndex(spark, aug, "l29_sem_ivf", nLists = 8, lloydIters = 1)
    val indexed = Similarity.semanticDupClustersIndexed(spark, aug,
        "l29_sem_ivf", tau = 0.95, maxCluster = Int.MaxValue)
      .as[(Long, Long)].collect().toMap
    assert(indexed === adhoc, "frozen-quantizer dedup diverged from ad hoc")
    // every planted scaled copy collapsed onto its original
    aug.where($"vec_id" >= 50000).select($"vec_id").as[Long].collect()
      .foreach(id => assert(indexed(id) === id - 50000, s"copy $id kept"))
    Similarity.dropIvfIndex(spark, "l29_sem_ivf")
  }

  test("L29b: embedding history lifecycle — delta-visible probe, same-id replay, fold, no-identity passthrough, hot-list sideline") {
    val table = "t_emb_hist"
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    def x2(a: Array[Float]) = a.map(_ * 2.0f)
    val e1 = v(1, 0, 0, 0); val e2 = v(0, 1, 0, 0)
    val e3 = v(0, 0, 1, 0); val e4 = v(0, 0, 0, 1)
    val v5 = v(1, 1, 0, 0); val v6 = v(1, 0, 1, 0) // cos 0.5-0.71 to axes
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select($"vec_id").as[Long].collect().toSet
    Similarity.dropIvfIndex(spark, table)
    try {
      val b0 = Seq((1L, e1), (2L, e2), (3L, e3), (4L, e4))
        .toDF("vec_id", "embedding")
      Similarity.writeIvfIndex(spark, b0, table, nLists = 1)
      val b5 = Seq((5L, v5), (6L, v6)).toDF("vec_id", "embedding")
      Similarity.appendToIvfDelta(spark, b5, table, batchId = 0)
      // BEFORE compaction the probe must see the delta: a 2x copy of
      // delta vector 5 (bit-identical cosines) dies, fresh 20 survives
      val b1 = Seq((20L, v(0, 1, 1, 0)), (105L, x2(v5)))
        .toDF("vec_id", "embedding")
      assert(ids(Similarity.semanticIncrementalDelta(spark, b1, table, 0.95))
        === Set(20L), "delta-side history identity missed")
      // same-id replay: appended batches probing their own history rows
      // recompute the identical (full) survivor set
      assert(ids(Similarity.semanticIncrementalDelta(spark,
        b0.unionByName(b5), table, 0.95)) === (1L to 6L).toSet,
        "replay guard dropped a batch's own rows")
      // fold, then the same probes hold against the bucketed main
      Similarity.compactIvfDelta(spark, table)
      assert(spark.table(table).count() === 6L)
      assert(ids(Similarity.semanticIncrementalDelta(spark, b1, table, 0.95))
        === Set(20L), "post-fold history identity missed")
      // no-identity passthrough (zero-norm → NaN, null → no list) and
      // within-batch keep-min under the frozen quantizer
      val batch = Seq((30L, v(0, 1, 0, 1)), (130L, x2(v(0, 1, 0, 1))),
          (300L, v(0, 0, 0, 0)), (301L, null.asInstanceOf[Array[Float]]))
        .toDF("vec_id", "embedding")
      val within = Similarity.semanticDupClustersIndexed(spark, batch,
          table, tau = 0.95)
        .where($"vec_id" === $"cluster").select($"vec_id")
        .join(batch, Seq("vec_id"))
      assert(ids(within) === Set(30L, 300L, 301L),
        "within-batch keep-min or passthrough broke")
      assert(ids(Similarity.semanticIncrementalDelta(spark, within, table, 0.95))
        === Set(30L, 300L, 301L))
      // hot-list sideline under-drops (members pass through): two
      // history copies in one over-cap list both survive
      val flood = Seq((105L, x2(v5)), (106L, x2(v6)))
        .toDF("vec_id", "embedding")
      assert(ids(Similarity.semanticIncrementalDelta(spark, flood, table,
        0.95, maxList = 1)) === Set(105L, 106L),
        "sideline must pass members through, not drop them")
    } finally Similarity.dropIvfIndex(spark, table)
  }

  test("A4 claim: approx_count_distinct within rsd bound of exact") {
    val o = Tables.orders(spark, sf0001)
    val exact = o.agg(countDistinct($"o_custkey")).as[Long].head()
    val approx = o.agg(approx_count_distinct($"o_custkey", 0.01)).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"approx=$approx exact=$exact")
  }
}
