package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators and their plain-Scala oracles. Nothing here
  * touches Spark: every expected outcome follows from how the input was
  * built (an original survives, a planted copy or a low-quality stub
  * does not; a CDC key holds its last change), so the oracle never
  * re-implements the engine's algorithms. */
object Gen {

  /** SHA-256 over everything a workload generated, in generation order. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = if (s != null) md.update(s.getBytes("UTF-8"))
    def add(b: Array[Byte]): Unit = if (b != null) md.update(b)
    def add(v: Long): Unit = {
      var i = 0
      while (i < 8) { md.update((v >>> (8 * i)).toByte); i += 1 }
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / tot }
    }
    def sample(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ------------------------------------------------------------------
  // Text documents
  // ------------------------------------------------------------------

  object Kind extends Enumeration {
    val Original, ExactCopy, NearCopy, StubShort, StubPii, StubLorem, StubBrace = Value
    def isCopy(k: Value): Boolean = k == ExactCopy || k == NearCopy
  }

  /** One generated text document: its html and how it was planted. */
  final case class TextDoc(id: Long, html: String, kind: Kind.Value)

  /** Body of an original document: content paragraphs plus the extra
    * lines (a JavaScript notice, a cookie notice) every copy repeats. */
  private final case class Body(paras: Vector[String], extras: Vector[String])

  /** Web-page text over a Zipfian vocabulary: function words at the head
    * (so the Gopher stop-word rule holds), then consonant-vowel
    * pseudo-words. Documents are one to three paragraphs, 70 to 320
    * words; the page wraps them in navigation, footer, script and style
    * blocks that boilerplate extraction must remove. */
  final class TextGen(seed: Long) {
    private val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    private val function = Vector("the", "of", "and", "to", "in", "a", "is",
      "that", "with", "for", "be", "have", "as", "on", "was", "it", "by",
      "from", "at", "this", "are", "or", "an", "which", "their", "has",
      "were", "not", "but", "all", "one", "they", "more", "can", "will")
    private val vocab: Vector[String] = {
      val cons = "bdfgklmnprstvz"; val vows = "aeiou"
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      val vr = new SplittableRandom(seed + 101)
      while (seen.size < 24000) {
        val syl = 2 + vr.nextInt(3)
        val sb = new StringBuilder
        (0 until syl).foreach { _ =>
          sb += cons(vr.nextInt(cons.length)); sb += vows(vr.nextInt(vows.length))
        }
        if (vr.nextInt(3) == 0) sb += cons(vr.nextInt(cons.length))
        seen += sb.toString
      }
      function ++ seen.toVector
    }
    private val zipf = new Zipf(vocab.size, 1.05)

    private def sentence(): String = {
      val n = 7 + rng.nextInt(10)
      val ws = (0 until n).map { i =>
        val w = vocab(zipf.sample(rng))
        val w1 = if (i == 0) w.capitalize else w
        if (i < n - 1 && rng.nextInt(14) == 0) w1 + "," else w1
      }
      ws.mkString(" ") + "."
    }

    private def paragraph(words: Int): String = {
      val b = ArrayBuffer.empty[String]
      var have = 0
      while (have < words) { val s = sentence(); b += s; have += s.count(_ == ' ') + 1 }
      b.mkString(" ")
    }

    private def email(): String = {
      val u = vocab(function.size + rng.nextInt(4000))
      val h = vocab(function.size + rng.nextInt(4000))
      s"$u.${rng.nextInt(100)}@$h.org"
    }

    /** A fresh original body: 70-320 words over 1-3 paragraphs,
      * sometimes one e-mail address (masked by the PII gate, never
      * dropped) and sometimes notice lines that C4 line surgery removes. */
    private def body(): Body = {
      val words = (70 * math.exp(rng.nextDouble() * math.log(320.0 / 70))).toInt
      val np = 1 + rng.nextInt(3)
      val paras = Vector.tabulate(np)(_ => paragraph(math.max(40, words / np)))
      val withPii =
        if (rng.nextInt(5) == 0) {
          val p = paras.last
          val cut = p.indexOf(". ", p.length / 2)
          val mail = s" Write to ${email()} with questions about this page."
          if (cut < 0) paras.init :+ (p + mail)
          else paras.init :+ (p.substring(0, cut + 1) + mail + p.substring(cut + 1))
        } else paras
      val extras = Vector(
        if (rng.nextInt(3) == 0)
          Some("Please enable javascript in your browser to read the comments below.") else None,
        if (rng.nextInt(4) == 0)
          Some("This site uses cookies so that every visit is faster and safer.") else None).flatten
      Body(withPii, extras)
    }

    private def page(paras: Seq[String], extras: Seq[String]): String = {
      val site = rng.nextInt(50)
      val nav = (0 until 3 + rng.nextInt(4)).map(i =>
        s"""<a href="/s$site/$i">${vocab(function.size + rng.nextInt(500)).capitalize}</a>""")
        .mkString(" ")
      val ps = (paras ++ extras).map(p => s"<p>$p</p>").mkString("\n")
      s"""<!DOCTYPE html><html><head><title>Site $site</title>""" +
        s"""<style>p{margin:0 0 1em}</style><script>var cfg={site:$site};</script>""" +
        s"""</head><body><nav>$nav</nav>\n<article>\n$ps\n</article>\n""" +
        s"""<footer><a href="/privacy">Privacy policy</a> <a href="/terms">Terms of use</a>""" +
        s""" <a href="/s$site/about">About</a></footer></body></html>"""
    }

    /** Near copy: every paragraph's first sentence upper-cased (the
      * lower-cased word shingles are unchanged, every paragraph's bytes
      * differ), or for a one-paragraph body one word appended. The notice
      * lines after the content are dropped by C4, so the appended word
      * ends the cleaned text: one new shingle, Jaccard n/(n+1). */
    private def nearOf(b: Body): Seq[String] =
      if (b.paras.size == 1 && rng.nextBoolean()) Seq(b.paras.head + " Indeed.")
      else b.paras.map { p =>
        val end = p.indexOf(". ") match { case -1 => p.length; case i => i }
        p.substring(0, end).toUpperCase + p.substring(end)
      }

    private val pool = ArrayBuffer.empty[Body] // surviving originals, oldest first
    private val poolCap = 20000

    /** One batch of `n` documents with ids `base + i`: 80% originals,
      * 12% exact or near copies (half of this batch, half of history),
      * 8% stubs that only the C4, Gopher and PII gates remove. Originals
      * take the lowest ids so an in-batch copy never out-ranks its source. */
    def batch(base: Long, n: Int): Vector[TextDoc] = {
      val nCopy = n * 12 / 100
      val nStub = n * 8 / 100
      val nOrig = n - nCopy - nStub
      val origs = Vector.fill(nOrig)(body())
      val docs = ArrayBuffer.empty[TextDoc]
      origs.zipWithIndex.foreach { case (b, i) =>
        docs += TextDoc(base + i, page(b.paras, b.extras), Kind.Original)
      }
      var next = base + nOrig
      (0 until nCopy).foreach { c =>
        // half the copies come from history, half from this batch
        val fromHistory = pool.nonEmpty && c % 2 == 0
        val src =
          if (fromHistory) pool(pool.size - 1 - rng.nextInt(math.min(pool.size, poolCap)))
          else origs(rng.nextInt(origs.size))
        val exact = rng.nextBoolean()
        val paras = if (exact) src.paras else nearOf(src)
        docs += TextDoc(next, page(paras, src.extras),
          if (exact) Kind.ExactCopy else Kind.NearCopy)
        next += 1
      }
      (0 until nStub).foreach { s =>
        val kind = Kind(Kind.StubShort.id + s % 4)
        val paras = kind match {
          case Kind.StubShort => Seq(sentence() + " " + sentence())
          case Kind.StubPii => body().paras.take(1).map(p =>
            p + (0 until 6).map(_ => s" Mail ${email()} now.").mkString)
          case Kind.StubLorem => body().paras.take(1).map(p =>
            p + " Lorem ipsum dolor sit amet, consectetur adipiscing elit.")
          case _ => body().paras.take(1).map(p => p + " The template shows {title} here.")
        }
        docs += TextDoc(next, page(paras, Nil), kind)
        next += 1
      }
      pool ++= origs
      if (pool.size > poolCap) pool.remove(0, pool.size - poolCap)
      shuffle(docs.toVector)
    }

    private def shuffle[T](v: Vector[T]): Vector[T] = {
      val a = ArrayBuffer.from(v)
      var i = a.size - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
      }
      a.toVector
    }
  }

  // ------------------------------------------------------------------
  // Binary payloads and embeddings (five-family intake)
  // ------------------------------------------------------------------

  /** One mixed-intake row: exactly one of html / payload / emb is set. */
  final case class MixedRow(id: Long, html: String, payload: Array[Byte],
      emb: Array[Float], kind: Kind.Value)

  private def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def ascii(s: String) = s.getBytes("US-ASCII")

  /** A gray raster of 9x8 constant cells (one per dHash grid cell), so
    * the 64 gradient bits are independent coin flips per image. */
  final case class Raster(w: Int, h: Int, luma: Array[Byte])
  private val CellW = 8; private val CellH = 8
  def raster(rng: SplittableRandom): Raster = {
    val w = 9 * CellW; val h = 8 * CellH
    val cells = Array.fill(72)(rng.nextInt(256))
    val px = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { px(y * w + x) = cells((y / CellH) * 9 + x / CellW).toByte; x += 1 }
      y += 1
    }
    Raster(w, h, px)
  }

  def ppm(r: Raster): Array[Byte] = {
    val out = new Array[Byte](r.w * r.h * 3)
    var i = 0
    while (i < r.luma.length) {
      out(3 * i) = r.luma(i); out(3 * i + 1) = r.luma(i); out(3 * i + 2) = r.luma(i); i += 1
    }
    ascii(s"P6\n${r.w} ${r.h}\n255\n") ++ out
  }

  /** The same pixels as a 24-bit bottom-up BMP: a re-encode of `ppm`. */
  def bmp(r: Raster): Array[Byte] = {
    val row = (r.w * 3 + 3) / 4 * 4
    val data = new Array[Byte](row * r.h)
    var y = 0
    while (y < r.h) {
      val dst = (r.h - 1 - y) * row
      var x = 0
      while (x < r.w) {
        val v = r.luma(y * r.w + x)
        data(dst + 3 * x) = v; data(dst + 3 * x + 1) = v; data(dst + 3 * x + 2) = v
        x += 1
      }
      y += 1
    }
    ascii("BM") ++ le32(54 + data.length) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(r.w) ++ le32(r.h) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(data.length) ++ le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0) ++ data
  }

  /** 17 frames of 256 samples at 8 kHz; per frame, one tone in each
    * wavelet band the fingerprint reads, with independent random
    * log-amplitudes, so every fingerprint bit is a fresh coin flip. */
  def tone(rng: SplittableRandom): Array[Short] = {
    val frame = 256; val n = 17 * frame
    val out = new Array[Short](n)
    val bands = Array((40.0, 200.0), (280.0, 480.0), (560.0, 960.0), (1100.0, 1900.0))
    var f = 0
    while (f < 17) {
      val fr = bands.map { case (lo, hi) => lo + rng.nextDouble() * (hi - lo) }
      val amp = bands.map(_ => math.pow(10, 2.0 + rng.nextDouble() * 1.8))
      var i = 0
      while (i < frame) {
        val t = (f * frame + i) / 8000.0
        var v = 0.0
        var b = 0
        while (b < 4) { v += amp(b) * math.sin(2 * math.Pi * fr(b) * t); b += 1 }
        out(f * frame + i) = math.max(-32768L, math.min(32767L, math.round(v))).toShort
        i += 1
      }
      f += 1
    }
    out
  }

  /** 16-bit PCM WAV; `stereo` duplicates the channel (a re-encode whose
    * channel mix decodes to the identical mono signal). */
  def wav(samples: Array[Short], stereo: Boolean): Array[Byte] = {
    val ch = if (stereo) 2 else 1
    val data = new Array[Byte](samples.length * 2 * ch)
    var i = 0
    while (i < samples.length) {
      var c = 0
      while (c < ch) {
        val o = (i * ch + c) * 2
        data(o) = (samples(i) & 0xff).toByte; data(o + 1) = ((samples(i) >> 8) & 0xff).toByte
        c += 1
      }
      i += 1
    }
    ascii("RIFF") ++ le32(36 + data.length) ++ ascii("WAVE") ++ ascii("fmt ") ++
      le32(16) ++ le16(1) ++ le16(ch) ++ le32(8000) ++ le32(8000 * 2 * ch) ++
      le16(2 * ch) ++ le16(16) ++ ascii("data") ++ le32(data.length) ++ data
  }

  /** Y4M video of independent random frames; `c420` adds neutral chroma
    * planes (a re-encode with the same luma as the mono stream). */
  def y4m(frames: Seq[Raster], c420: Boolean): Array[Byte] = {
    val r0 = frames.head
    val head = ascii(s"YUV4MPEG2 W${r0.w} H${r0.h} F25:1 Ip A1:1 ${if (c420) "C420jpeg" else "Cmono"}\n")
    val chroma = if (c420) Array.fill[Byte](2 * (r0.w / 2) * (r0.h / 2))(128.toByte)
      else Array.emptyByteArray
    head ++ frames.flatMap(f => ascii("FRAME\n") ++ f.luma ++ chroma)
  }

  val EmbDim = 16

  /** Mixed rows: text (as [[TextGen]] plants it), images (PPM; BMP
    * re-encodes), audio (mono WAV; stereo re-encodes), video (mono Y4M;
    * 4:2:0 re-encodes) and
    * embeddings (Gaussian; 2.5x-scaled copies, negated controls that
    * must survive). Copies come half from this batch, half from history. */
  final class MixedGen(seed: Long) {
    private val rng = new SplittableRandom(seed * 0xBF58476D1CE4E5B9L + 5)
    private val text = new TextGen(seed + 7)
    private val images = ArrayBuffer.empty[Raster]
    private val clips = ArrayBuffer.empty[Array[Short]]
    private val videos = ArrayBuffer.empty[Seq[Raster]]
    private val vectors = ArrayBuffer.empty[Array[Float]]
    private val cap = 4000

    private def pick[T](hist: ArrayBuffer[T], batch: ArrayBuffer[T], c: Int): T =
      if (hist.nonEmpty && c % 2 == 0) hist(hist.size - 1 - rng.nextInt(math.min(hist.size, cap)))
      else batch(rng.nextInt(batch.size))

    private def keep[T](hist: ArrayBuffer[T], fresh: ArrayBuffer[T]): Unit = {
      hist ++= fresh
      if (hist.size > cap) hist.remove(0, hist.size - cap)
    }

    def batch(base: Long, n: Int): Vector[MixedRow] = {
      val rows = ArrayBuffer.empty[MixedRow]
      def add(html: String, payload: Array[Byte], emb: Array[Float], kind: Kind.Value): Unit =
        rows += MixedRow(base + rows.size, html, payload, emb, kind)
      val nText = n * 20 / 100
      val nImg = n * 25 / 100; val nAud = n * 20 / 100; val nVid = n * 12 / 100
      val nEmb = n - nText - nImg - nAud - nVid
      def split(k: Int) = (k - k / 5, k / 5) // 80% originals, 20% copies
      // text: originals first (lowest ids), then copies and low-quality stubs
      text.batch(base, nText).sortBy(_.id).foreach(d => add(d.html, null, null, d.kind))
      val (iO, iC) = split(nImg)
      val im = ArrayBuffer.fill(iO)(raster(rng))
      im.foreach(r => add(null, ppm(r), null, Kind.Original))
      (0 until iC).foreach(c => add(null, bmp(pick(images, im, c)), null, Kind.ExactCopy))
      val (aO, aC) = split(nAud)
      val au = ArrayBuffer.fill(aO)(tone(rng))
      au.foreach(s => add(null, wav(s, stereo = false), null, Kind.Original))
      (0 until aC).foreach(c => add(null, wav(pick(clips, au, c), stereo = true), null, Kind.ExactCopy))
      val (vO, vC) = split(nVid)
      val vi = ArrayBuffer.fill(vO)(Seq.fill(4)(raster(rng)))
      vi.foreach(fs => add(null, y4m(fs, c420 = false), null, Kind.Original))
      (0 until vC).foreach(c => add(null, y4m(pick(videos, vi, c), c420 = true), null, Kind.ExactCopy))
      // embeddings: originals, negated controls (distinct: survive), scaled copies
      val (eO0, eC) = split(nEmb)
      val nNeg = eO0 / 8
      val eo = ArrayBuffer.fill(eO0 - nNeg)(Array.fill(EmbDim)(rng.nextGaussian().toFloat))
      eo.foreach(v => add(null, null, v, Kind.Original))
      val negs = ArrayBuffer.from((0 until nNeg).map(_ => eo(rng.nextInt(eo.size)).map(x => -x)))
        .distinctBy(_.toSeq)
      negs.foreach(v => add(null, null, v, Kind.Original))
      (0 until eC).foreach(c => add(null, null, pick(vectors, eo, c).map(_ * 2.5f), Kind.NearCopy))
      keep(images, im); keep(clips, au); keep(videos, vi); keep(vectors, eo ++ negs)
      rows.toVector
    }
  }

  // ------------------------------------------------------------------
  // CDC change log
  // ------------------------------------------------------------------

  /** One change record as the producer wrote it. `schemaId` 1 = v1,
    * 2 = v2 (adds `tier`); `op` is c/u/d, or h for a heartbeat on the
    * `orders.heartbeat` topic that the SMT chain filters out. */
  final case class Change(offset: Long, topic: String, id: Long, op: String,
      name: String, email: String, amountCents: Long, score: Int,
      tier: String, schemaId: Int)

  /** The state a key holds after its last change, as the reader sees it
    * through the SMT chain (email masked, score cast, source inserted). */
  final case class StateRow(name: String, amountCents: Long, score: Int, tier: String)

  /** Change-log producer plus the oracle state it implies. Keys are
    * Zipf-skewed over the live key set; the mix is about 70% updates,
    * 20% inserts, 10% tombstones, with ~2% heartbeats on the side. */
  final class CdcGen(seed: Long, liveTarget: Int) {
    private val rng = new SplittableRandom(seed * 0x94D049BB133111EBL + 3)
    private var offset = 0L
    private var nextKey = 1L
    private val live = ArrayBuffer.empty[Long] // key slots; Zipf over positions
    private val pos = scala.collection.mutable.HashMap.empty[Long, Int]
    val state = scala.collection.mutable.HashMap.empty[Long, StateRow]
    private val zipf = new Zipf(liveTarget * 2, 0.9)
    private val tiers = Vector("gold", "silver", "bronze", null)
    var v2 = false

    private def name(): String = s"cust-${rng.nextInt(1 << 30)}"

    private def row(id: Long, op: String): Change = {
      offset += 1
      val schemaId = if (v2 && rng.nextInt(5) != 0) 2 else 1
      val tier = if (schemaId == 2) tiers(rng.nextInt(tiers.size)) else null
      Change(offset, "orders", id, op, name(), s"c$id@example.com",
        rng.nextLong(1L, 10000000L), rng.nextInt(1000), tier, schemaId)
    }

    private def insert(): Change = {
      val k = nextKey; nextKey += 1
      pos(k) = live.size; live += k
      val c = row(k, "c")
      state(k) = StateRow(c.name, c.amountCents, c.score, c.tier)
      c
    }

    private def hot(): Long = {
      var i = zipf.sample(rng)
      while (i >= live.size) i = zipf.sample(rng)
      live(i)
    }

    /** The initial snapshot: `liveTarget` inserts. */
    def snapshot(): Vector[Change] = Vector.fill(liveTarget)(insert())

    def batch(n: Int): Vector[Change] = Vector.fill(n) {
      val u = rng.nextInt(100)
      if (u < 2) {
        offset += 1
        Change(offset, "orders.heartbeat", 0L, "h", null, null, 0L, 0, null, 1)
      } else if (u < 22 || live.size < 2) insert()
      else if (u < 32) {
        val k = hot()
        val p = pos.remove(k).get
        val last = live.remove(live.size - 1)
        if (last != k) { live(p) = last; pos(last) = p }
        state.remove(k)
        offset += 1
        Change(offset, "orders", k, "d", null, null, 0L, 0, null, if (v2) 2 else 1)
      } else {
        val k = hot()
        val c = row(k, "u")
        state(k) = StateRow(c.name, c.amountCents, c.score, c.tier)
        c
      }
    }

    /** Keys the reader looks up every cycle: the hot head, some cold
      * keys and keys that will be inserted later (absent until then). */
    def lookupKeys(): Vector[Long] =
      (1L to 24L).toVector ++ Vector.fill(24)(1L + rng.nextLong(liveTarget.toLong)) ++
        Vector.tabulate(16)(i => liveTarget + 1L + i * 97L)
  }
}
