package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling (SURVEY §2.9 L8): image/audio/video payloads
  * travel as opaque `binary` columns with a typed metadata struct; decode /
  * feature-extract run per-partition so batches amortize codec setup.
  *
  * Feature extraction is CONTENT-DERIVED for four honest formats parsed
  * here from scratch — binary PPM images (`P6`), PNG (full chunk walk +
  * inflate + unfilter), baseline JPEG ([[Jpeg]]: Huffman entropy decode,
  * dequantize, IDCT, YCbCr) and 16-bit PCM WAV audio (RIFF/WAVE) —
  * covering compressed/uncompressed image and audio modalities
  * end-to-end: header fields and per-channel pixel/sample statistics
  * come from real decoding, and a changed payload provably changes the
  * features (oracle-checked in `l08b`/`l08c`/`l08d`). Compressed video
  * is covered by the AVI/MJPEG demux ([[decodeAviMjpeg]] + per-frame
  * [[Jpeg.decode]], `l08h`), LZW-compressed palettized images and
  * animations by [[decodeGif]] (`l08j`) and uncompressed Windows
  * bitmaps by [[decodeBmp]] (`l08k`). Payloads in any OTHER format
  * (MP3 sample data, non-MJPEG video codecs) fall back to `decodeStub`
  * (deterministic bytes-hash fake), clearly quarantined — swap it for
  * a JNI/codec call in production.
  *
  * Scale notes: payloads never pass through a shuffle here (narrow
  * mapPartitions); at 100 TB keep payloads in their own column family
  * (parquet column) so metadata-only queries never read the blob pages —
  * Spark's parquet column pruning gives that for free.
  */
object Multimodal {

  val metaSchema: StructType = StructType(Seq(
    StructField("modality", StringType),
    StructField("byte_len", LongType),
    StructField("format", StringType)))

  /** Wrap a source column as a multimodal envelope:
    * (payload binary, meta struct). */
  def toEnvelope(df: DataFrame, srcCol: String, modality: String, format: String): DataFrame =
    df.withColumn("payload", col(srcCol).cast(BinaryType))
      .withColumn("meta", struct(
        lit(modality).alias("modality"),
        length(col(srcCol).cast(BinaryType)).cast(LongType).alias("byte_len"),
        lit(format).alias("format")))

  /** STUB decode: deterministic fake "feature vector" from payload bytes
    * (first 8 bytes folded). The quarantined fallback for formats whose
    * codecs aren't in this container (JPEG/MP3/...). */
  private def decodeStub(payload: Array[Byte], dim: Int): Array[Float] = {
    val seed = payload.take(8).foldLeft(1469598103934665603L)((h, b) => (h ^ b) * 1099511628211L)
    Array.tabulate(dim) { i =>
      val x = seed * (i + 1) + 0x9e3779b97f4a7c15L * i
      ((x >>> 11).toDouble / (1L << 53).toDouble).toFloat - 0.5f
    }
  }

  private[graft] final case class PpmImage(
      width: Int, height: Int, maxVal: Int, pixels: Array[Byte])

  /** Honest binary-PPM (`P6`) decoder, written from the public netpbm
    * format spec: `P6 <ws> width <ws> height <ws> maxval <single-ws> raw
    * RGB triplets`, `#` comments allowed in the header. Returns None for
    * anything that isn't a complete well-formed P6 image. */
  private[graft] def decodePpm(bytes: Array[Byte]): Option[PpmImage] = {
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return None
    var i = 2
    def skipWs(): Unit = {
      var go = true
      while (go && i < bytes.length) {
        val c = bytes(i)
        if (c == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else if (c == ' ' || c == '\n' || c == '\r' || c == '\t') i += 1
        else go = false
      }
    }
    def int(): Int = {
      skipWs(); var v = 0L; var any = false
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        // stop accumulating once past the bound (a longer digit run can't
        // come back under it) so a pathological run can't overflow Long
        if (v <= 100000000L) v = v * 10 + (bytes(i) - '0')
        i += 1; any = true
      }
      // a dimension past 1e8 can't be a real 8-bit PPM — reject instead
      // of letting Int wrap to a small positive width/height that might
      // coincide with the raster length and mis-parse
      if (!any || v > 100000000L) -1 else v.toInt
    }
    val w = int(); val h = int(); val mv = int()
    // 8-bit-per-sample only (maxval <= 255); the 16-bit variant is rare
    if (w <= 0 || h <= 0 || mv <= 0 || mv > 255 || i >= bytes.length) return None
    // exactly one whitespace byte separates maxval from the raster — a
    // non-whitespace byte here is malformed, and skipping it blindly
    // would mis-align the whole raster by one byte
    bytes(i) match {
      case ' ' | '\n' | '\r' | '\t' => i += 1
      case _ => return None
    }
    val need = w.toLong * h * 3
    if (need > Int.MaxValue || bytes.length - i < need) None
    else Some(PpmImage(w, h, mv, java.util.Arrays.copyOfRange(bytes, i, i + need.toInt)))
  }

  private[graft] final case class PngImage(
      width: Int, height: Int, channels: Int, pixels: Array[Byte])

  private val PngSig: Array[Int] = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  /** Honest PNG decoder, written from the public PNG specification
    * (RFC 2083 / W3C PNG) on top of the JDK's zlib `Inflater`:
    * 8-byte signature, length/type/data/CRC chunks (CRCs validated),
    * IHDR → IDAT (concatenated, inflated) → IEND, then per-scanline
    * unfiltering of all five standard filter types (None/Sub/Up/
    * Average/Paeth). Supports the common straight cases — bit depth 8,
    * color types 0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA), no
    * interlace. Returns None (never garbage) for palette/16-bit/Adam7
    * or any malformed/truncated/CRC-broken input — those fall to the
    * quarantined stub like every other unsupported format. */
  private[graft] def decodePng(bytes: Array[Byte]): Option[PngImage] = {
    if (bytes.length < 8 + 25) return None // sig + IHDR is the floor
    var k = 0
    while (k < 8) { if ((bytes(k) & 0xff) != PngSig(k)) return None; k += 1 }
    def u32(o: Int): Long = ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
      ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
    var i = 8
    var w = -1; var h = -1; var channels = -1
    var ihdrSeen = false; var iendSeen = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!iendSeen) {
      if (i + 12 > bytes.length) return None // no room for an empty chunk
      val len = u32(i)
      if (len > bytes.length - i - 12) return None // truncated declared size
      val body = i + 8
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, i + 4, 4 + len.toInt) // type + data
      if (crc.getValue != u32(body + len.toInt)) return None // corrupt chunk
      val typ = new String(bytes, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      typ match {
        case "IHDR" =>
          if (len != 13 || ihdrSeen) return None
          val wl = u32(body); val hl = u32(body + 4)
          // same 1e8 dimension bound as decodePpm: reject instead of wrap
          if (wl <= 0 || hl <= 0 || wl > 100000000L || hl > 100000000L) return None
          w = wl.toInt; h = hl.toInt
          val bitDepth = bytes(body + 8) & 0xff
          channels = (bytes(body + 9) & 0xff) match {
            case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4
            case _ => return None // palette (3) needs PLTE handling
          }
          val compression = bytes(body + 10) & 0xff
          val filterMethod = bytes(body + 11) & 0xff
          val interlace = bytes(body + 12) & 0xff
          if (bitDepth != 8 || compression != 0 || filterMethod != 0 || interlace != 0)
            return None
          ihdrSeen = true
        case "IDAT" =>
          if (!ihdrSeen) return None // IDAT before IHDR is malformed
          idat.write(bytes, body, len.toInt)
        case "IEND" => iendSeen = true
        case _ => () // ancillary chunks skipped (CRC already checked)
      }
      i = body + len.toInt + 4
    }
    if (!ihdrSeen) return None
    val stride = w * channels    // filtered bytes per scanline (sans tag)
    val need = (stride + 1).toLong * h
    if (need > Int.MaxValue - 16) return None
    // inflate the concatenated IDAT stream to exactly the raster size
    val raw = new Array[Byte](need.toInt)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None // truncated
        off += n
      }
      if (off != raw.length) return None
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    // unfilter scanlines in place against the reconstructed neighbors
    val px = new Array[Byte](stride * h)
    val bpp = channels
    var y = 0
    while (y < h) {
      val f = raw(y * (stride + 1)) & 0xff
      val rowIn = y * (stride + 1) + 1
      val rowOut = y * stride
      var x = 0
      while (x < stride) {
        val cur = raw(rowIn + x) & 0xff
        val a = if (x >= bpp) px(rowOut + x - bpp) & 0xff else 0            // left
        val b = if (y > 0) px(rowOut - stride + x) & 0xff else 0            // up
        val c = if (x >= bpp && y > 0) px(rowOut - stride + x - bpp) & 0xff else 0 // up-left
        val recon = f match {
          case 0 => cur
          case 1 => cur + a
          case 2 => cur + b
          case 3 => cur + (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            cur + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case _ => return None // filter tags 5+ are reserved
        }
        px(rowOut + x) = recon.toByte // mod-256 per spec
        x += 1
      }
      y += 1
    }
    Some(PngImage(w, h, channels, px))
  }

  private[graft] final case class WavAudio(
      channels: Int, sampleRate: Int, samples: Array[Short])

  /** G.711 μ-law expansion (ITU-T G.711, the classic telephony
    * companding codec): complement, then magnitude
    * `((mantissa<<3) + 0x84) << exponent` re-biased by 0x84. Max
    * magnitude 32124 — the published codec bound. */
  private[graft] def mulawExpand(b: Byte): Short = {
    val u = (~b) & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u >> 4) & 7)
    (if ((u & 0x80) != 0) 0x84 - t else t - 0x84).toShort
  }

  /** G.711 A-law expansion: XOR 0x55, segment 0 is linear
    * `(mantissa<<4) + 8`, higher segments re-bias by 0x108 and shift.
    * A-law's sign convention is inverted vs μ-law: a SET sign bit is
    * positive (per the G.711 tables). */
  private[graft] def alawExpand(b: Byte): Short = {
    val a = b & 0xff
    val v = a ^ 0x55
    val seg = (v & 0x70) >> 4
    val t =
      if (seg == 0) ((v & 0x0f) << 4) + 8
      else (((v & 0x0f) << 4) + 0x108) << (seg - 1)
    (if ((a & 0x80) != 0) t else -t).toShort
  }

  private val AdpcmStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
  private val AdpcmIndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** IMA/DVI ADPCM mono decode (the 4-bit predictive quantizer, public
    * IMA spec): per `blockAlign`-sized block a 4-byte header (predictor
    * s16 LE, step index u8, reserved) then nibble pairs low-first; each
    * nibble reconstructs `diff = step/8 (+step if b2)(+step/2 if b1)
    * (+step/4 if b0)`, sign bit subtracts, predictor clamps to s16 and
    * the step index walks the published tables. Returns None on a
    * malformed trailing block or out-of-range header index. */
  private[graft] def adpcmDecodeMono(data: Array[Byte], blockAlign: Int): Option[Array[Short]] = {
    if (blockAlign < 5 || data.length == 0 || data.length % blockAlign != 0) return None
    val samplesPerBlock = (blockAlign - 4) * 2 + 1
    val out = new Array[Short](data.length / blockAlign * samplesPerBlock)
    var o = 0
    var base = 0
    while (base < data.length) {
      var pred = ((data(base) & 0xff) | (data(base + 1) << 8)).toShort.toInt
      var idx = data(base + 2) & 0xff
      if (idx > 88) return None
      out(o) = pred.toShort; o += 1
      var j = base + 4
      while (j < base + blockAlign) {
        val byte = data(j) & 0xff
        var n = 0
        while (n < 2) {
          val code = if (n == 0) byte & 0x0f else (byte >> 4) & 0x0f
          val step = AdpcmStepTable(idx)
          var diff = step >> 3
          if ((code & 4) != 0) diff += step
          if ((code & 2) != 0) diff += step >> 1
          if ((code & 1) != 0) diff += step >> 2
          pred = if ((code & 8) != 0) pred - diff else pred + diff
          if (pred > 32767) pred = 32767 else if (pred < -32768) pred = -32768
          idx += AdpcmIndexTable(code & 7)
          if (idx < 0) idx = 0 else if (idx > 88) idx = 88
          out(o) = pred.toShort; o += 1
          n += 1
        }
        j += 1
      }
      base += blockAlign
    }
    Some(out)
  }

  /** Honest WAV decoder, written from the public RIFF/WAVE spec:
    * `RIFF <size> WAVE` then word-aligned chunks; `fmt ` carries
    * (audioFormat, channels, sampleRate, byteRate, blockAlign,
    * bitsPerSample), `data` the payload. Decoded formats — every one a
    * real audio codec implemented from its public spec:
    *
    *  - 1: 16-bit linear PCM (uncompressed);
    *  - 7: G.711 μ-law, 6: G.711 A-law (companded telephony, 2:1);
    *  - 0x11: IMA ADPCM mono (4-bit predictive quantization, 4:1) —
    *    the COMPRESSED-audio member of the modality family, as baseline
    *    JPEG is for images.
    *
    * None for anything else (MP3 and friends stay with the quarantined
    * stub). */
  private[graft] def decodeWav(bytes: Array[Byte]): Option[WavAudio] = {
    def tag(o: Int) = new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (bytes.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int): Long = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    var i = 12
    var fmt = -1; var channels = -1; var rate = -1; var bps = -1
    var blockAlign = -1
    var data: Array[Byte] = null
    while (i + 8 <= bytes.length) {
      val id = tag(i); val sz = u32(i + 4)
      val body = i + 8
      if (id == "fmt " && sz >= 16 && body + 16 <= bytes.length) {
        fmt = u16(body); channels = u16(body + 2)
        rate = u32(body + 4).toInt; blockAlign = u16(body + 12)
        bps = u16(body + 14)
      } else if (id == "data") {
        // a declared size past EOF is a truncated file — reject rather
        // than silently computing moments over half the audio
        if (body + sz > bytes.length) return None
        data = java.util.Arrays.copyOfRange(bytes, body, (body + sz).toInt)
      }
      i = body + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
      if (sz < 0 || sz > bytes.length) return None // corrupt size field
    }
    if (channels < 1 || rate <= 0 || data == null) None
    else (fmt, bps) match {
      case (1, 16) =>
        val n = data.length / 2
        val samples = new Array[Short](n)
        var j = 0
        while (j < n) {
          samples(j) = ((data(2 * j) & 0xff) | (data(2 * j + 1) << 8)).toShort
          j += 1
        }
        Some(WavAudio(channels, rate, samples))
      case (7, 8) => Some(WavAudio(channels, rate, data.map(mulawExpand)))
      case (6, 8) => Some(WavAudio(channels, rate, data.map(alawExpand)))
      case (0x11, 4) if channels == 1 =>
        adpcmDecodeMono(data, blockAlign).map(WavAudio(1, rate, _))
      case _ => None
    }
  }

  private[graft] final case class Y4mVideo(
      width: Int, height: Int, colorspace: String, nFrames: Int,
      raster: Array[Byte])

  private[graft] final case class Mp3Meta(
      sampleRate: Int, channels: Int, layer: Int, nFrames: Int,
      meanKbps: Double, durationSec: Double)

  // MPEG-1 audio header tables (ISO/IEC 11172-3, public): bitrate in
  // kbps by [layer 1..3][bitrate_index 1..14], sampling rate by index
  private val Mp3Bitrates: Array[Array[Int]] = Array(
    Array(32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    Array(32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320))
  private val Mp3Rates: Array[Int] = Array(44100, 48000, 32000)

  /** Honest MPEG-1 audio (MP3-family) METADATA parser, written from the
    * public ISO/IEC 11172-3 frame-header layout: walks every frame
    * (12-bit sync, version/layer/bitrate/samplerate/padding/mode
    * fields), skips a leading ID3v2 tag (syncsafe size) and a trailing
    * 128-byte ID3v1 tag, and returns the stream-level facts a
    * training-data pipeline filters on — sample rate, channels, layer,
    * frame count, mean (VBR-aware) bitrate, duration. This is the
    * HEADER level only, and says so: the entropy-coded sample payload
    * (Huffman + IMDCT + the 512-tap synthesis window) stays quarantined
    * behind the stub — there is no independent decoder in this
    * container to validate a from-scratch synthesis against, and a
    * half-validated codec would be worse than a labeled stub.
    *
    * Strict, never-garbage contract like every sibling: free MPEG-2/2.5
    * headers, a mid-stream version/layer/rate/mode change (VBR may vary
    * only the bitrate index), a truncated final frame, or trailing junk
    * that is not an ID3v1 tag all reject to None. Frame-length
    * arithmetic: Layer I `(12000*kbps/rate + pad) * 4` bytes, Layers
    * II/III `144000*kbps/rate + pad`; samples per frame 384 (L1) / 1152
    * (L2, L3). */
  private[graft] def decodeMp3Meta(bytes: Array[Byte]): Option[Mp3Meta] = {
    var i = 0
    // ID3v2: "ID3" vmaj vmin flags size(4 x 7-bit syncsafe)
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      if ((bytes(6) | bytes(7) | bytes(8) | bytes(9)) < 0) return None
      val sz = (bytes(6) << 21) | (bytes(7) << 14) | (bytes(8) << 7) | bytes(9)
      i = 10 + sz
      if (i >= bytes.length) return None
    }
    var sampleRate = -1; var channels = -1; var layer = -1
    var nFrames = 0; var kbpsSum = 0L
    while (i < bytes.length) {
      // trailing ID3v1 tag ends the stream cleanly
      if (bytes.length - i == 128 && bytes(i) == 'T' && bytes(i + 1) == 'A' &&
          bytes(i + 2) == 'G') {
        i = bytes.length
      } else {
        if (i + 4 > bytes.length) return None // partial header
        val h = ((bytes(i) & 0xff) << 24) | ((bytes(i + 1) & 0xff) << 16) |
          ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
        if ((h >>> 21) != 0x7ff) return None // lost sync
        val version = (h >>> 19) & 3 // 3 = MPEG-1; 2/0 = MPEG-2/2.5
        val layerCode = (h >>> 17) & 3 // 3=I, 2=II, 1=III
        val bi = (h >>> 12) & 15
        val ri = (h >>> 10) & 3
        val pad = (h >>> 9) & 1
        val mode = (h >>> 6) & 3 // 3 = single channel
        if (version != 3 || layerCode == 0 || bi == 0 || bi == 15 || ri == 3)
          return None // MPEG-2/2.5, reserved layer, free/bad bitrate, bad rate
        val ly = 4 - layerCode // 1, 2, 3
        val kbps = Mp3Bitrates(ly - 1)(bi - 1)
        val rate = Mp3Rates(ri)
        val ch = if (mode == 3) 1 else 2
        if (nFrames == 0) { sampleRate = rate; channels = ch; layer = ly }
        // VBR varies the bitrate index only — anything else mid-stream
        // is a splice, not a stream
        else if (rate != sampleRate || ch != channels || ly != layer) return None
        val frameLen =
          if (ly == 1) (12000 * kbps / rate + pad) * 4
          else 144000 * kbps / rate + pad
        if (frameLen < 4 || i + frameLen > bytes.length) return None // truncated
        i += frameLen
        nFrames += 1
        kbpsSum += kbps
        if (nFrames > 2000000) return None // runaway cap (~2 GB of audio)
      }
    }
    if (nFrames == 0) None
    else {
      val spf = if (layer == 1) 384 else 1152
      Some(Mp3Meta(sampleRate, channels, layer, nFrames,
        kbpsSum.toDouble / nFrames,
        nFrames.toDouble * spf / sampleRate))
    }
  }

  /** One decoded GIF: all frames are full-logical-screen RGB rasters
    * (this decoder rejects sub-rectangle frames rather than composite —
    * see [[decodeGif]]). */
  private[graft] final case class GifImage(
      width: Int, height: Int, nFrames: Int, frames: Array[Array[Byte]])

  /** Honest GIF decoder, written from the public GIF87a/89a
    * specification: header + logical screen descriptor, global/local
    * color tables, extension-block skipping (graphic control, comment,
    * application), per-image-descriptor LZW decompression (variable
    * 3..12-bit codes, clear/EOI handling, the KwKwK case), optional
    * Adam-style four-pass de-interlacing, and palette mapping to RGB.
    * Multi-image streams decode as frames.
    *
    * Strict, never-garbage contract like every sibling: a frame that is
    * not the full logical screen (compositing with disposal methods is a
    * rendering concern, not a statistic), an index outside the active
    * palette, a truncated or desynchronized LZW stream, or a missing
    * trailer all reject to None. Pixel bounds mirror [[Jpeg]]'s cap
    * (w*h <= 2^24, <= 256 frames) so a crafted header cannot force a
    * large allocation. */
  private[graft] def decodeGif(bytes: Array[Byte]): Option[GifImage] = {
    if (bytes.length < 14) return None
    val hdr = new String(bytes, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (hdr != "GIF87a" && hdr != "GIF89a") return None
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    val w = u16(6); val h = u16(8)
    if (w <= 0 || h <= 0 || w.toLong * h > (1L << 24)) return None
    val packed = bytes(10) & 0xff
    var pos = 13
    var global: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 1 << ((packed & 7) + 1)
      if (pos + 3 * n > bytes.length) return None
      global = java.util.Arrays.copyOfRange(bytes, pos, pos + 3 * n)
      pos += 3 * n
    }
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var trailerSeen = false
    while (!trailerSeen) {
      if (pos >= bytes.length) return None // ran off the end before 0x3B
      (bytes(pos) & 0xff) match {
        case 0x3b => trailerSeen = true
        case 0x21 => // extension: label byte then length-prefixed sub-blocks
          pos += 2
          var sub = true
          while (sub) {
            if (pos >= bytes.length) return None
            val len = bytes(pos) & 0xff; pos += 1
            if (len == 0) sub = false
            else { if (pos + len > bytes.length) return None; pos += len }
          }
        case 0x2c => // image descriptor
          if (pos + 10 > bytes.length) return None
          val left = u16(pos + 1); val top = u16(pos + 3)
          val iw = u16(pos + 5); val ih = u16(pos + 7)
          val ip = bytes(pos + 9) & 0xff
          pos += 10
          // full-screen frames only — partial frames would need disposal
          // compositing to mean anything as pixels
          if (left != 0 || top != 0 || iw != w || ih != h) return None
          val interlaced = (ip & 0x40) != 0
          var palette = global
          if ((ip & 0x80) != 0) {
            val n = 1 << ((ip & 7) + 1)
            if (pos + 3 * n > bytes.length) return None
            palette = java.util.Arrays.copyOfRange(bytes, pos, pos + 3 * n)
            pos += 3 * n
          }
          if (palette == null) return None // no color table in scope
          if (pos >= bytes.length) return None
          val minCode = bytes(pos) & 0xff; pos += 1
          // gather the LZW sub-blocks into one buffer
          val data = new java.io.ByteArrayOutputStream()
          var sub = true
          while (sub) {
            if (pos >= bytes.length) return None
            val len = bytes(pos) & 0xff; pos += 1
            if (len == 0) sub = false
            else {
              if (pos + len > bytes.length) return None
              data.write(bytes, pos, len); pos += len
            }
          }
          val indices = gifLzwDecode(minCode, data.toByteArray, w * h)
            .getOrElse(return None)
          val nColors = palette.length / 3
          val rgb = new Array[Byte](w * h * 3)
          var p = 0
          while (p < w * h) {
            // de-interlace by computing each sequential pixel's target row
            val srcRow = p / w
            val dstRow = if (!interlaced) srcRow else {
              val pass8 = (h + 7) / 8; val pass8o4 = (h + 3) / 8
              val pass4 = (h + 1) / 4
              if (srcRow < pass8) srcRow * 8
              else if (srcRow < pass8 + pass8o4) (srcRow - pass8) * 8 + 4
              else if (srcRow < pass8 + pass8o4 + pass4) (srcRow - pass8 - pass8o4) * 4 + 2
              else (srcRow - pass8 - pass8o4 - pass4) * 2 + 1
            }
            val idx = indices(p) & 0xff
            if (idx >= nColors) return None
            val o = (dstRow * w + p % w) * 3
            rgb(o) = palette(idx * 3)
            rgb(o + 1) = palette(idx * 3 + 1)
            rgb(o + 2) = palette(idx * 3 + 2)
            p += 1
          }
          frames += rgb
          if (frames.length > 256) return None // bound total allocation
        case _ => return None // unknown block type: desynchronized
      }
    }
    if (frames.isEmpty) None
    else Some(GifImage(w, h, frames.length, frames.toArray))
  }

  /** GIF-flavor LZW decompression (ECMA-variant with CLEAR/EOI codes and
    * LSB-first variable-width packing): produces exactly `expected`
    * index bytes or None. Dictionary as parallel prefix/suffix arrays
    * (the textbook layout); width grows at 2^codeSize up to 12 bits. */
  private def gifLzwDecode(minCode: Int, data: Array[Byte],
      expected: Int): Option[Array[Byte]] = {
    if (minCode < 2 || minCode > 8) return None
    val clear = 1 << minCode; val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var dictSize = eoi + 1; var codeSize = minCode + 1
    var prev = -1
    val out = new Array[Byte](expected); var outLen = 0
    val nBits = data.length.toLong * 8; var bitPos = 0L
    val stack = new Array[Byte](4096)
    def readCode(): Int = {
      if (bitPos + codeSize > nBits) return -1
      var v = 0; var i = 0
      while (i < codeSize) {
        val bi = bitPos + i
        v |= (((data((bi >> 3).toInt) & 0xff) >> (bi & 7).toInt) & 1) << i
        i += 1
      }
      bitPos += codeSize
      v
    }
    // expand `code` through the prefix chain onto the stack; returns the
    // string's first byte, or -1 on a cycle/overflow (malformed stream)
    def expand(code: Int): Int = {
      var c = code; var sp = 0
      while (c >= clear) { // composite codes sit above clear+1
        if (sp >= stack.length || c >= dictSize) return -1
        stack(sp) = suffix(c); sp += 1; c = prefix(c)
      }
      val first = c
      if (outLen + sp + 1 > expected) return -1
      out(outLen) = first.toByte; outLen += 1
      while (sp > 0) { sp -= 1; out(outLen) = stack(sp); outLen += 1 }
      first
    }
    while (outLen < expected) {
      val code = readCode()
      if (code < 0) return None // ran out of bits before the raster filled
      if (code == clear) {
        dictSize = eoi + 1; codeSize = minCode + 1; prev = -1
      } else if (code == eoi) {
        return None // EOI before the raster filled
      } else if (prev == -1) {
        if (code >= clear) return None // first code after clear must be literal
        out(outLen) = code.toByte; outLen += 1
        prev = code
      } else {
        var first = -1
        if (code < dictSize) {
          first = expand(code)
        } else if (code == dictSize) { // the KwKwK case
          // string = expand(prev) + firstChar(expand(prev))
          val mark = outLen
          first = expand(prev)
          if (first >= 0) {
            if (outLen >= expected) return None
            out(outLen) = first.toByte; outLen += 1
          }
          if (mark == outLen) return None // defensive; expand failed
        } else return None // code beyond dictionary: desynchronized
        if (first < 0) return None
        if (dictSize < 4096) {
          prefix(dictSize) = prev; suffix(dictSize) = first.toByte
          dictSize += 1
          if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    Some(out)
  }

  private[graft] final case class BmpImage(
      width: Int, height: Int, bpp: Int, pixels: Array[Byte])

  /** Honest BMP decoder, written from the public Windows bitmap layout:
    * BITMAPFILEHEADER (`BM`, pixel-data offset) + 40-byte
    * BITMAPINFOHEADER, uncompressed (BI_RGB) 8-bit-paletted, 24-bit BGR
    * and 32-bit BGRX rasters, 4-byte row padding, bottom-up (positive
    * height) and top-down (negative height) orders. Output is top-down
    * RGB. Returns None (never garbage) for other header versions,
    * compressed variants (RLE/bitfields), bad plane/bpp fields, an
    * 8-bit index outside the palette, or a raster shorter than the
    * declared geometry. Same allocation cap as the siblings
    * (w*h <= 2^24). */
  private[graft] def decodeBmp(bytes: Array[Byte]): Option[BmpImage] = {
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    def u16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def i32(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
      ((bytes(o + 2) & 0xff) << 16) | ((bytes(o + 3) & 0xff) << 24)
    val dataOffset = i32(10)
    if (i32(14) != 40) return None // BITMAPINFOHEADER only
    val w = i32(18); val hRaw = i32(22)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    if (w <= 0 || h <= 0 || w.toLong * h > (1L << 24)) return None
    if (u16(26) != 1) return None // planes
    val bpp = u16(28)
    if (bpp != 8 && bpp != 24 && bpp != 32) return None
    if (i32(30) != 0) return None // BI_RGB only
    var palette: Array[Byte] = null
    if (bpp == 8) {
      val declared = i32(46)
      val n = if (declared == 0) 256 else declared
      if (n < 0 || n > 256 || 54 + 4 * n > bytes.length) return None
      palette = java.util.Arrays.copyOfRange(bytes, 54, 54 + 4 * n) // BGRX quads
    }
    val rowSize = ((w * bpp / 8) + 3) / 4 * 4
    if (dataOffset < 54 || dataOffset.toLong + rowSize.toLong * h > bytes.length)
      return None
    val rgb = new Array[Byte](w * h * 3)
    var r = 0
    while (r < h) {
      val srcRow = if (topDown) r else h - 1 - r
      val base = dataOffset + srcRow * rowSize
      var x = 0
      while (x < w) {
        val o = (r * w + x) * 3
        bpp match {
          case 8 =>
            val idx = bytes(base + x) & 0xff
            if (idx * 4 >= palette.length) return None
            rgb(o) = palette(idx * 4 + 2) // stored B,G,R,X
            rgb(o + 1) = palette(idx * 4 + 1)
            rgb(o + 2) = palette(idx * 4)
          case 24 =>
            val p = base + x * 3
            rgb(o) = bytes(p + 2); rgb(o + 1) = bytes(p + 1); rgb(o + 2) = bytes(p)
          case _ =>
            val p = base + x * 4
            rgb(o) = bytes(p + 2); rgb(o + 1) = bytes(p + 1); rgb(o + 2) = bytes(p)
        }
        x += 1
      }
      r += 1
    }
    Some(BmpImage(w, h, bpp, rgb))
  }

  /** Honest YUV4MPEG2 (`.y4m`) decoder, written from the public
    * mjpegtools stream spec — the uncompressed VIDEO member of the
    * modality family (PPM is its image sibling, PCM-WAV its audio one):
    * ASCII stream header `YUV4MPEG2 W<w> H<h> [F<n>:<d>] [C<cs>] ...\n`,
    * then per frame an ASCII `FRAME[ <params>]\n` marker followed by raw
    * planar YUV. Supported colorspaces: the C420 family (Y w×h plus two
    * (w/2)×(h/2) chroma planes; even dims required — C420 is also the
    * spec default when the tag is absent), C444 (three full planes) and
    * Cmono (luma only). Returns None (never garbage) for a bad magic,
    * unparsable/missing dimensions, unknown colorspace, mangled FRAME
    * marker, zero frames, or a truncated final frame — those fall to
    * the quarantined stub like every other unsupported format. */
  private[graft] def decodeY4m(bytes: Array[Byte]): Option[Y4mVideo] = {
    val magic = "YUV4MPEG2".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    if (bytes.length <= magic.length) return None
    var k = 0
    while (k < magic.length) { if (bytes(k) != magic(k)) return None; k += 1 }
    val hEnd = bytes.indexOf('\n'.toByte, magic.length)
    if (hEnd < 0) return None
    val header = new String(bytes, magic.length, hEnd - magic.length,
      java.nio.charset.StandardCharsets.US_ASCII)
    var w = -1; var h = -1; var cs = "420"
    for (tok <- header.split(" ") if tok.nonEmpty) tok.charAt(0) match {
      case 'W' | 'H' =>
        val digits = tok.substring(1)
        // same overflow discipline as the PPM parser: no real 8-bit
        // raster has a 1e8 dimension — reject rather than wrap
        if (digits.isEmpty || !digits.forall(_.isDigit) || digits.length > 8)
          return None
        if (tok.charAt(0) == 'W') w = digits.toInt else h = digits.toInt
      case 'C' => cs = tok.substring(1)
      case _ => // F/I/A/X tags don't affect the raster layout
    }
    if (w <= 0 || h <= 0) return None
    val frameBytes: Long =
      if (cs == "mono") w.toLong * h
      else if (cs == "444") w.toLong * h * 3
      else if (cs.startsWith("420")) {
        if (w % 2 != 0 || h % 2 != 0) return None
        w.toLong * h + 2L * (w / 2) * (h / 2)
      } else return None // 422/411/alpha variants: quarantined stub
    if (frameBytes > Int.MaxValue) return None
    val marker = "FRAME".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val raster = new java.io.ByteArrayOutputStream()
    var i = hEnd + 1
    var n = 0
    while (i < bytes.length) {
      if (i + marker.length > bytes.length) return None
      var m = 0
      while (m < marker.length) {
        if (bytes(i + m) != marker(m)) return None
        m += 1
      }
      i += marker.length
      val nl = bytes.indexOf('\n'.toByte, i)
      // frame params must be '\n'-terminated and space-led (or absent)
      if (nl < 0 || (nl != i && bytes(i) != ' ')) return None
      i = nl + 1
      if (i + frameBytes > bytes.length) return None // truncated frame
      raster.write(bytes, i, frameBytes.toInt)
      i += frameBytes.toInt
      n += 1
    }
    if (n == 0) None else Some(Y4mVideo(w, h, cs, n, raster.toByteArray))
  }

  private[graft] final case class AviMjpeg(
      width: Int, height: Int, frames: Seq[Array[Byte]])

  /** Honest AVI/MJPEG demuxer, written from the public RIFF/AVI layout
    * (Microsoft's "AVI RIFF File Reference"; the OpenDML extensions are
    * not needed for baseline MJPG): `RIFF <sz> AVI ` containing
    * `LIST hdrl` — an `avih` main header (frame dims at data offsets
    * 32/36) and one `LIST strl` per stream, whose `strh.fccType = vids`
    * stream must read MJPG in the handler or in the `strf`
    * BITMAPINFOHEADER.biCompression — and `LIST movi`, whose
    * `##dc`/`##db` chunks (## = the stream number, two ASCII decimal
    * digits) each hold ONE complete baseline/progressive JPEG;
    * [[Jpeg.decode]] handles the frame leg, making MJPEG exactly
    * "motion + the codec we already have". `rec ` sub-lists (interleave
    * grouping) are walked transparently. Returns None (never garbage)
    * for bad magic, truncated chunks, a missing/other-codec vids
    * stream, or zero frames — those fall to the quarantined stub like
    * every other unsupported format. Frame count is capped (4096) next
    * to [[Jpeg]]'s per-frame pixel cap, so a few crafted header bytes
    * cannot force a GB-scale decode. */
  private[graft] def decodeAviMjpeg(bytes: Array[Byte]): Option[AviMjpeg] = {
    def tag(o: Int): String =
      if (o + 4 <= bytes.length)
        new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
      else ""
    def u32(o: Int): Long = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    if (bytes.length < 12 || tag(0) != "RIFF" || tag(8) != "AVI ") return None
    if (u32(4) + 8 > bytes.length) return None // truncated container
    var width = -1; var height = -1
    var vidsStream = -1 // strl index of the MJPG video stream
    var pendingVids = -1 // vids strl awaiting its strf codec fourcc
    var streamIdx = 0
    val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    // walk a run of sibling chunks in [from, until); returns false on a
    // malformed chunk (the whole payload then quarantines)
    def walk(from: Int, until: Int, ctx: String): Boolean = {
      var o = from
      while (o < until) {
        if (o + 8 > until) return false
        val id = tag(o); val sz = u32(o + 4)
        val data = o + 8
        if (sz < 0 || data + sz > until) return false
        id match {
          case "LIST" =>
            if (sz < 4) return false
            val typ = tag(data)
            typ match {
              case "hdrl" | "strl" | "odml" =>
                if (!walk(data + 4, data + sz.toInt, typ)) return false
              case "movi" | "rec " =>
                if (!walk(data + 4, data + sz.toInt, "movi")) return false
              case _ => // INFO etc: skip whole
            }
          case "avih" =>
            if (sz < 40) return false
            width = u32(data + 32).toInt; height = u32(data + 36).toInt
          case "strh" =>
            if (sz < 8) return false
            if (tag(data) == "vids" && vidsStream < 0) {
              val handler = tag(data + 4)
              if (handler == "MJPG" || handler == "mjpg" || handler == "dmb1")
                vidsStream = streamIdx
              // no recognizable handler fourcc: this stream's strf
              // BITMAPINFOHEADER.biCompression decides
              else pendingVids = streamIdx
            }
            if (ctx == "strl") streamIdx += 1
          case "strf" =>
            if (vidsStream < 0 && pendingVids == streamIdx - 1 && sz >= 20 &&
                tag(data + 16) == "MJPG") vidsStream = pendingVids
          case _ if ctx == "movi" && id.length == 4 &&
              id(0).isDigit && id(1).isDigit &&
              (id.substring(2) == "dc" || id.substring(2) == "db") =>
            val sn = (id(0) - '0') * 10 + (id(1) - '0')
            if (sn == vidsStream) {
              if (frames.length >= 4096) return false // runaway header cap
              frames += java.util.Arrays.copyOfRange(bytes, data, data + sz.toInt)
            }
          case _ => // ignore: idx1, JUNK, other streams' chunks
        }
        o = data + sz.toInt + (sz.toInt & 1) // chunks pad to even offsets
      }
      true
    }
    if (!walk(12, (u32(4) + 8).toInt, "top")) return None
    if (width <= 0 || height <= 0 || vidsStream < 0 || frames.isEmpty) None
    else Some(AviMjpeg(width, height, frames.toSeq))
  }

  /** Content-derived features. Layout (padded/truncated to `dim`):
    *  - PPM:  [1, width, height, maxval, meanR, meanG, meanB, meanAll]
    *  - WAV:  [2, channels, sampleRate, nSamples, mean, rms, min, max]
    *  - PNG:  [3, width, height, channels, meanR, meanG, meanB, meanAll]
    *    (gray images repeat the gray mean in all three slots; alpha is
    *    excluded from every mean — it is coverage, not color)
    *  - JPEG: [4, width, height, channels, meanR, meanG, meanB, meanAll]
    *    (baseline sequential via [[Jpeg.decode]]; grayscale repeats the
    *    gray mean like PNG)
    *  - Y4M:  [5, width, height, nFrames, meanY, meanU, meanV, meanAll]
    *    (uncompressed video via [[decodeY4m]]; mono repeats the luma
    *    mean in the chroma slots like PNG gray)
    *  - AVI/MJPEG: [6, width, height, nFrames, channels, meanAll,
    *    meanFirstFrame, meanLastFrame] (COMPRESSED video via
    *    [[decodeAviMjpeg]] + per-frame [[Jpeg.decode]]; the first/last
    *    frame means pin that frame ORDER survived the demux)
    *  - MP3: [7, sampleRate, channels, nFrames, layer, meanKbps,
    *    durationSec, 0] ([[decodeMp3Meta]] — REAL header-walk metadata,
    *    the filter-level facts; sample statistics deliberately absent:
    *    the entropy payload stays quarantined, see the decoder's doc)
    *  - GIF: [8, width, height, nFrames, meanR, meanG, meanB, meanAll]
    *    (LZW-compressed palettized images/animations via [[decodeGif]];
    *    means run over ALL frames' palette-mapped RGB)
    *  - BMP: [9, width, height, bpp, meanR, meanG, meanB, meanAll]
    *    (uncompressed Windows bitmaps via [[decodeBmp]] — BGR swap,
    *    row padding and bottom-up order all exercised)
    *  - else: decodeStub (format tag 0 territory — quarantined fake)
    * Sums accumulate exactly in Long; the final double divisions (and
    * sqrt) are single IEEE ops, so an external engine recomputing the
    * same formula gets bit-identical REALs (the l08b/l08c/l08d oracles
    * do). */
  private[graft] def contentFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
    val full: Array[Float] = decodePpm(payload).map { im =>
      val px = im.pixels
      var sr = 0L; var sg = 0L; var sb = 0L
      var j = 0
      while (j < px.length) {
        val v = px(j) & 0xff
        (j % 3: @annotation.switch) match {
          case 0 => sr += v; case 1 => sg += v; case _ => sb += v
        }
        j += 1
      }
      val npx = (px.length / 3).toDouble
      Array(1f, im.width.toFloat, im.height.toFloat, im.maxVal.toFloat,
        (sr / npx).toFloat, (sg / npx).toFloat, (sb / npx).toFloat,
        ((sr + sg + sb) / (npx * 3)).toFloat)
    }.orElse(decodePng(payload).map { im =>
      val px = im.pixels; val ch = im.channels
      val colorCh = if (ch >= 3) 3 else 1 // alpha (if any) is the last channel
      val sums = new Array[Long](3)
      val npx = px.length / ch
      var p = 0
      while (p < npx) {
        var c = 0
        while (c < colorCh) { sums(c) += px(p * ch + c) & 0xff; c += 1 }
        p += 1
      }
      val n = npx.toDouble
      val mR = (sums(0) / n).toFloat
      val mG = (if (colorCh == 3) sums(1) / n else sums(0) / n).toFloat
      val mB = (if (colorCh == 3) sums(2) / n else sums(0) / n).toFloat
      val mAll = ((sums(0) + sums(1) + sums(2)) / (n * colorCh)).toFloat
      Array(3f, im.width.toFloat, im.height.toFloat, ch.toFloat, mR, mG, mB, mAll)
    }).orElse(Jpeg.decode(payload).map { im =>
      val px = im.pixels; val ch = im.channels
      val sums = new Array[Long](3)
      val npx = px.length / ch
      var p = 0
      while (p < npx) {
        var c = 0
        while (c < ch) { sums(c) += px(p * ch + c) & 0xff; c += 1 }
        p += 1
      }
      val n = npx.toDouble
      val mR = (sums(0) / n).toFloat
      val mG = (if (ch == 3) sums(1) / n else sums(0) / n).toFloat
      val mB = (if (ch == 3) sums(2) / n else sums(0) / n).toFloat
      val mAll = ((sums(0) + sums(1) + sums(2)) / (n * ch)).toFloat
      Array(4f, im.width.toFloat, im.height.toFloat, ch.toFloat, mR, mG, mB, mAll)
    }).orElse(decodeWav(payload).map { a =>
      var sum = 0L; var sq = 0.0; var mn = Int.MaxValue; var mx = Int.MinValue
      a.samples.foreach { s0 =>
        val v = s0.toInt
        sum += v; sq += v.toDouble * v
        if (v < mn) mn = v; if (v > mx) mx = v
      }
      val n = math.max(a.samples.length, 1).toDouble
      Array(2f, a.channels.toFloat, a.sampleRate.toFloat, a.samples.length.toFloat,
        (sum / n).toFloat, math.sqrt(sq / n).toFloat,
        (if (mn == Int.MaxValue) 0 else mn).toFloat,
        (if (mx == Int.MinValue) 0 else mx).toFloat)
    }).orElse(decodeY4m(payload).map { v =>
      val w = v.width; val h = v.height
      val (ny, nc) = v.colorspace match {
        case "mono" => (w * h, 0)
        case "444" => (w * h, w * h)
        case _ => (w * h, (w / 2) * (h / 2)) // 420 family
      }
      val frameBytes = ny + 2 * nc
      var sy = 0L; var su = 0L; var sv = 0L
      var f = 0
      while (f < v.nFrames) {
        val base = f * frameBytes
        var j = 0
        while (j < frameBytes) {
          val b = v.raster(base + j) & 0xff
          if (j < ny) sy += b else if (j < ny + nc) su += b else sv += b
          j += 1
        }
        f += 1
      }
      val mY = (sy / (ny.toLong * v.nFrames).toDouble).toFloat
      val mU = if (nc == 0) mY else (su / (nc.toLong * v.nFrames).toDouble).toFloat
      val mV = if (nc == 0) mY else (sv / (nc.toLong * v.nFrames).toDouble).toFloat
      val mAll = ((sy + su + sv) / (frameBytes.toLong * v.nFrames).toDouble).toFloat
      Array(5f, w.toFloat, h.toFloat, v.nFrames.toFloat, mY, mU, mV, mAll)
    }).orElse(decodeAviMjpeg(payload).flatMap { av =>
      // every frame must decode (via the JPEG codec) and agree with the
      // container's declared geometry — otherwise the payload quarantines
      // whole ("never garbage"): a half-decoded video is not a statistic
      val dec = av.frames.map(Jpeg.decode)
      if (dec.exists(_.isEmpty)) None
      else {
        val fs = dec.map(_.get)
        val ch = fs.head.channels
        if (fs.exists(f => f.width != av.width || f.height != av.height ||
            f.channels != ch)) None
        else {
          var sAll = 0L; var sFirst = 0L; var sLast = 0L
          var i = 0
          while (i < fs.length) {
            val px = fs(i).pixels
            var s = 0L; var j = 0
            while (j < px.length) { s += px(j) & 0xff; j += 1 }
            sAll += s
            if (i == 0) sFirst = s
            if (i == fs.length - 1) sLast = s
            i += 1
          }
          val per = (av.width.toLong * av.height * ch).toDouble
          Some(Array(6f, av.width.toFloat, av.height.toFloat,
            fs.length.toFloat, ch.toFloat,
            (sAll / (per * fs.length)).toFloat,
            (sFirst / per).toFloat, (sLast / per).toFloat))
        }
      }
    }).orElse(decodeMp3Meta(payload).map { m =>
      Array(7f, m.sampleRate.toFloat, m.channels.toFloat, m.nFrames.toFloat,
        m.layer.toFloat, m.meanKbps.toFloat, m.durationSec.toFloat, 0f)
    }).orElse(decodeGif(payload).map { g =>
      var sr = 0L; var sg = 0L; var sb = 0L
      var f = 0
      while (f < g.nFrames) {
        val px = g.frames(f)
        var j = 0
        while (j < px.length) {
          (j % 3: @annotation.switch) match {
            case 0 => sr += px(j) & 0xff
            case 1 => sg += px(j) & 0xff
            case _ => sb += px(j) & 0xff
          }
          j += 1
        }
        f += 1
      }
      val npx = (g.width.toLong * g.height * g.nFrames).toDouble
      Array(8f, g.width.toFloat, g.height.toFloat, g.nFrames.toFloat,
        (sr / npx).toFloat, (sg / npx).toFloat, (sb / npx).toFloat,
        ((sr + sg + sb) / (npx * 3)).toFloat)
    }).orElse(decodeBmp(payload).map { im =>
      val px = im.pixels
      var sr = 0L; var sg = 0L; var sb = 0L
      var j = 0
      while (j < px.length) {
        (j % 3: @annotation.switch) match {
          case 0 => sr += px(j) & 0xff
          case 1 => sg += px(j) & 0xff
          case _ => sb += px(j) & 0xff
        }
        j += 1
      }
      val npx = (im.width.toLong * im.height).toDouble
      Array(9f, im.width.toFloat, im.height.toFloat, im.bpp.toFloat,
        (sr / npx).toFloat, (sg / npx).toFloat, (sb / npx).toFloat,
        ((sr + sg + sb) / (npx * 3)).toFloat)
    }).getOrElse(decodeStub(payload, dim))
    if (full.length == dim) full
    else java.util.Arrays.copyOf(full, dim) // pad 0f / truncate
  }

  /** Per-partition decode+featurize: adds `features array<float>`
    * ([[contentFeatures]] — real PPM/WAV parsing, stub fallback for
    * unrecognized formats). mapPartitions (not per-row UDF) so a codec
    * for compressed formats could init once per partition; output schema
    * is explicit for downstream pruning. */
  def extractFeatures(df: DataFrame, dim: Int = 8): DataFrame = {
    // schema.add would produce a duplicate-named column, which downstream
    // resolution reports confusingly late — fail at the call site
    require(!df.columns.contains("features"), "input already has a 'features' column")
    val outSchema = df.schema.add(StructField("features", ArrayType(FloatType)))
    val enc = RowEncoder.encoderFor(outSchema)
    val payloadIdx = df.schema.fieldIndex("payload")
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val feats = if (payload == null) null else contentFeatures(payload, dim)
        Row.fromSeq(r.toSeq :+ feats)
      }
    }(enc)
  }

  /** First-frame grayscale raster of any decodable image payload,
    * values scaled to 0-255: the shared luma front half of the
    * perceptual-hash path. BT.601 integer luma (299r+587g+114b)/1000
    * for color rasters, channel passthrough for gray; PPM values are
    * rescaled from the header's maxVal. Returns None (never garbage)
    * for undecodable/non-image payloads — audio/video containers fall
    * through exactly like [[contentFeatures]]' quarantine path. */
  private[graft] def grayRaster(payload: Array[Byte]): Option[(Int, Int, Array[Float])] = {
    def lumaRgb(w: Int, h: Int, px: Array[Byte], stride: Int, scale: Float) = {
      val g = new Array[Float](w * h)
      var p = 0
      while (p < g.length) {
        val o = p * stride
        g(p) = ((px(o) & 0xff) * 299 + (px(o + 1) & 0xff) * 587 +
          (px(o + 2) & 0xff) * 114) / 1000f * scale
        p += 1
      }
      g
    }
    def lumaGray(w: Int, h: Int, px: Array[Byte], stride: Int) = {
      val g = new Array[Float](w * h)
      var p = 0
      while (p < g.length) { g(p) = (px(p * stride) & 0xff).toFloat; p += 1 }
      g
    }
    decodePpm(payload).map { im =>
      (im.width, im.height,
        lumaRgb(im.width, im.height, im.pixels, 3, 255f / im.maxVal))
    }.orElse(decodePng(payload).map { im =>
      val g = if (im.channels >= 3) lumaRgb(im.width, im.height, im.pixels, im.channels, 1f)
        else lumaGray(im.width, im.height, im.pixels, im.channels)
      (im.width, im.height, g)
    }).orElse(Jpeg.decode(payload).map { im =>
      val g = if (im.channels >= 3) lumaRgb(im.width, im.height, im.pixels, im.channels, 1f)
        else lumaGray(im.width, im.height, im.pixels, im.channels)
      (im.width, im.height, g)
    }).orElse(decodeGif(payload).filter(_.nFrames >= 1).map { im =>
      (im.width, im.height, lumaRgb(im.width, im.height, im.frames(0), 3, 1f))
    }).orElse(decodeBmp(payload).map { im =>
      (im.width, im.height, lumaRgb(im.width, im.height, im.pixels, 3, 1f))
    })
  }

  /** 64-bit difference hash (dHash — the public 8x8 luma-gradient
    * perceptual hash): [[grayRaster]], area-average down to a 9-wide x
    * 8-tall grid, then bit r*8+c = [grid(r)(c+1) > grid(r)(c)]. Two
    * images of the SAME pixels re-encoded through different codecs
    * hash identically (the decode paths all land on the same raster),
    * and small lossy perturbations flip at most a few gradient signs —
    * which is exactly the Hamming-band near-dup regime
    * [[Dedup.simhashCandidatesOfSigs]] already handles at bits=64.
    * None for undecodable payloads or rasters smaller than the grid
    * (a sub-9x8 image has no meaningful gradient field). */
  private[graft] def dHash64(payload: Array[Byte]): Option[Long] =
    grayRaster(payload).flatMap { case (w, h, g) => dHashOfLuma(w, h, g) }

  /** The dHash core over an already-decoded luma plane — shared by the
    * image path ([[dHash64]]) and the per-frame video path
    * ([[videoFrameHashes64]]). */
  private[graft] def dHashOfLuma(w: Int, h: Int,
      g: Array[Float]): Option[Long] = {
    if (w < 9 || h < 8) return None
    val grid = new Array[Double](9 * 8)
    var r = 0
    while (r < 8) {
      val y0 = r * h / 8; val y1 = (r + 1) * h / 8
      var c = 0
      while (c < 9) {
        val x0 = c * w / 9; val x1 = (c + 1) * w / 9
        var sum = 0.0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += g(y * w + x); x += 1 }
          y += 1
        }
        grid(r * 9 + c) = sum / ((y1 - y0) * (x1 - x0))
        c += 1
      }
      r += 1
    }
    var bits = 0L
    var i = 0
    while (i < 64) {
      val rr = i / 8; val cc = i % 8
      if (grid(rr * 9 + cc + 1) > grid(rr * 9 + cc)) bits |= 1L << i
      i += 1
    }
    Some(bits)
  }

  /** Per-frame dHash sequence of a VIDEO payload — the identity the
    * video codecs decode but nothing consumed (the l24/l28 gap, closed
    * for the third modality): Y4M (mono/420/444 — the Y plane IS the
    * luma) and AVI/MJPEG (each frame through the baseline JPEG decoder,
    * then BT.601 luma) land on per-frame rasters, each dHashed. The
    * SAME frame content re-encoded across the two containers hashes
    * identically when the JPEG leg decodes exactly (block-constant
    * unit-quant frames — the fixture family) and within a few bits for
    * lossy content — which the per-frame Hamming match + frame-vote
    * aggregation in [[Dedup.videoNearDupClusters]] absorbs. None for
    * non-video payloads, sub-grid frames, or zero decodable frames. */
  private[graft] def videoFrameHashes64(payload: Array[Byte]): Option[Array[Long]] =
    decodeY4m(payload).flatMap { v =>
      val lumaLen = v.width * v.height
      val frameBytes =
        if (v.colorspace == "mono") lumaLen
        else if (v.colorspace == "444") lumaLen * 3
        else lumaLen + 2 * (v.width / 2) * (v.height / 2)
      val hs = (0 until v.nFrames).flatMap { f =>
        val g = new Array[Float](lumaLen)
        val base = f * frameBytes
        var p = 0
        while (p < lumaLen) { g(p) = (v.raster(base + p) & 0xff).toFloat; p += 1 }
        dHashOfLuma(v.width, v.height, g)
      }
      if (hs.isEmpty) None else Some(hs.toArray)
    }.orElse(decodeAviMjpeg(payload).flatMap { v =>
      val hs = v.frames.flatMap { fb =>
        Jpeg.decode(fb).flatMap { im =>
          val g = new Array[Float](im.width * im.height)
          var p = 0
          if (im.channels >= 3) {
            while (p < g.length) {
              val o = p * im.channels
              g(p) = ((im.pixels(o) & 0xff) * 299 + (im.pixels(o + 1) & 0xff) * 587 +
                (im.pixels(o + 2) & 0xff) * 114) / 1000f
              p += 1
            }
          } else {
            while (p < g.length) { g(p) = (im.pixels(p) & 0xff).toFloat; p += 1 }
          }
          dHashOfLuma(im.width, im.height, g)
        }
      }
      if (hs.isEmpty) None else Some(hs.toArray)
    })

  /** DataFrame form of [[videoFrameHashes64]]: one row per decodable
    * frame — (idCol, `idxCol` int, `outCol` long). Videos that do not
    * decode contribute NO rows ("no identity"); the per-frame rows are
    * what the banded frame-match join consumes, 12 bytes per frame
    * regardless of payload size. */
  def videoFrameHashes(df: DataFrame, payloadCol: String = "payload",
      idCol: String = "doc_id", idxCol: String = "frame_idx",
      outCol: String = "fhash"): DataFrame = {
    val base = df.select(col(idCol), col(payloadCol))
    val outSchema = StructType(Seq(base.schema.head,
      StructField(idxCol, IntegerType), StructField(outCol, LongType)))
    val enc = RowEncoder.encoderFor(outSchema)
    base.mapPartitions { rows =>
      rows.flatMap { r =>
        val payload = r.getAs[Array[Byte]](1)
        val hs = if (payload == null) None else videoFrameHashes64(payload)
        hs.iterator.flatMap(_.iterator.zipWithIndex.map { case (h, i) =>
          Row(r.get(0), i, h)
        })
      }
    }(enc)
  }

  /** Splitmix-valued BLOCK-CONSTANT gray frames for a (seed, frame):
    * 8×8 block `b` of frame `f` holds `splitmix(seed·4096 + f·bpf + b)
    * mod 251` — hash-diverse across seeds AND frames (the [[mixedRgb]]
    * rationale: the ramp formula collapses identity fixtures; worse,
    * seeds 251 apart are byte-identical under it), while staying
    * block-constant so the unit-quant JPEG leg decodes EXACTLY and the
    * two containers carry bit-identical rasters. */
  private[graft] def blockGray(seed: Long, width: Int, height: Int,
      frame: Int, blocksPerFrame: Int): Array[Byte] = {
    val blocksX = width / 8
    val gray = new Array[Byte](width * height)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val b = frame * blocksPerFrame + (y / 8) * blocksX + x / 8
        var z = (seed * 4096 + b) * 0x9E3779B97F4A7C15L
        z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 29
        gray(y * width + x) = (((z % 251) + 251) % 251).toByte
        x += 1
      }
      y += 1
    }
    gray
  }

  /** Per-seed block-gray video as Y4M mono — the raw-container half of
    * the video identity fixture pair. */
  def syntheticY4mBlocks(df: DataFrame, seedCol: String, width: Int,
      height: Int, nFrames: Int): DataFrame = {
    require(width >= 16 && height >= 8 && width % 8 == 0 && height % 8 == 0,
      "syntheticY4mBlocks needs dims that are multiples of 8 (and width >= 16 for the dHash grid)")
    require(nFrames >= 1, "syntheticY4mBlocks needs at least one frame")
    require(!df.columns.contains("payload"), "input already has a 'payload' column")
    val outSchema = df.schema.add(StructField("payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val seedIdx = df.schema.fieldIndex(seedCol)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val header = s"YUV4MPEG2 W$width H$height F25:1 Cmono\n".getBytes(ascii)
    val marker = "FRAME\n".getBytes(ascii)
    val bpf = (width / 8) * (height / 8)
    df.mapPartitions { rows =>
      rows.map { r =>
        val seed = r.getLong(seedIdx)
        val out = new java.io.ByteArrayOutputStream()
        out.write(header)
        var f = 0
        while (f < nFrames) {
          out.write(marker)
          out.write(blockGray(seed, width, height, f, bpf))
          f += 1
        }
        Row.fromSeq(r.toSeq :+ out.toByteArray)
      }
    }(enc)
  }

  /** The SAME per-seed block-gray frames re-encoded as AVI/MJPEG (unit
    * quant — block-constant frames decode exactly, so the cross-codec
    * rasters are bit-identical). */
  def syntheticAviMjpegBlocks(df: DataFrame, seedCol: String, width: Int,
      height: Int, nFrames: Int): DataFrame = {
    require(width >= 16 && height >= 8 && width % 8 == 0 && height % 8 == 0,
      "syntheticAviMjpegBlocks needs dims that are multiples of 8 (and width >= 16 for the dHash grid)")
    require(nFrames >= 1, "syntheticAviMjpegBlocks needs at least one frame")
    require(!df.columns.contains("payload"), "input already has a 'payload' column")
    val outSchema = df.schema.add(StructField("payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val seedIdx = df.schema.fieldIndex(seedCol)
    val bpf = (width / 8) * (height / 8)
    df.mapPartitions { rows =>
      rows.map { r =>
        val seed = r.getLong(seedIdx)
        val frames = (0 until nFrames).map(f =>
          Jpeg.encodeGray(width, height,
            blockGray(seed, width, height, f, bpf), Jpeg.UnitQuant))
        Row.fromSeq(r.toSeq :+ aviMjpegContainer(width, height, frames))
      }
    }(enc)
  }

  /** Column form of [[dHash64]]: adds `<outCol> long` (null for
    * undecodable payloads — filter upstream of the banded join, a null
    * signature is "no identity", not bucket 0). Same mapPartitions
    * idiom as [[extractFeatures]]: per-row imperative decode, nothing
    * shuffles, the hash is 8 bytes per image into the band join
    * regardless of payload size. */
  def imageDHash(df: DataFrame, payloadCol: String = "payload",
      outCol: String = "dhash"): DataFrame = {
    require(!df.columns.contains(outCol), s"input already has a '$outCol' column")
    val outSchema = df.schema.add(StructField(outCol, LongType))
    val enc = RowEncoder.encoderFor(outSchema)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val h = if (payload == null) null
          else dHash64(payload).map(java.lang.Long.valueOf).orNull
        Row.fromSeq(r.toSeq :+ h)
      }
    }(enc)
  }

  /** Splitmix64-mixed RGB raster for a seed — the pixel source of the
    * MIXED fixture generators below. The [[syntheticPpm]] ramp formula
    * is perfect for mean-recomputing oracles but collapses to ~170
    * distinct dHashes over any seed range (the gradient signs barely
    * depend on the offset) — useless as an IDENTITY fixture. Mixing
    * makes rasters hash-diverse (distinct seeds ⇒ distinct dHashes for
    * any realistic corpus) while staying fully deterministic. */
  private[graft] def mixedRgb(seed: Long, width: Int, height: Int): Array[Byte] = {
    val out = new Array[Byte](width * height * 3)
    var x = seed * 0x9E3779B97F4A7C15L
    var j = 0
    while (j < out.length) {
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 29
      out(j) = (x & 0xff).toByte
      j += 1
    }
    out
  }

  /** [[syntheticPpm]] with splitmix-mixed pixels — the identity-fixture
    * sibling (see [[mixedRgb]]): use for dedup/perceptual-hash
    * contracts where distinct seeds must produce distinct hashes. */
  def syntheticPpmMixed(df: DataFrame, seedCol: String, width: Int,
      height: Int): DataFrame = {
    require(width >= 1 && height >= 1, "syntheticPpmMixed needs positive dims")
    require(!df.columns.contains("payload"), "input already has a 'payload' column")
    val outSchema = df.schema.add(StructField("payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val seedIdx = df.schema.fieldIndex(seedCol)
    val header = s"P6\n$width $height\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    df.mapPartitions { rows =>
      rows.map { r =>
        val out = header ++ mixedRgb(r.getLong(seedIdx), width, height)
        Row.fromSeq(r.toSeq :+ out)
      }
    }(enc)
  }

  /** [[syntheticPng]] with splitmix-mixed pixels — same raster as
    * [[syntheticPpmMixed]] for the same seed, so the two generators
    * yield cross-codec exact-pixel copies (dHash-identical). */
  def syntheticPngMixed(df: DataFrame, seedCol: String, width: Int,
      height: Int): DataFrame = {
    require(width >= 1 && height >= 1, "syntheticPngMixed needs positive dims")
    require(!df.columns.contains("payload"), "input already has a 'payload' column")
    val outSchema = df.schema.add(StructField("payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val seedIdx = df.schema.fieldIndex(seedCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val rgb = mixedRgb(r.getLong(seedIdx), width, height)
        Row.fromSeq(r.toSeq :+ encodePng(width, height, rgb))
      }
    }(enc)
  }

  /** Deterministic P6 test-pattern generator (the multimodal analogue of
    * the planted-fixture builders elsewhere): per row, a real `width` ×
    * `height` PPM whose pixel bytes are `(seed * 7 + j) % 251` — so an
    * external engine can recompute the expected decoded statistics from
    * the seed alone (the `l08b_ppm_decode` oracle does exactly that),
    * and two different seeds provably produce different features. */
  def syntheticPpm(df: DataFrame, seedCol: String, width: Int, height: Int): DataFrame = {
    require(width >= 1 && height >= 1, "syntheticPpm needs positive dims")
    require(!df.columns.contains("payload"), "input already has a 'payload' column")
    val outSchema = df.schema.add(StructField("payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val seedIdx = df.schema.fieldIndex(seedCol)
    val header = s"P6\n$width $height\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val n = width * height * 3
    df.mapPartitions { rows =>
      rows.map { r =>
        val seed = r.getLong(seedIdx)
        val out = new Array[Byte](header.length + n)
        System.arraycopy(header, 0, out, 0, header.length)
        var j = 0
        while (j < n) {
          out(header.length + j) = (((seed * 7 + j) % 251 + 251) % 251).toByte
          j += 1
        }
        Row.fromSeq(r.toSeq :+ out)
      }
    }(enc)
  }

  /** Minimal PNG encoder for the synthetic fixtures and tests: 8-bit RGB
    * (color type 2), every scanline filter-type 0, one zlib-deflated
    * IDAT, CRC-correct chunks. The compressed byte stream is whatever
    * the JDK's Deflater emits — decoded statistics, not encoded bytes,
    * are what the oracles check. */
  private[graft] def encodePng(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height * 3, "raster size mismatch")
    val stride = width * 3
    val raw = new Array[Byte]((stride + 1) * height)
    var y = 0
    while (y < height) { // filter byte 0 + raw scanline
      System.arraycopy(rgb, y * stride, raw, y * (stride + 1) + 1, stride)
      y += 1
    }
    encodePngRaw(width, height, raw)
  }

  /** [[encodePng]] over a PRE-FILTERED scanline stream (each row: filter
    * tag + filtered bytes) — lets tests exercise every unfilter path. */
  private[graft] def encodePngRaw(width: Int, height: Int, raw: Array[Byte]): Array[Byte] = {
    require(raw.length == (width * 3 + 1) * height, "scanline stream size mismatch")
    val out = new java.io.ByteArrayOutputStream()
    PngSig.foreach(out.write)
    def be(v: Int): Array[Byte] = Array((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.write(be(data.length))
      val tb = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(tb); out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(be(crc.getValue.toInt))
    }
    chunk("IHDR", be(width) ++ be(height) ++ Array[Byte](8, 2, 0, 0, 0))
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val zipped = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) zipped.write(buf, 0, defl.deflate(buf))
    defl.end()
    chunk("IDAT", zipped.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Deterministic JPEG test-pattern generator — what makes a LOSSY codec
    * oracle-checkable: per row a grayscale baseline JPEG (width/height
    * multiples of 8) whose 8×8 block b is the CONSTANT value
    * `(seed * 7 + b) % 251`, encoded with an all-ones quantization table.
    * A constant block survives the DCT round trip exactly (only the DC
    * coefficient is non-zero, integer-scaled by 8, quantization step 1),
    * so the decoded raster equals the planted raster bit-for-bit and the
    * decoded means are recomputable from the seed alone (the
    * `l08d_jpeg_decode` oracle does) — while the payload still crosses a
    * genuine entropy-coded baseline JPEG stream (Huffman decode, DC
    * prediction, IDCT). Lossy content (non-constant blocks, Annex K
    * tables) is covered by the ImageIO cross-check in MultimodalSpec. */
  def syntheticJpeg(df: DataFrame, seedCol: String, width: Int, height: Int): DataFrame = {
    require(width >= 8 && height >= 8 && width % 8 == 0 && height % 8 == 0,
      "syntheticJpeg needs positive multiples of 8")
    require(!df.columns.contains("payload"), "input already has a 'payload' column")
    val outSchema = df.schema.add(StructField("payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val seedIdx = df.schema.fieldIndex(seedCol)
    val blocksX = width / 8
    df.mapPartitions { rows =>
      rows.map { r =>
        val seed = r.getLong(seedIdx)
        val gray = new Array[Byte](width * height)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val b = (y / 8) * blocksX + x / 8
            gray(y * width + x) = (((seed * 7 + b) % 251 + 251) % 251).toByte
            x += 1
          }
          y += 1
        }
        Row.fromSeq(r.toSeq :+ Jpeg.encodeGray(width, height, gray, Jpeg.UnitQuant))
      }
    }(enc)
  }

  /** [[syntheticJpeg]]'s PROGRESSIVE (SOF2) sibling: the same
    * block-constant raster behind a multi-scan Annex G script (DC first
    * at point transform 1, DC refinement, per-component AC bands), so
    * the decoded statistics stay recomputable from the seed alone (the
    * `l08g_progressive_decode` oracle) while the payload exercises the
    * progressive coefficient-accumulation decode path end to end.
    * Successive approximation on AC is covered by the JDK-scripted
    * cross-check in MultimodalSpec. */
  def syntheticJpegProgressive(df: DataFrame, seedCol: String,
      width: Int, height: Int): DataFrame = {
    require(width >= 8 && height >= 8 && width % 8 == 0 && height % 8 == 0,
      "syntheticJpegProgressive needs positive multiples of 8")
    require(!df.columns.contains("payload"), "input already has a 'payload' column")
    val outSchema = df.schema.add(StructField("payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val seedIdx = df.schema.fieldIndex(seedCol)
    val blocksX = width / 8
    df.mapPartitions { rows =>
      rows.map { r =>
        val seed = r.getLong(seedIdx)
        val gray = new Array[Byte](width * height)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val b = (y / 8) * blocksX + x / 8
            gray(y * width + x) = (((seed * 7 + b) % 251 + 251) % 251).toByte
            x += 1
          }
          y += 1
        }
        Row.fromSeq(r.toSeq :+
          Jpeg.encodeGrayProgressive(width, height, gray, Jpeg.UnitQuant))
      }
    }(enc)
  }

  /** Deterministic PNG test-pattern generator — the [[syntheticPpm]]
    * pattern behind a real compressed container: per row a `width` ×
    * `height` RGB PNG whose RASTER byte j is `(seed * 7 + j) % 251`, so
    * the decoded statistics are recomputable from the seed alone (the
    * `l08c_png_decode` oracle does) while the payload itself goes
    * through a genuine deflate → inflate → unfilter round trip. */
  def syntheticPng(df: DataFrame, seedCol: String, width: Int, height: Int): DataFrame = {
    require(width >= 1 && height >= 1, "syntheticPng needs positive dims")
    require(!df.columns.contains("payload"), "input already has a 'payload' column")
    val outSchema = df.schema.add(StructField("payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val seedIdx = df.schema.fieldIndex(seedCol)
    val n = width * height * 3
    df.mapPartitions { rows =>
      rows.map { r =>
        val seed = r.getLong(seedIdx)
        val rgb = new Array[Byte](n)
        var j = 0
        while (j < n) {
          rgb(j) = (((seed * 7 + j) % 251 + 251) % 251).toByte
          j += 1
        }
        Row.fromSeq(r.toSeq :+ encodePng(width, height, rgb))
      }
    }(enc)
  }

  /** Deterministic Y4M test-pattern generator — the [[syntheticPpm]]
    * arithmetic extended over frames: per row a C420 `width` × `height`
    * × `nFrames` YUV4MPEG2 stream whose RASTER byte j (counted across
    * all frames' planes, headers excluded) is `(seed * 7 + j) % 251`, so
    * the decoded per-plane means are recomputable from the seed alone
    * (the `l08e_y4m_decode` oracle does) while the payload crosses the
    * real stream parser (header tags, per-frame markers, plane
    * geometry). */
  def syntheticY4m(df: DataFrame, seedCol: String, width: Int, height: Int,
      nFrames: Int): DataFrame = {
    require(width >= 2 && height >= 2 && width % 2 == 0 && height % 2 == 0,
      "syntheticY4m needs positive even dims (C420)")
    require(nFrames >= 1, "syntheticY4m needs at least one frame")
    require(!df.columns.contains("payload"), "input already has a 'payload' column")
    val outSchema = df.schema.add(StructField("payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val seedIdx = df.schema.fieldIndex(seedCol)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val header = s"YUV4MPEG2 W$width H$height F25:1 C420\n".getBytes(ascii)
    val marker = "FRAME\n".getBytes(ascii)
    val frameBytes = width * height + 2 * (width / 2) * (height / 2)
    df.mapPartitions { rows =>
      rows.map { r =>
        val seed = r.getLong(seedIdx)
        val out = new Array[Byte](
          header.length + nFrames * (marker.length + frameBytes))
        System.arraycopy(header, 0, out, 0, header.length)
        var o = header.length
        var j = 0
        var f = 0
        while (f < nFrames) {
          System.arraycopy(marker, 0, out, o, marker.length)
          o += marker.length
          var p = 0
          while (p < frameBytes) {
            out(o) = (((seed * 7 + j) % 251 + 251) % 251).toByte
            o += 1; j += 1; p += 1
          }
          f += 1
        }
        Row.fromSeq(r.toSeq :+ out)
      }
    }(enc)
  }

  /** Wrap per-frame JPEG payloads in a minimal well-formed AVI/MJPEG
    * RIFF container (the layout [[decodeAviMjpeg]] documents): hdrl with
    * a 56-byte `avih`, one `strl` (56-byte `strh` vids/MJPG + 40-byte
    * BITMAPINFOHEADER `strf` with biCompression MJPG), then `movi` with
    * one `00dc` chunk per frame, even-padded. */
  private[graft] def aviMjpegContainer(width: Int, height: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def fourcc(s: String) = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      fourcc(id) ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def list(typ: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", fourcc(typ) ++ children)
    val maxFrame = frames.map(_.length).max
    val avih = le32(40000) ++ le32(maxFrame * 25) ++ le32(0) ++ le32(0) ++
      le32(frames.length) ++ le32(0) ++ le32(1) ++ le32(maxFrame) ++
      le32(width) ++ le32(height) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = fourcc("vids") ++ fourcc("MJPG") ++ le32(0) ++ le16(0) ++
      le16(0) ++ le32(0) ++ le32(1) ++ le32(25) ++ le32(0) ++
      le32(frames.length) ++ le32(maxFrame) ++ le32(-1) ++ le32(0) ++
      le16(0) ++ le16(0) ++ le16(width) ++ le16(height)
    val strf = le32(40) ++ le32(width) ++ le32(height) ++ le16(1) ++
      le16(24) ++ fourcc("MJPG") ++ le32(width * height * 3) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi", frames.toArray.flatMap(f => chunk("00dc", f)))
    val body = fourcc("AVI ") ++ hdrl ++ movi
    fourcc("RIFF") ++ le32(body.length) ++ body
  }

  /** Deterministic AVI/MJPEG test-pattern generator — [[syntheticJpeg]]'s
    * arithmetic extended over frames behind a real RIFF/AVI container:
    * per row, `nFrames` block-constant gray JPEG frames (unit quant, so
    * the decode is EXACT) where 8×8 block `b` of frame `f` holds
    * `(seed * 7 + f * blocksPerFrame + b) % 251` — the decoded per-frame
    * and whole-clip means are recomputable from the seed alone (the
    * `l08h_mjpeg_decode` oracle), while the payload crosses the real
    * demux (RIFF walk, stream matching, per-chunk JPEG decode). */
  def syntheticAviMjpeg(df: DataFrame, seedCol: String, width: Int,
      height: Int, nFrames: Int): DataFrame = {
    require(width >= 8 && height >= 8 && width % 8 == 0 && height % 8 == 0,
      "syntheticAviMjpeg needs positive multiples of 8")
    require(nFrames >= 1, "syntheticAviMjpeg needs at least one frame")
    require(!df.columns.contains("payload"), "input already has a 'payload' column")
    val outSchema = df.schema.add(StructField("payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val seedIdx = df.schema.fieldIndex(seedCol)
    val blocksX = width / 8
    val blocksPerFrame = blocksX * (height / 8)
    df.mapPartitions { rows =>
      rows.map { r =>
        val seed = r.getLong(seedIdx)
        val frames = (0 until nFrames).map { f =>
          val gray = new Array[Byte](width * height)
          var y = 0
          while (y < height) {
            var x = 0
            while (x < width) {
              val b = f * blocksPerFrame + (y / 8) * blocksX + x / 8
              gray(y * width + x) = (((seed * 7 + b) % 251 + 251) % 251).toByte
              x += 1
            }
            y += 1
          }
          Jpeg.encodeGray(width, height, gray, Jpeg.UnitQuant)
        }
        Row.fromSeq(r.toSeq :+ aviMjpegContainer(width, height, frames))
      }
    }(enc)
  }

  /** Deterministic MP3 stream generator — valid MPEG-1 Layer III frame
    * headers (44.1 kHz mono, no CRC) over zeroed payload bytes, VBR:
    * frame `f` uses bitrate index `9 + (seed + f) % 3` (128/160/192
    * kbps), `3 + seed % 5` frames total, so every [[decodeMp3Meta]]
    * field is recomputable from the seed alone (the `l08i_mp3_meta`
    * oracle). Even seeds get a leading ID3v2 tag and seeds divisible by
    * 3 a trailing ID3v1 tag, so both skip paths stay exercised. The
    * payload bytes are zeros BY DESIGN: the generator feeds the honest
    * metadata contract, not a fake sample decode. */
  def syntheticMp3(df: DataFrame, seedCol: String): DataFrame = {
    require(!df.columns.contains("payload"), "input already has a 'payload' column")
    val outSchema = df.schema.add(StructField("payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val seedIdx = df.schema.fieldIndex(seedCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val seed = r.getLong(seedIdx)
        val out = new java.io.ByteArrayOutputStream()
        if (seed % 2 == 0) { // ID3v2 header + 16 tag bytes (syncsafe size)
          out.write("ID3".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          out.write(Array[Byte](4, 0, 0, 0, 0, 0, 16))
          out.write(new Array[Byte](16))
        }
        val nFrames = (3 + seed % 5).toInt
        val kbpsByIdx = Array(128, 160, 192)
        var f = 0
        while (f < nFrames) {
          val sel = ((seed + f) % 3).toInt
          val bi = 9 + sel
          val frameLen = 144000 * kbpsByIdx(sel) / 44100 // pad = 0
          out.write(0xff); out.write(0xfb) // sync + MPEG-1 + Layer III
          out.write(bi << 4) // 44.1 kHz (ri=0), no padding
          out.write(0xc0) // single channel
          out.write(new Array[Byte](frameLen - 4))
          f += 1
        }
        if (seed % 3 == 0) { // trailing ID3v1 tag
          out.write("TAG".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          out.write(new Array[Byte](125))
        }
        Row.fromSeq(r.toSeq :+ out.toByteArray)
      }
    }(enc)
  }

  /** Deterministic G.711 μ-law WAV generator — the audio analogue of
    * [[syntheticPpm]]: per row a real RIFF/WAVE container (fmt chunk
    * audioFormat=7, mono, 8 kHz, 8-bit) whose `nSamples` data bytes are
    * `(seed * 7 + j) % 251`, so the DECODED sample statistics are
    * recomputable from the seed plus the public G.711 expansion formula
    * alone (the `l08f_mulaw_decode` oracle re-derives the complement /
    * segment / mantissa arithmetic in SQL). */
  def syntheticWavMulaw(df: DataFrame, seedCol: String, nSamples: Int): DataFrame = {
    require(nSamples >= 1 && nSamples % 2 == 0,
      "syntheticWavMulaw needs a positive even sample count (RIFF word alignment)")
    require(!df.columns.contains("payload"), "input already has a 'payload' column")
    val outSchema = df.schema.add(StructField("payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val seedIdx = df.schema.fieldIndex(seedCol)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val header = "RIFF".getBytes(ascii) ++ le32(4 + 24 + 8 + nSamples) ++
      "WAVE".getBytes(ascii) ++ "fmt ".getBytes(ascii) ++ le32(16) ++
      le16(7) ++ le16(1) ++ le32(8000) ++ le32(8000) ++ le16(1) ++ le16(8) ++
      "data".getBytes(ascii) ++ le32(nSamples)
    df.mapPartitions { rows =>
      rows.map { r =>
        val seed = r.getLong(seedIdx)
        val out = new Array[Byte](header.length + nSamples)
        System.arraycopy(header, 0, out, 0, header.length)
        var j = 0
        while (j < nSamples) {
          out(header.length + j) = (((seed * 7 + j) % 251 + 251) % 251).toByte
          j += 1
        }
        Row.fromSeq(r.toSeq :+ out)
      }
    }(enc)
  }

  /** G.711 μ-law compression (ITU-T G.711) — the encoder side of
    * [[mulawExpand]]: clip to 32635, bias by 0x84, locate the segment
    * (exponent) as the highest set bit above bit 7, keep 4 mantissa
    * bits, complement. Round-trips with [[mulawExpand]] to within one
    * companding step (the codec's published behavior). */
  private[graft] def mulawCompress(sIn: Short): Byte = {
    val Bias = 0x84; val Clip = 32635
    var s = sIn.toInt
    val sign = if (s < 0) { s = -s; 0x80 } else 0
    if (s > Clip) s = Clip
    s += Bias
    var exp = 7
    var mask = 0x4000
    while (exp > 0 && (s & mask) == 0) { exp -= 1; mask >>= 1 }
    val mantissa = (s >> (exp + 3)) & 0x0f
    (~(sign | (exp << 4) | mantissa)).toByte
  }

  /** IMA/DVI ADPCM mono ENCODER (public IMA spec) — the exact inverse
    * discipline of [[adpcmDecodeMono]]: per block, the first sample is
    * stored verbatim in the 4-byte header with the carried step index,
    * then each sample quantizes its delta from the RECONSTRUCTED
    * predictor (the encoder tracks the decoder's state bit-for-bit, so
    * error never accumulates beyond one step) into a 4-bit code,
    * nibble pairs low-first. `samples.length` must be a whole number
    * of blocks: (blockAlign-4)*2 + 1 samples each. */
  private[graft] def adpcmEncodeMono(samples: Array[Short],
      blockAlign: Int): Array[Byte] = {
    require(blockAlign >= 5, "blockAlign must be >= 5")
    val spb = (blockAlign - 4) * 2 + 1
    require(samples.length > 0 && samples.length % spb == 0,
      s"sample count ${samples.length} is not a whole number of $spb-sample blocks")
    val out = new Array[Byte](samples.length / spb * blockAlign)
    var idx = 0
    var o = 0; var si = 0
    while (si < samples.length) {
      var pred: Int = samples(si)
      out(o) = (pred & 0xff).toByte; out(o + 1) = ((pred >> 8) & 0xff).toByte
      out(o + 2) = idx.toByte; out(o + 3) = 0
      si += 1; o += 4
      var n = 0
      var byteAcc = 0
      while (n < (blockAlign - 4) * 2) {
        val step = AdpcmStepTable(idx)
        var diff = samples(si).toInt - pred; si += 1
        var code = 0
        if (diff < 0) { code = 8; diff = -diff }
        if (diff >= step) { code |= 4; diff -= step }
        if (diff >= (step >> 1)) { code |= 2; diff -= step >> 1 }
        if (diff >= (step >> 2)) code |= 1
        var d2 = step >> 3
        if ((code & 4) != 0) d2 += step
        if ((code & 2) != 0) d2 += step >> 1
        if ((code & 1) != 0) d2 += step >> 2
        pred = if ((code & 8) != 0) pred - d2 else pred + d2
        if (pred > 32767) pred = 32767 else if (pred < -32768) pred = -32768
        idx += AdpcmIndexTable(code & 7)
        if (idx < 0) idx = 0 else if (idx > 88) idx = 88
        if (n % 2 == 0) byteAcc = code
        else { out(o) = (byteAcc | (code << 4)).toByte; o += 1 }
        n += 1
      }
    }
    out
  }

  /** 64-bit spectral audio fingerprint over decoded PCM — the
    * Haitsma-Kalker scheme (2002, "A Highly Robust Audio
    * Fingerprinting System", the public standard): frame the signal,
    * compute per-frame band energies, and emit the SIGN of the
    * band-difference's time-derivative — signs survive companding /
    * quantization noise that raw energies do not. The engine's band
    * filterbank is a 4-level Haar wavelet packet (octave detail
    * energies d1..d4 plus the final approximation) — deterministic
    * integer-index arithmetic, no FFT dependency: 17 frames × 5 bands
    * → 16 frame transitions × 4 band differences = exactly 64 bits.
    * Multi-channel audio folds to mono first (mean). None when the
    * payload is not decodable audio or carries fewer than 272
    * mono samples (17 frames × 16 for four halvings).
    *
    * Identity semantics: the same SIGNAL re-encoded through a lossy
    * telephony codec (PCM16 → μ-law → ADPCM) lands within a few bits —
    * the Hamming band join turns that into candidate pairs exactly as
    * dHash does for images. */
  private[graft] def audioFingerprint64(payload: Array[Byte]): Option[Long] =
    decodeWav(payload).flatMap { a =>
      val n = a.samples.length / a.channels
      if (n < 17 * 16) None
      else {
        val x = new Array[Double](n)
        var i = 0
        while (i < n) {
          var acc = 0.0
          var c = 0
          while (c < a.channels) { acc += a.samples(i * a.channels + c); c += 1 }
          x(i) = acc / a.channels
          i += 1
        }
        val flen = n / 17
        val e = Array.ofDim[Double](17, 5)
        var f = 0
        while (f < 17) {
          var cur = java.util.Arrays.copyOfRange(x, f * flen, (f + 1) * flen)
          var lvl = 0
          while (lvl < 4) {
            val half = cur.length / 2
            val next = new Array[Double](half)
            var d = 0.0
            var j = 0
            while (j < half) {
              val hi = (cur(2 * j) - cur(2 * j + 1)) * 0.5
              next(j) = (cur(2 * j) + cur(2 * j + 1)) * 0.5
              d += hi * hi
              j += 1
            }
            e(f)(lvl) = d
            cur = next
            lvl += 1
          }
          var approx = 0.0
          var j = 0
          while (j < cur.length) { approx += cur(j) * cur(j); j += 1 }
          e(f)(4) = approx
          f += 1
        }
        // Two bit families per frame transition, all in the LOG domain
        // (sign of an energy RATIO): raw-energy differences are
        // dominated by whichever band is loudest, and mixing bands of
        // very different magnitudes turns codec quantization noise
        // into bit flips (probe-measured: raw cross-band HK bits read
        // 15+ flips on an ADPCM re-encode; log-ratio bits read ≤ a
        // few). TEMPORAL bits (how each band evolves) separate
        // different envelopes/chirps; SPECTRAL bits (which band
        // dominates within the frame) separate different tonal
        // content — either family alone collapses one axis of
        // identity (probe-measured zero-distance collisions on
        // temporal-only). d1 — the top octave, where ADPCM's
        // quantization noise concentrates — is left out of every bit.
        // +1 floors the log for silent bands.
        def lg(v: Double): Double = math.log(v + 1.0)
        var sig = 0L
        var bit = 0
        f = 1
        while (f < 17) {
          val bits = Array(
            lg(e(f)(2)) - lg(e(f - 1)(2)), // temporal, d3
            lg(e(f)(4)) - lg(e(f - 1)(4)), // temporal, approx
            lg(e(f)(1)) - lg(e(f)(2)),     // spectral, d2 vs d3
            lg(e(f)(3)) - lg(e(f)(4)))     // spectral, d4 vs approx
          var m = 0
          while (m < 4) {
            if (bits(m) > 0) sig |= 1L << bit
            bit += 1
            m += 1
          }
          f += 1
        }
        Some(sig)
      }
    }

  /** DataFrame form of [[audioFingerprint64]] — the [[imageDHash]]
    * shape: adds `outCol long` (NULL for undecodable / too-short
    * payloads — "no identity", never bucket 0). */
  def audioFingerprint(df: DataFrame, payloadCol: String = "payload",
      outCol: String = "afp"): DataFrame = {
    require(!df.columns.contains(outCol), s"input already has a '$outCol' column")
    val outSchema = df.schema.add(StructField(outCol, LongType))
    val enc = RowEncoder.encoderFor(outSchema)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val h = if (payload == null) null
          else audioFingerprint64(payload).map(java.lang.Long.valueOf).orNull
        Row.fromSeq(r.toSeq :+ h)
      }
    }(enc)
  }

  /** ONE decode pass computing EVERY modality identity at once:
    * (idCol, `phCol` long, `afpCol` long, `fhsCol` array<long>) — the
    * image dHash, the audio spectral fingerprint and the per-frame
    * video dHash sequence of each payload, each NULL where the payload
    * does not decode as that modality ("no identity", the family
    * contract). Values are produced by the SAME kernels the
    * per-modality column forms call ([[dHash64]],
    * [[audioFingerprint64]], [[videoFrameHashes64]]), so they are
    * bit-identical to [[imageDHash]] / [[audioFingerprint]] /
    * [[videoFrameHashes]] run separately.
    *
    * This is the input of every multimodal dedup operator in
    * [[Dedup]]: the heavy payload bytes are READ once and each
    * foreign-modality decode attempt rejects on magic bytes. The
    * output rows are identity-sized (8 B image + 8 B audio +
    * 12 B/frame video), so the caller can materialize them once and
    * run every dedup stage and every history-delta projection over
    * identities, never payloads. */
  def multimodalIdentities(df: DataFrame, payloadCol: String = "payload",
      idCol: String = "doc_id", phCol: String = "__ph",
      afpCol: String = "__asig", fhsCol: String = "__fhs"): DataFrame = {
    val base = df.select(col(idCol), col(payloadCol))
    val outSchema = StructType(Seq(base.schema.head,
      StructField(phCol, LongType), StructField(afpCol, LongType),
      StructField(fhsCol, ArrayType(LongType, containsNull = false))))
    val enc = RowEncoder.encoderFor(outSchema)
    base.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](1)
        if (payload == null) Row(r.get(0), null, null, null)
        else Row(r.get(0),
          dHash64(payload).map(java.lang.Long.valueOf).orNull,
          audioFingerprint64(payload).map(java.lang.Long.valueOf).orNull,
          videoFrameHashes64(payload).orNull)
      }
    }(enc)
  }

  /** Deterministic NON-STATIONARY test signal for a seed: an
    * amplitude-modulated two-tone whose low component CHIRPS upward,
    * at 8 kHz — (f₁, f₂, a₂, AM rate, chirp depth) all seed-derived.
    * Non-stationarity is the point: the fingerprint's
    * Haitsma-Kalker bits are TIME-DERIVATIVES of band energies, which
    * for a stationary tone are sign(≈0) — codec-noise coin flips (the
    * first probe measured re-encode distances of 27-36 bits on
    * stationary tones vs ≤ a few once modulated, the same reason the
    * published scheme is specified over evolving audio). Peak < 21k,
    * safely inside s16. */
  private[graft] def toneSignal(seed: Long, n: Int): Array[Short] = {
    def pmod(v: Long, m: Long): Long = ((v % m) + m) % m
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z ^= z >>> 30; z *= 0xBF58476D1CE4E5B9L
      z ^= z >>> 27; z *= 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    // a 16-note "melody": per note a quarter-tone-scale frequency
    // (220·2^(k/4), k ∈ 0..13 → 220-2093 Hz, spanning the d2-d4
    // octaves) and an amplitude, both splitmix-derived. 16 notes ≈ one
    // note per fingerprint frame, so EVERY frame transition is a note
    // onset and every temporal bit carries note-pair information —
    // with 8 notes, half the transitions fell inside a note and their
    // bits collapsed onto the 12-value AM parameter, leaving a dense
    // signature cloud whose hot buckets ate the banding (ScaleSpec
    // giant-component failure). ~16×7 bits of signal entropy keeps
    // 64-bit fingerprints pairwise-distant across seeds. Note onsets
    // are hard phase resets — broadband transients, the temporal
    // structure real audio has and the HK bits key on.
    val nNotes = 16
    val noteLen = n / nNotes
    val fam = 4.0 + pmod(mix(seed * 31 + 7), 12)
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      val note = math.min(i / noteLen, nNotes - 1)
      val h = mix(seed * nNotes + note)
      val f = 220.0 * math.pow(2.0, pmod(h, 14) / 4.0)
      val amp = (0.55 + pmod(h >>> 8, 8) * 0.05) * 9000.0
      val tn = (i - note * noteLen) / 8000.0
      val t = i / 8000.0
      val am = 1.0 + 0.8 * math.sin(2 * math.Pi * fam * t)
      val v = am * amp * math.sin(2 * math.Pi * f * tn)
      out(i) = math.max(-32768L, math.min(32767L, math.round(v))).toShort
      i += 1
    }
    out
  }

  private def wavContainer(fmt: Int, channels: Int, rate: Int,
      blockAlign: Int, bitsPerSample: Int, data: Array[Byte]): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val pad = data.length & 1
    "RIFF".getBytes(ascii) ++ le32(4 + 24 + 8 + data.length + pad) ++
      "WAVE".getBytes(ascii) ++ "fmt ".getBytes(ascii) ++ le32(16) ++
      le16(fmt) ++ le16(channels) ++ le32(rate) ++
      le32(rate * blockAlign) ++ le16(blockAlign) ++ le16(bitsPerSample) ++
      "data".getBytes(ascii) ++ le32(data.length) ++ data ++
      (if (pad == 1) Array(0.toByte) else Array.empty[Byte])
  }

  private def syntheticToneWav(df: DataFrame, seedCol: String,
      encode: Array[Short] => Array[Byte]): DataFrame = {
    require(!df.columns.contains("payload"), "input already has a 'payload' column")
    val outSchema = df.schema.add(StructField("payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val seedIdx = df.schema.fieldIndex(seedCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        Row.fromSeq(r.toSeq :+ encode(toneSignal(r.getLong(seedIdx), ToneSamples)))
      }
    }(enc)
  }

  /** Shared tone-fixture length: 4 ADPCM blocks of 505 samples at the
    * fixture blockAlign (256) — the one length all three codec
    * generators can carry EXACTLY, so cross-codec copies decode to the
    * same sample count and frame identically. */
  private[graft] val ToneSamples = 2020
  private[graft] val ToneBlockAlign = 256

  /** Per-seed tone as 16-bit linear PCM WAV. */
  def syntheticWavPcm16(df: DataFrame, seedCol: String): DataFrame =
    syntheticToneWav(df, seedCol, s => wavContainer(1, 1, 8000, 2, 16,
      { val d = new Array[Byte](s.length * 2)
        var j = 0
        while (j < s.length) {
          d(2 * j) = (s(j) & 0xff).toByte; d(2 * j + 1) = ((s(j) >> 8) & 0xff).toByte
          j += 1
        }
        d }))

  /** The SAME per-seed tone re-encoded through G.711 μ-law — the lossy
    * re-encode leg of the audio identity contract. */
  def syntheticWavMulawTone(df: DataFrame, seedCol: String): DataFrame =
    syntheticToneWav(df, seedCol,
      s => wavContainer(7, 1, 8000, 1, 8, s.map(mulawCompress)))

  /** The SAME per-seed tone re-encoded through IMA ADPCM (4:1). */
  def syntheticWavAdpcmTone(df: DataFrame, seedCol: String): DataFrame =
    syntheticToneWav(df, seedCol,
      s => wavContainer(0x11, 1, 8000, ToneBlockAlign, 4,
        adpcmEncodeMono(s, ToneBlockAlign)))

  /** The deterministic 256-entry palette the GIF fixtures share with
    * their oracles: entry i = (i, (2i) mod 256, (3i) mod 256) — three
    * distinct linear ramps, so a mis-mapped index changes every channel
    * statistic differently. */
  private[graft] val GifTestPalette: Array[Byte] = {
    val p = new Array[Byte](768)
    var i = 0
    while (i < 256) {
      p(i * 3) = i.toByte
      p(i * 3 + 1) = ((i * 2) % 256).toByte
      p(i * 3 + 2) = ((i * 3) % 256).toByte
      i += 1
    }
    p
  }

  /** Minimal well-formed GIF89a writer for the fixtures: logical screen
    * + 256-entry global color table, one image descriptor per frame
    * (optionally written in interlaced row order with the flag set), and
    * the classic "uncompressed GIF" LZW stream — 8-bit literals at
    * 9-bit code width with a CLEAR every 254 codes so the decoder's
    * dictionary never forces a width change. Any spec-conforming reader
    * (ImageIO's GIF plugin cross-checks in MultimodalSpec) decodes it
    * bit-exactly. */
  private[graft] def gifContainer(width: Int, height: Int,
      indexFrames: Seq[Array[Byte]], interlaced: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    out.write("GIF89a".getBytes(ascii))
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    le16(width); le16(height)
    out.write(0xf7) // GCT present, 8 bits/channel source, 256 entries
    out.write(0); out.write(0)
    out.write(GifTestPalette)
    for (indices <- indexFrames) {
      require(indices.length == width * height, "frame/geometry mismatch")
      out.write(0x2c)
      le16(0); le16(0); le16(width); le16(height)
      out.write(if (interlaced) 0x40 else 0x00)
      out.write(8) // LZW minimum code size
      // interlaced files store rows in pass order; emit accordingly
      val ordered =
        if (!interlaced) indices
        else {
          val rows = (0 until height).filter(_ % 8 == 0) ++
            (0 until height).filter(r => r % 8 == 4) ++
            (0 until height).filter(r => r % 4 == 2) ++
            (0 until height).filter(r => r % 2 == 1)
          val o = new Array[Byte](indices.length)
          var d = 0
          for (r <- rows) { System.arraycopy(indices, r * width, o, d, width); d += width }
          o
        }
      // 9-bit LSB-first bit-packer over CLEAR(256)/literal/EOI(257)
      val lzw = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nAcc = 0
      def emit(code: Int): Unit = {
        acc |= code.toLong << nAcc; nAcc += 9
        while (nAcc >= 8) { lzw.write((acc & 0xff).toInt); acc >>= 8; nAcc -= 8 }
      }
      emit(256)
      var count = 0
      for (b <- ordered) {
        if (count == 254) { emit(256); count = 0 }
        emit(b & 0xff); count += 1
      }
      emit(257)
      if (nAcc > 0) lzw.write((acc & 0xff).toInt)
      val bytes = lzw.toByteArray
      var off = 0
      while (off < bytes.length) {
        val n = math.min(255, bytes.length - off)
        out.write(n); out.write(bytes, off, n); off += n
      }
      out.write(0)
    }
    out.write(0x3b)
    out.toByteArray
  }

  /** Deterministic GIF test-pattern generator — the [[syntheticPpm]]
    * arithmetic behind a real LZW-compressed palettized container: per
    * row an `nFrames`-frame GIF whose palette INDEX j (counted across
    * frames) is `(seed * 7 + j) % 251`, mapped through
    * [[GifTestPalette]] — so the decoded channel means are
    * `mean((idx*k) mod 256)` for k = 1,2,3, recomputable from the seed
    * alone (the `l08j_gif_decode` oracle does) while the payload
    * crosses the real decode path (block walk, LZW, palette). */
  def syntheticGif(df: DataFrame, seedCol: String, width: Int, height: Int,
      nFrames: Int): DataFrame = {
    require(width >= 1 && height >= 1 && nFrames >= 1, "syntheticGif needs positive dims")
    require(!df.columns.contains("payload"), "input already has a 'payload' column")
    val outSchema = df.schema.add(StructField("payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val seedIdx = df.schema.fieldIndex(seedCol)
    val n = width * height
    df.mapPartitions { rows =>
      rows.map { r =>
        val seed = r.getLong(seedIdx)
        val frames = (0 until nFrames).map { f =>
          val idx = new Array[Byte](n)
          var p = 0
          while (p < n) {
            idx(p) = (((seed * 7 + f.toLong * n + p) % 251 + 251) % 251).toByte
            p += 1
          }
          idx
        }
        Row.fromSeq(r.toSeq :+ gifContainer(width, height, frames))
      }
    }(enc)
  }

  /** Minimal 24-bit BI_RGB BMP writer for the fixtures: 54-byte
    * header pair, bottom-up rows, 4-byte padding — the exact layout
    * [[decodeBmp]] documents. `rgb` is top-down row-major RGB. */
  private[graft] def bmpContainer(width: Int, height: Int,
      rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height * 3, "raster/geometry mismatch")
    val rowSize = (width * 3 + 3) / 4 * 4
    val size = 54 + rowSize * height
    val out = new Array[Byte](size)
    def le16(o: Int, v: Int): Unit = { out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte }
    def le32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
      out(o + 2) = ((v >> 16) & 0xff).toByte; out(o + 3) = ((v >> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le32(2, size); le32(10, 54)
    le32(14, 40); le32(18, width); le32(22, height)
    le16(26, 1); le16(28, 24); le32(30, 0)
    le32(34, rowSize * height)
    var r = 0
    while (r < height) {
      val dst = 54 + (height - 1 - r) * rowSize // bottom-up
      var x = 0
      while (x < width) {
        val s = (r * width + x) * 3
        out(dst + x * 3) = rgb(s + 2) // B
        out(dst + x * 3 + 1) = rgb(s + 1) // G
        out(dst + x * 3 + 2) = rgb(s) // R
        x += 1
      }
      r += 1
    }
    out
  }

  /** Deterministic BMP test-pattern generator — [[syntheticPpm]]'s
    * arithmetic behind the Windows bitmap container (BGR swap, row
    * padding, bottom-up order): top-down RGB raster byte j is
    * `(seed * 7 + j) % 251`, so `l08k_bmp_decode`'s oracle is the PPM
    * oracle with format tag 9 — any padding/flip/swap mistake in the
    * decoder changes the channel means and fails the hash. */
  def syntheticBmp(df: DataFrame, seedCol: String, width: Int, height: Int): DataFrame = {
    require(width >= 1 && height >= 1, "syntheticBmp needs positive dims")
    require(!df.columns.contains("payload"), "input already has a 'payload' column")
    val outSchema = df.schema.add(StructField("payload", BinaryType))
    val enc = RowEncoder.encoderFor(outSchema)
    val seedIdx = df.schema.fieldIndex(seedCol)
    val n = width * height * 3
    df.mapPartitions { rows =>
      rows.map { r =>
        val seed = r.getLong(seedIdx)
        val rgb = new Array[Byte](n)
        var j = 0
        while (j < n) {
          rgb(j) = (((seed * 7 + j) % 251 + 251) % 251).toByte
          j += 1
        }
        Row.fromSeq(r.toSeq :+ bmpContainer(width, height, rgb))
      }
    }(enc)
  }

  /** Resize stub: truncate the payload to `targetBytes` and update the
    * metadata — the byte-level shape of an image downscale (real codec
    * absent from this container; the schema and per-row transform are
    * the production plumbing). */
  def resize(df: DataFrame, targetBytes: Int): DataFrame =
    df.withColumn("payload", substring(col("payload"), 1, targetBytes))
      .withColumn("meta", struct(
        col("meta.modality").alias("modality"),
        length(col("payload")).cast(LongType).alias("byte_len"),
        col("meta.format").alias("format")))

  /** Frame-sample stub: emit every `stride`-th "frame" index with a
    * per-frame fingerprint — the 1→N explode shape of video sampling. */
  def frameSample(df: DataFrame, nFrames: Int, stride: Int): DataFrame = {
    // sequence(0, (n-1)*stride, stride) throws at RUNTIME on the first
    // row for nFrames=0 (stop below start) or stride=0 (zero step) —
    // fail at the call site instead
    require(nFrames >= 1, "frameSample needs nFrames >= 1")
    require(stride >= 1, "frameSample needs stride >= 1")
    df.withColumn("frame_idx",
        explode(sequence(lit(0), lit((nFrames - 1) * stride), lit(stride))))
      .withColumn("frame_fp",
        abs(hash(col("payload"), col("frame_idx")).cast(LongType)))
  }
}
