package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal-column plumbing (north-star operator): media as opaque
  * `binary` columns with typed metadata, plus a batched decode /
  * feature-extract path.
  *
  * Native image/audio codecs aren't in this environment, so the decode
  * tier targets binary PPM (netpbm P6) — a real raster format a JVM can
  * parse from first principles ([[decodePpm]]: ASCII header + raw RGB
  * raster, strict truncation handling, per-channel sums). The Spark
  * plumbing is what matters at 100 TB:
  *  - media rides in a `BinaryType` column next to a metadata struct
  *    (format/width/height), so scans prune it unless the query touches it;
  *  - decode runs through `Dataset.mapPartitions` with explicit batching
  *    (`grouped(64)`) — the JVM analog of an Arrow-batched `mapInPandas`
  *    decode: one codec init per batch, vectorizable body, no per-row
  *    driver involvement, output schema declared by the `PpmFeat` encoder;
  *  - rejects stay in-band (`fmt_ok = false`, null features) — the
  *    dead-letter shape, so one mangled crawl can't fail a 100 TB stage;
  *  - everything downstream of decode is ordinary columnar DataFrame work.
  *
  * Payloads are synthesized from `documents.text` bytes (UTF-8 raster),
  * so the DuckDB oracle recomputes every decoded feature from the text
  * itself — header math and channel sums, identical in both engines.
  */
object Multimodal {

  /** Input row for the decode stage: key + raw media bytes. */
  final case class MediaIn(doc_id: Long, payload: Array[Byte])

  /** Decoded image features: header fields + per-channel raster sums.
    * Nullable fields are None when the payload doesn't decode
    * (`fmt_ok = false`) — the dead-letter shape, kept in-band so the
    * pipeline can quarantine rejects instead of throwing. */
  final case class PpmFeat(doc_id: Long, fmt_ok: Boolean,
                           width: Option[Int], height: Option[Int],
                           maxval: Option[Int], n_px: Option[Long],
                           sum_r: Option[Long], sum_g: Option[Long],
                           sum_b: Option[Long])

  /** REAL pure-JVM decoder for binary PPM (netpbm P6): parses the ASCII
    * header (magic, width, height, maxval — whitespace-separated), then
    * reads the raw RGB raster and folds per-channel byte sums. Strict on
    * the raster length (a truncated payload is a reject, not a partial
    * decode) — the failure mode that matters when the corpus carries
    * mangled crawls. No native codecs: P6 is the deliberate choice of a
    * format a JVM can decode from first principles. */
  /** Parse a P6 header: returns (width, height, maxval, raster offset),
    * or None for any malformation (bad magic, overflowing dims, missing
    * separator, truncated raster) — shared by the decode and resize
    * lanes so header strictness can't drift between them. */
  private def parsePpmHeader(b: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    def isWs(c: Byte) = c == ' ' || c == '\n' || c == '\t' || c == '\r'
    var i = 2
    // parse one whitespace-preceded ASCII unsigned int; -1 = malformed
    def parseInt(): Long = {
      while (i < b.length && isWs(b(i))) i += 1
      val st = i
      var v = 0L
      while (i < b.length && b(i) >= '0' && b(i) <= '9' && v <= Int.MaxValue) {
        v = v * 10 + (b(i) - '0'); i += 1
      }
      if (i == st || v > Int.MaxValue) -1L else v
    }
    if (b.length < 2 || b(0) != 'P' || b(1) != '6') return None
    val (w, h, mv) = (parseInt(), parseInt(), parseInt())
    if (w < 0 || h < 0 || mv <= 0 || mv > 255) return None
    // exactly ONE whitespace byte separates maxval from the raster (spec);
    // then the raster must be complete
    if (i >= b.length || !isWs(b(i))) return None
    i += 1
    if (i + w * h * 3 > b.length) return None
    Some((w.toInt, h.toInt, mv.toInt, i))
  }

  def decodePpm(m: MediaIn): PpmFeat = {
    val b = m.payload
    val bad = PpmFeat(m.doc_id, fmt_ok = false, None, None, None, None, None, None, None)
    parsePpmHeader(b) match {
      case None => bad
      case Some((w, h, mv, off)) =>
        var (sr, sg, sb) = (0L, 0L, 0L)
        var j = off
        val end = off + w * h * 3
        while (j < end) {
          sr += b(j) & 0xff
          sg += b(j + 1) & 0xff
          sb += b(j + 2) & 0xff
          j += 3
        }
        PpmFeat(m.doc_id, fmt_ok = true, Some(w), Some(h),
          Some(mv), Some(w.toLong * h), Some(sr), Some(sg), Some(sb))
    }
  }

  /** Resized-raster features: the decode → RESIZE stage image pipelines
    * run before feature extraction. Same dead-letter shape as the other
    * decoders; an empty (0-pixel) raster resizes to 0×0 with zero sums. */
  final case class ResizeFeat(doc_id: Long, fmt_ok: Boolean,
                              out_w: Option[Int], out_h: Option[Int],
                              sum_r: Option[Long], sum_g: Option[Long],
                              sum_b: Option[Long])

  /** Decode a P6 payload, then nearest-neighbor-resample its raster to a
    * fixed outDim×outDim grid: out(r, c) = in(r·h DIV outDim,
    * c·w DIV outDim) — pure integer index math, so every engine (and the
    * oracle) lands on the identical source pixel. Folds per-channel sums
    * of the SAMPLED pixels only; the full raster is read but never
    * copied. Down- and up-sampling both work (an input smaller than the
    * grid repeats pixels — standard nearest-neighbor). */
  def decodeResizePpm(m: MediaIn, outDim: Int = 8): ResizeFeat = {
    val b = m.payload
    val bad = ResizeFeat(m.doc_id, fmt_ok = false, None, None, None, None, None)
    parsePpmHeader(b) match {
      case None => bad
      case Some((w, h, _, off)) =>
        if (w == 0 || h == 0)
          ResizeFeat(m.doc_id, fmt_ok = true, Some(0), Some(0),
            Some(0L), Some(0L), Some(0L))
        else {
          var (sr, sg, sb) = (0L, 0L, 0L)
          var r = 0
          while (r < outDim) {
            // Long intermediate: r*h overflows Int for a legal ~2GB 1xN
            // raster (h up to ~715M, r>=4) — the quotient itself always
            // fits (sy < h), only the product needs widening.
            val sy = (r.toLong * h / outDim).toInt
            var c = 0
            while (c < outDim) {
              val sx = (c.toLong * w / outDim).toInt
              val p = off + 3 * (sy * w + sx)
              sr += b(p) & 0xff; sg += b(p + 1) & 0xff; sb += b(p + 2) & 0xff
              c += 1
            }
            r += 1
          }
          ResizeFeat(m.doc_id, fmt_ok = true, Some(outDim), Some(outDim),
            Some(sr), Some(sg), Some(sb))
        }
    }
  }

  /** Batched resize — the transform tier of the multimodal lane. */
  def decodeResizeBatched(in: Dataset[MediaIn])(implicit s: SparkSession): Dataset[ResizeFeat] = {
    import s.implicits._
    in.mapPartitions(_.grouped(64).flatMap(_.map(m => decodeResizePpm(m))))
  }

  /** The batched decode operator: binary rows in, feature rows out.
    * Batching bounds per-batch codec state; partitions stream through. */
  def decodeBatched(in: Dataset[MediaIn])(implicit s: SparkSession): Dataset[PpmFeat] = {
    import s.implicits._
    in.mapPartitions(_.grouped(64).flatMap(_.map(decodePpm)))
  }

  /** Decoded audio features from the RIFF/WAV walk: header fields +
    * signed-sample fold (count, sum, peak |s|, energy). Same dead-letter
    * shape as [[PpmFeat]]: `fmt_ok = false` + nulls on reject. */
  final case class WavFeat(doc_id: Long, fmt_ok: Boolean,
                           sample_rate: Option[Int], n_channels: Option[Int],
                           bits: Option[Int], n_samples: Option[Long],
                           sum_samples: Option[Long], peak_abs: Option[Int],
                           sum_sq: Option[Long])

  /** Synthesize a canonical 44-byte PCM WAV around `text`'s bytes as
    * 16-bit little-endian mono samples (an odd trailing byte is dropped —
    * the data chunk is whole samples by construction). `corrupt` flips
    * the RIFF magic so the reject arm is exercised in-band. */
  def wavBytes(docId: Long, tb: Array[Byte], corrupt: Boolean): Array[Byte] = {
    val dataSize = (tb.length / 2) * 2
    val rate = (8000 + (docId % 3) * 4000).toInt
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put((if (corrupt) "RIFX" else "RIFF").getBytes("US-ASCII"))
    bb.putInt(36 + dataSize).put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1).putShort(1) // PCM, mono
    bb.putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
    bb.put(tb, 0, dataSize)
    bb.array()
  }

  /** REAL pure-JVM RIFF/WAV (PCM 16-bit) decoder: validates the RIFF
    * container, walks chunks to `fmt ` and `data`, rejects non-PCM /
    * non-16-bit / truncated payloads, and folds the signed little-endian
    * samples into count/sum/peak/energy — the audio analog of
    * [[decodePpm]], same strictness contract (a truncated data chunk is
    * a reject, not a partial decode). */
  def decodeWav(m: MediaIn): WavFeat = {
    val b = m.payload
    val bad = WavFeat(m.doc_id, fmt_ok = false, None, None, None, None, None, None, None)
    def tag(off: Int): String =
      if (off + 4 > b.length) "" else new String(b, off, 4, "US-ASCII")
    def u32(off: Int): Long =
      (b(off) & 0xffL) | (b(off + 1) & 0xffL) << 8 |
        (b(off + 2) & 0xffL) << 16 | (b(off + 3) & 0xffL) << 24
    def u16(off: Int): Int = (b(off) & 0xff) | (b(off + 1) & 0xff) << 8
    if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return bad
    if (u32(4) != b.length - 8) return bad
    // chunk walk: find fmt and data (canonical layout puts them in order,
    // but the walk is the honest container parse)
    var off = 12
    var (rate, ch, bits, fmtOk) = (0, 0, 0, false)
    var dataOff = -1
    var dataLen = -1L
    while (off + 8 <= b.length && (dataOff < 0 || !fmtOk)) {
      val t = tag(off); val sz = u32(off + 4)
      // sz is an unsigned u32 from untrusted bytes: a value >= 2^31 would
      // truncate to a negative Int and send the walk backwards (or loop at
      // a zero step) — reject instead of walking. Also reject a declared
      // size that overruns the payload: that's a truncated container.
      if (sz > Int.MaxValue - 9 || off + 8 + sz > b.length) return bad
      if (t == "fmt " && sz >= 16 && off + 8 + 16 <= b.length) {
        if (u16(off + 8) == 1) { // PCM only
          ch = u16(off + 10); rate = u32(off + 12).toInt
          bits = u16(off + 22); fmtOk = true
        }
      } else if (t == "data") { dataOff = off + 8; dataLen = sz }
      off += 8 + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
    }
    if (!fmtOk || ch != 1 || bits != 16 || dataOff < 0) return bad
    if (dataLen % 2 != 0 || dataOff + dataLen > b.length) return bad
    var (n, sum, sq) = (0L, 0L, 0L)
    var peak = 0
    var j = dataOff
    val end = dataOff + dataLen.toInt
    while (j < end) {
      val v = (u16(j) << 16) >> 16 // sign-extend 16-bit LE
      n += 1; sum += v; sq += v.toLong * v
      if (math.abs(v) > peak) peak = math.abs(v)
      j += 2
    }
    WavFeat(m.doc_id, fmt_ok = true, Some(rate), Some(ch), Some(bits),
      Some(n), Some(sum), Some(peak), Some(sq))
  }

  /** Batched WAV decode — the audio lane of the multimodal decode tier. */
  def decodeWavBatched(in: Dataset[MediaIn])(implicit s: SparkSession): Dataset[WavFeat] = {
    import s.implicits._
    in.mapPartitions(_.grouped(64).flatMap(_.map(decodeWav)))
  }

  /** Decoded gzip-member features: byte/token/byte-sum stats of the
    * DECOMPRESSED text. Same dead-letter shape as the other decoders. */
  final case class GzFeat(doc_id: Long, ok: Boolean, n_bytes: Option[Long],
                          ws_tokens: Option[Long], sum_bytes: Option[Long])

  /** Gzip a text payload, with two deterministic corruption arms: a
    * broken magic (header reject) and a flipped trailer ISIZE byte
    * (integrity reject after a full inflate). */
  def gzipBytes(tb: Array[Byte], corruptHdr: Boolean, corruptTrailer: Boolean): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(tb); gz.close()
    val out = bos.toByteArray
    if (corruptHdr) out(0) = 0x00
    if (corruptTrailer) out(out.length - 1) = (out(out.length - 1) ^ 0x41).toByte
    out
  }

  /** REAL pure-JVM gzip (RFC 1952) member decoder: validates the magic +
    * method, walks the optional FEXTRA/FNAME/FCOMMENT/FHCRC header
    * fields, inflates the raw-deflate body (`Inflater(nowrap)`), and
    * verifies BOTH trailer integrity fields — CRC32 and ISIZE — against
    * the decompressed stream. A corpus's .gz shards are exactly this
    * container (one member per file in the common crawl layout); the
    * stats fold (bytes, single-space tokens, byte sum) happens inside
    * the inflate loop, so the decompressed text never materializes. */
  def decodeGzip(m: MediaIn): GzFeat = {
    val b = m.payload
    val bad = GzFeat(m.doc_id, ok = false, None, None, None)
    if (b.length < 18) return bad
    if ((b(0) & 0xff) != 0x1f || (b(1) & 0xff) != 0x8b || b(2) != 8) return bad
    val flg = b(3) & 0xff
    var off = 10
    if ((flg & 4) != 0) {
      if (off + 2 > b.length) return bad
      off += 2 + ((b(off) & 0xff) | ((b(off + 1) & 0xff) << 8))
    }
    def skipZeroTerminated(): Boolean = {
      while (off < b.length && b(off) != 0) off += 1
      if (off >= b.length) false else { off += 1; true }
    }
    if ((flg & 8) != 0 && !skipZeroTerminated()) return bad
    if ((flg & 16) != 0 && !skipZeroTerminated()) return bad
    if ((flg & 2) != 0) {
      // FHCRC: CRC16 = low 16 bits of CRC32 over every header byte that
      // precedes this field (RFC 1952 §2.3.1) — verified, not skipped, so
      // a member with a corrupted header CRC is rejected even when the
      // body still inflates cleanly.
      if (off + 2 > b.length) return bad
      val hcrc = new java.util.zip.CRC32
      hcrc.update(b, 0, off)
      val stored = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
      if ((hcrc.getValue & 0xffffL).toInt != stored) return bad
      off += 2
    }
    if (off > b.length - 8) return bad
    val inf = new java.util.zip.Inflater(true)
    inf.setInput(b, off, b.length - off - 8)
    val crc = new java.util.zip.CRC32
    val buf = new Array[Byte](8192)
    var n = 0L; var sum = 0L; var spaces = 0L
    try {
      var done = false
      while (!done) {
        val k = inf.inflate(buf)
        if (k > 0) {
          crc.update(buf, 0, k)
          var i = 0
          while (i < k) {
            val c = buf(i) & 0xff
            sum += c
            if (c == ' ') spaces += 1
            i += 1
          }
          n += k
        } else if (inf.finished()) done = true
        else return bad // inflater stalled: truncated deflate stream
      }
      def u32(o: Int): Long =
        (b(o) & 0xffL) | (b(o + 1) & 0xffL) << 8 |
          (b(o + 2) & 0xffL) << 16 | (b(o + 3) & 0xffL) << 24
      val t = b.length - 8
      if (u32(t) != crc.getValue || u32(t + 4) != (n & 0xffffffffL)) return bad
      GzFeat(m.doc_id, ok = true, Some(n), Some(spaces + 1), Some(sum))
    } catch {
      case _: java.util.zip.DataFormatException => bad
    } finally inf.end()
  }

  /** Batched gzip decode — the compressed-text lane of the decode tier. */
  def decodeGzipBatched(in: Dataset[MediaIn])(implicit s: SparkSession): Dataset[GzFeat] = {
    import s.implicits._
    in.mapPartitions(_.grouped(64).flatMap(_.map(decodeGzip)))
  }

  /** Decoded PNG features — header fields + per-channel raster sums,
    * same shape as [[PpmFeat]] (bit depth in place of maxval). */
  final case class PngFeat(doc_id: Long, fmt_ok: Boolean,
                           width: Option[Int], height: Option[Int],
                           bit_depth: Option[Int], n_px: Option[Long],
                           sum_r: Option[Long], sum_g: Option[Long],
                           sum_b: Option[Long])

  private val PngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** PNG Paeth predictor (spec §9.4) — shared by encode and decode. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Synthesize a REAL 8-bit RGB PNG around a w×h raster (row r uses
    * filter type r % 5, so all five PNG filters are exercised on the
    * decode side): signature + IHDR + one zlib IDAT + IEND, each chunk
    * CRC32-protected. `corrupt` flips a byte of the IHDR CRC so the
    * integrity-reject arm runs. */
  def pngBytes(raster: Array[Byte], w: Int, h: Int, corrupt: Boolean): Array[Byte] = {
    val bpp = 3
    val stride = w * bpp
    val filtered = new Array[Byte](h * (1 + stride))
    var r = 0
    while (r < h) {
      val ft = r % 5
      filtered(r * (1 + stride)) = ft.toByte
      var x = 0
      while (x < stride) {
        val raw = raster(r * stride + x) & 0xff
        val left = if (x >= bpp) raster(r * stride + x - bpp) & 0xff else 0
        val up = if (r > 0) raster((r - 1) * stride + x) & 0xff else 0
        val upLeft = if (r > 0 && x >= bpp) raster((r - 1) * stride + x - bpp) & 0xff else 0
        val v = ft match {
          case 0 => raw
          case 1 => raw - left
          case 2 => raw - up
          case 3 => raw - (left + up) / 2
          case 4 => raw - paeth(left, up, upLeft)
        }
        filtered(r * (1 + stride) + 1 + x) = (v & 0xff).toByte
        x += 1
      }
      r += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(filtered); deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) zbuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val out = PngSig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", zbuf.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
    if (corrupt) out(8 + 8 + 13 + 2) = (out(8 + 8 + 13 + 2) ^ 0x41).toByte
    out
  }

  /** REAL pure-JVM PNG decoder (8-bit RGB, non-interlaced): validates
    * the signature, walks the chunk stream verifying EVERY chunk's
    * CRC32, parses IHDR, zlib-inflates the concatenated IDAT stream,
    * reverses all five scanline filters (None/Sub/Up/Average/Paeth,
    * spec §9), and folds per-channel sums. Strict: a CRC mismatch, a
    * wrong inflated length, an unknown filter type, or a missing IEND
    * is a reject — never a partial decode. */
  def decodePng(m: MediaIn): PngFeat = {
    val b = m.payload
    val bad = PngFeat(m.doc_id, fmt_ok = false, None, None, None, None, None, None, None)
    if (b.length < 8 + 25 || !PngSig.indices.forall(i => b(i) == PngSig(i))) return bad
    def u32(o: Int): Long =
      (b(o) & 0xffL) << 24 | (b(o + 1) & 0xffL) << 16 |
        (b(o + 2) & 0xffL) << 8 | (b(o + 3) & 0xffL)
    var off = 8
    var (w, h, depth) = (-1, -1, -1)
    val idat = new java.io.ByteArrayOutputStream()
    var sawEnd = false
    while (!sawEnd) {
      if (off + 12 > b.length) return bad
      val len = u32(off)
      if (len > Int.MaxValue - 12 || off + 12 + len > b.length) return bad
      val typ = new String(b, off + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(b, off + 4, 4 + len.toInt)
      if (crc.getValue != u32(off + 8 + len.toInt)) return bad
      typ match {
        case "IHDR" =>
          if (len != 13) return bad
          w = u32(off + 8).toInt; h = u32(off + 12).toInt
          depth = b(off + 16) & 0xff
          val (color, comp, filt, inter) =
            (b(off + 17) & 0xff, b(off + 18) & 0xff, b(off + 19) & 0xff, b(off + 20) & 0xff)
          if (w < 0 || h < 0 || depth != 8 || color != 2 ||
              comp != 0 || filt != 0 || inter != 0) return bad
        case "IDAT" => idat.write(b, off + 8, len.toInt)
        case "IEND" => sawEnd = true
        case _ => () // ancillary chunks: CRC-checked above, content skipped
      }
      off += 12 + len.toInt
    }
    if (w < 0) return bad // no IHDR seen
    val bpp = 3
    if (w.toLong * bpp > Int.MaxValue) return bad // stride must fit an Int
    val stride = w * bpp
    val want = h.toLong * (1 + stride)
    if (want > Int.MaxValue) return bad
    val raw = new Array[Byte](want.toInt)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    try {
      var got = 0
      while (!inf.finished()) {
        val k = inf.inflate(raw, got, raw.length - got)
        if (k > 0) got += k
        else if (!inf.finished()) {
          // zero progress: output full (probe for excess/end) or truncated
          if (got < raw.length) return bad // stalled: truncated stream
          val probe = new Array[Byte](1)
          if (inf.inflate(probe) > 0 || !inf.finished()) return bad // too long
        }
      }
      if (got != raw.length) return bad
    } catch { case _: java.util.zip.DataFormatException => return bad }
    finally inf.end()
    // reverse the scanline filters in place (recon overwrites raw)
    val recon = new Array[Byte](h * stride)
    var r = 0
    while (r < h) {
      val ft = raw(r * (1 + stride)) & 0xff
      if (ft > 4) return bad
      var x = 0
      while (x < stride) {
        val f = raw(r * (1 + stride) + 1 + x) & 0xff
        val left = if (x >= bpp) recon(r * stride + x - bpp) & 0xff else 0
        val up = if (r > 0) recon((r - 1) * stride + x) & 0xff else 0
        val upLeft = if (r > 0 && x >= bpp) recon((r - 1) * stride + x - bpp) & 0xff else 0
        val v = ft match {
          case 0 => f
          case 1 => f + left
          case 2 => f + up
          case 3 => f + (left + up) / 2
          case 4 => f + paeth(left, up, upLeft)
        }
        recon(r * stride + x) = (v & 0xff).toByte
        x += 1
      }
      r += 1
    }
    var (sr, sg, sb) = (0L, 0L, 0L)
    var j = 0
    while (j < recon.length) {
      sr += recon(j) & 0xff; sg += recon(j + 1) & 0xff; sb += recon(j + 2) & 0xff
      j += 3
    }
    PngFeat(m.doc_id, fmt_ok = true, Some(w), Some(h), Some(depth),
      Some(w.toLong * h), Some(sr), Some(sg), Some(sb))
  }

  /** Batched PNG decode. */
  def decodePngBatched(in: Dataset[MediaIn])(implicit s: SparkSession): Dataset[PngFeat] = {
    import s.implicits._
    in.mapPartitions(_.grouped(64).flatMap(_.map(decodePng)))
  }

  /** Perceptual (near-dup) media dedup: SimHash-32 over the payload's
    * byte-3-gram rolling hashes (`graft_bytesimhash` — one compiled pass
    * per payload), banded 4×8-bit for candidates, hamming ≤ 3 verify —
    * the [[graft.llm.Dedup]] SimHash machinery applied to media BYTES, so
    * re-encoded/trimmed/lightly-edited copies of the same asset match
    * where `q_llm_media_dedup`'s exact md5 cannot (the case that actually
    * occurs in crawled corpora). Candidates come ONLY from the band
    * equi-join (never all-pairs); the payload itself never shuffles —
    * only the 1-long fingerprint does. */
  private[graft] def mediaNearDupOf(d: DataFrame): DataFrame = {
    // ASCII payloads: byte stream == codepoint stream (decodeStub note),
    // so the fingerprint reads the text column the payload was encoded
    // from — one kernel call, no byte-array materialization
    val fp = d.selectExpr("doc_id", "graft_bytesimhash(text) AS fp")
      .localCheckpoint() // band self-join sides + two re-attach joins
    val bandStructs = (0 until 4).map(bd =>
      s"named_struct('band_idx', $bd, 'band_key', shiftright(fp, ${bd * graft.functions.GraftKernels.SimBandBits}) & ${graft.functions.GraftKernels.SimBandMask}L)")
      .mkString(", ")
    val bands = fp.selectExpr("doc_id", s"explode(array($bandStructs)) AS band")
      .selectExpr("doc_id", "band.band_idx AS band_idx", "band.band_key AS band_key")
    // stop-bucket cap: letter-trigram statistics CONVERGE across long
    // texts of the same language, so without the cap whole-corpus band
    // buckets appear and the pair join goes quadratic (Dedup.BandCapFloor
    // scaladoc has the measurement); both engines cap identically
    val kept = Dedup.capSimBands(bands,
      d.agg(count(lit(1)).as("n_corpus"))).localCheckpoint()
    val cand = kept.alias("a").join(kept.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(fp.select(col("doc_id").as("doc_a"), col("fp").as("fa")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("fp").as("fb")), "doc_b")
      .selectExpr("doc_a", "doc_b", "CAST(bit_count(fa ^ fb) AS INT) AS hamming")
      .where(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Perceptual media near-dup (see [[mediaNearDupOf]]): byte-level
    // SimHash banding over payloads — catches byte-perturbed duplicates
    // exact content hashing misses.
    "q_llm_media_neardup" -> ((s, dir) =>
      mediaNearDupOf(Tables.load(s, dir, "documents"))),

    // Frame-level clip dedup: find pairs of media items that SHARE frames
    // — re-posted clips embedded in longer videos, intros/outros stitched
    // onto different content — which whole-payload hashing (exact or
    // perceptual) cannot see because the containers differ. Each item
    // explodes into ceil(len/100)-byte frames (the media_frames
    // convention; ceil so no empty tail frame), each frame gets an exact
    // content fingerprint, and pairs come ONLY from the per-fingerprint
    // equi-join: fingerprints seen in just one item can't pair (df >= 2
    // prunes the join input to the shared tail), and fingerprints in more
    // than greatest(50, N DIV 100) items are stop-frames (color bars,
    // silence — the corpus-relative stop-shingle cap applied to frame
    // geometry; without it one ubiquitous frame makes the join
    // quadratic). Per-pair report: shared frame count, both lengths,
    // overlap vs the shorter item, and an integer-arithmetic verdict.
    // The payload never shuffles — only (doc_id, fp) rows do.
    "q_llm_media_clip_dedup" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val frames = d
        .selectExpr("doc_id", "text", "(length(text) + 99) DIV 100 AS nf")
        .selectExpr("doc_id", "text", "nf", "explode(sequence(0, nf - 1)) AS i")
        .selectExpr("doc_id", "nf",
          "graft_charhash(substring(text, CAST(i * 100 + 1 AS INT), 100)) AS fp")
        .distinct() // set semantics: a frame repeated within one item counts once
        .localCheckpoint() // feeds the df count AND both join sides
      val n = d.agg(count(lit(1)).as("n_corpus"))
      val pairable = frames.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .where(expr("df >= 2 AND df <= greatest(50, n_corpus DIV 100)"))
        .select("fp")
      val kept = frames.join(pairable, "fp")
      kept.alias("a").join(kept.alias("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(max(col("a.nf")).as("nf_a"), max(col("b.nf")).as("nf_b"),
          count(lit(1)).as("shared_frames"))
        .withColumn("overlap", graft.util.Exact.fix(
          expr("CAST(shared_frames AS DOUBLE) / least(nf_a, nf_b)"), 4))
        .withColumn("verdict",
          expr("CASE WHEN 2 * shared_frames >= least(nf_a, nf_b) " +
            "THEN 'clip_dup' ELSE 'partial' END"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // Media metadata projection: binary payload + typed metadata struct;
    // the scan only materializes payload length, format, and dimensions.
    "q_llm_media_meta" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .selectExpr("doc_id",
          "encode(text, 'UTF-8') AS payload",
          "named_struct('fmt', CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END, " +
            "'width', 32 + (doc_id % 97) * 4, 'height', 32 + (doc_id % 53) * 4) AS meta")
        .selectExpr("doc_id", "meta.fmt AS fmt", "meta.width AS width",
          "meta.height AS height", "length(payload) AS n_bytes",
          "length(payload) div 100 + 1 AS n_frames")
        .orderBy(col("doc_id"))),

    // Frame sampling: explode each media item into its frames (the
    // expand -> per-frame work -> re-aggregate multimodal shape), with a
    // deterministic per-frame feature; verified against the closed-form
    // aggregate (sum of 0..nf-1 = nf(nf-1)/2) so the explode path is
    // provably lossless.
    "q_llm_media_frames" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .selectExpr("doc_id",
          "CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS fmt",
          "length(encode(text, 'UTF-8')) div 100 + 1 AS n_frames")
        .selectExpr("doc_id", "fmt", "explode_outer(sequence(0, n_frames - 1)) AS frame_idx")
        .groupBy(col("fmt"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_frames_total"),
          sum(col("frame_idx")).as("frame_idx_sum"))
        .orderBy(col("fmt"))),

    // Exact media dedup by content hash — the first dedup stage of every
    // multimodal pipeline (byte-identical re-crawls/re-encodes of the
    // same asset): hash the raw payload BYTES (md5 + length, never the
    // decoded content), elect the min-id copy canonical, flag the rest
    // as drops. One scan + one hash-partitioned window; the payload
    // itself never shuffles (only the 32-hex hash does).
    "q_llm_media_dedup" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("content_hash"))
      Tables.load(s, dir, "documents")
        .selectExpr("doc_id", "encode(text, 'UTF-8') AS payload")
        .selectExpr("doc_id", "md5(payload) AS content_hash",
          "length(payload) AS n_bytes")
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .withColumn("n_copies", count(lit(1)).over(w))
        .selectExpr("doc_id", "content_hash", "n_bytes", "canonical_id",
          "n_copies", "doc_id = canonical_id AS keep")
        .orderBy(col("doc_id"))
    },

    // Batched REAL decode: synthesize a binary PPM (P6) per document —
    // ASCII header + the text's bytes as the RGB raster, w = min(npx, 16)
    // columns — then run the pure-JVM parser through the batched
    // mapPartitions path and return header fields + per-channel raster
    // sums. Every ~53rd payload gets a corrupted magic, so the reject
    // (dead-letter) arm is exercised in-band: fmt_ok=false, null fields.
    // The oracle recomputes header math and channel sums from the same
    // text bytes (i % 3 picks the channel), so the decode is checked
    // against first principles, not against another decoder.
    "q_llm_media_decode" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val in = Tables.load(s, dir, "documents")
        .selectExpr("doc_id", "text",
          "CAST(length(encode(text, 'UTF-8')) AS BIGINT) DIV 3 AS npx0")
        .selectExpr("doc_id", "text", "npx0", "least(npx0, 16L) AS w")
        .selectExpr("doc_id", "text", "w",
          "IF(w = 0, 0L, npx0 DIV w) AS h")
        .selectExpr("doc_id",
          "concat(encode(concat(" +
            "CASE WHEN doc_id % 53 = 0 THEN 'XX' ELSE 'P6' END, '\\n', " +
            "CAST(w AS STRING), ' ', CAST(h AS STRING), '\\n255\\n'), 'UTF-8'), " +
            "substring(encode(text, 'UTF-8'), 1, CAST(w * h * 3 AS INT))) AS payload")
        .as[MediaIn]
      decodeBatched(in).toDF()
        .orderBy(col("doc_id"))
    },

    // The RESIZE stage: decode the same P6 payload, nearest-neighbor
    // resample to a fixed 8×8 grid (out(r,c) = in(r·h DIV 8, c·w DIV 8)
    // — pure integer index math), fold per-channel sums of the SAMPLED
    // pixels. The oracle recomputes the identical sample indices
    // directly over the text bytes, so the resize is checked against
    // first principles. Same %53 corrupt-magic dead-letter arm; ASCII
    // domain guard on both sides (the oracle indexes per character).
    "q_llm_media_resize" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val in = Tables.load(s, dir, "documents")
        .where("length(text) = octet_length(text)")
        .selectExpr("doc_id", "text",
          "CAST(length(encode(text, 'UTF-8')) AS BIGINT) DIV 3 AS npx0")
        .selectExpr("doc_id", "text", "npx0", "least(npx0, 16L) AS w")
        .selectExpr("doc_id", "text", "w",
          "IF(w = 0, 0L, npx0 DIV w) AS h")
        .selectExpr("doc_id",
          "concat(encode(concat(" +
            "CASE WHEN doc_id % 53 = 0 THEN 'XX' ELSE 'P6' END, '\\n', " +
            "CAST(w AS STRING), ' ', CAST(h AS STRING), '\\n255\\n'), 'UTF-8'), " +
            "substring(encode(text, 'UTF-8'), 1, CAST(w * h * 3 AS INT))) AS payload")
        .as[MediaIn]
      decodeResizeBatched(in).toDF()
        .orderBy(col("doc_id"))
    },

    // Batched REAL audio decode: wrap each document's bytes as 16-bit
    // little-endian mono PCM in a canonical RIFF/WAV container (synthesis
    // happens IN the distributed map — the payload never exists on the
    // driver), then run the pure-JVM chunk-walking parser through the
    // same batched mapPartitions path as the image lane. Every ~47th
    // payload gets a corrupted RIFF magic → in-band dead-letter row.
    // The oracle recomputes sample count/sum/peak/energy from the text
    // bytes from first principles (byte pairs little-endian, ASCII text
    // ⇒ byte == codepoint), so the decoder is checked against the
    // format spec, not against another decoder.
    "q_llm_media_wav_decode" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      val in = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          MediaIn(id, wavBytes(id, text.getBytes("UTF-8"), id % 47 == 0)) }
      decodeWavBatched(in).toDF()
        .orderBy(col("doc_id"))
    },

    // The PNG lane: same dims/raster as the PPM entry (so the oracle is
    // first-principles channel sums over the text bytes), but the
    // payload is a REAL 8-bit RGB PNG — zlib IDAT, all five scanline
    // filters cycling per row, per-chunk CRC32. The decode is the full
    // inverse walk: chunk CRC verification, inflate, unfilter
    // (Sub/Up/Average/Paeth reconstruction), channel fold. Every ~61st
    // payload gets a flipped IHDR CRC byte -> integrity-reject arm.
    "q_llm_media_png_decode" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      // ASCII-only domain guard (char count == UTF-8 byte count): the
      // oracle reconstructs raster bytes per CHARACTER (ascii(c)), which
      // only equals the UTF-8 byte walk for pure-ASCII text. Both sides
      // filter identically, so a future non-ASCII generator degrades to
      // fewer rows, never to a silent hash mismatch.
      val in = Tables.load(s, dir, "documents")
        .where("length(text) = octet_length(text)")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val tb = text.getBytes("UTF-8")
          val w = math.min(tb.length / 3, 16)
          val h = if (w == 0) 0 else (tb.length / 3) / w
          MediaIn(id, pngBytes(tb.take(w * h * 3), w, h, corrupt = id % 61 == 0)) }
      decodePngBatched(in).toDF()
        .orderBy(col("doc_id"))
    },

    // Compressed-text ingestion: every doc rides as a gzip member (the
    // .gz shard layout every crawl distributes), decoded by the REAL
    // RFC 1952 walk + Inflater + dual trailer verification. Two
    // deterministic corruption arms exercise both reject paths: broken
    // magic (header) and flipped ISIZE (integrity after full inflate).
    // Oracle recomputes the decompressed stats from the plain text.
    "q_llm_gzip_ingest" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      import s.implicits._
      // same ASCII-only guard as the PNG lane: oracle sums ascii(c) per
      // character, the decoder sums real UTF-8 bytes — equal iff ASCII
      val in = Tables.load(s, dir, "documents")
        .where("length(text) = octet_length(text)")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          MediaIn(id, gzipBytes(text.getBytes("UTF-8"),
            corruptHdr = id % 53 == 0, corruptTrailer = id % 59 == 0)) }
      decodeGzipBatched(in).toDF()
        .orderBy(col("doc_id"))
    })

  /** Relational mirror of graft_bytesimhash + banding over `src`: byte
    * array -> 3-gram shingle unnest -> 32 majority sums -> 4x8-bit bands
    * -> hamming <= 3. Docs under 3 bytes have no 3-grams and fingerprint
    * to 0 (the LEFT JOIN + coalesce arm). Parameterized so the
    * incremental/forget store entries can run it over a kept CTE. */
  private[llm] def duckMediaNearDupSql(src: String = "documents"): String = {
    val bandUnion = (0 until 4).map(bd =>
      s"SELECT doc_id, $bd AS band_idx, (fp >> ${bd * graft.functions.GraftKernels.SimBandBits}) & ${graft.functions.GraftKernels.SimBandMask} AS band_key FROM fp")
      .mkString("\n        UNION ALL ")
    s"""
      WITH bv AS (
        SELECT doc_id,
               list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)) AS bs
        FROM $src),
      sg AS (
        SELECT doc_id, unnest(${XHash.duckShingles("bs")}) AS h
        FROM bv WHERE len(bs) >= 3),
      bitsums AS (
        SELECT doc_id,
               ${Dedup.simhashSums}
        FROM sg GROUP BY doc_id),
      fp0 AS (SELECT doc_id, ${Dedup.simhashVal} AS fp FROM bitsums),
      fp AS (
        SELECT d.doc_id, coalesce(f.fp, CAST(0 AS BIGINT)) AS fp
        FROM $src d LEFT JOIN fp0 f ON d.doc_id = f.doc_id),
      bands AS (
        $bandUnion),
      ${Dedup.duckCapBandCtes(src)},
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bkept a JOIN bkept b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b,
             CAST(bit_count(xor(fa.fp, fb.fp)) AS INT) AS hamming
      FROM cand
      JOIN fp fa ON fa.doc_id = doc_a
      JOIN fp fb ON fb.doc_id = doc_b
      WHERE bit_count(xor(fa.fp, fb.fp)) <= 3
      ORDER BY doc_a, doc_b"""
  }

  def oracleSql: Map[String, String] = Map(
    "q_llm_media_neardup" -> duckMediaNearDupSql(),

    // frame slices via unnest(range), same ceil(len/100) frame count,
    // same df window [2, greatest(50, N DIV 100)], same exact per-frame
    // fingerprint (charhash of the ASCII slice == byte slice)
    "q_llm_media_clip_dedup" -> s"""
      WITH f0 AS (
        SELECT doc_id, (length(text) + 99) // 100 AS nf, text FROM documents),
      fr AS (
        SELECT DISTINCT doc_id, nf,
               ${XHash.duckCharHash("substring(text, CAST(i * 100 + 1 AS INT), 100)")} AS fp
        FROM (SELECT doc_id, nf, text, unnest(range(0, nf)) AS i FROM f0)),
      n AS (SELECT count(*) AS n_corpus FROM documents),
      pairable AS (
        SELECT fp FROM fr CROSS JOIN n
        GROUP BY fp, n_corpus
        HAVING count(*) >= 2 AND count(*) <= greatest(50, n_corpus // 100)),
      kept AS (SELECT fr.* FROM fr JOIN pairable USING (fp)),
      p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               max(a.nf) AS nf_a, max(b.nf) AS nf_b,
               count(*) AS shared_frames
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT doc_a, doc_b, nf_a, nf_b, shared_frames,
             ${graft.util.Exact.sqlFix(
               "CAST(shared_frames AS DOUBLE) / least(nf_a, nf_b)", 4)} AS overlap,
             CASE WHEN 2 * shared_frames >= least(nf_a, nf_b)
                  THEN 'clip_dup' ELSE 'partial' END AS verdict
      FROM p ORDER BY doc_a, doc_b""",

    "q_llm_media_meta" -> """
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS fmt,
             32 + (doc_id % 97) * 4 AS width,
             32 + (doc_id % 53) * 4 AS height,
             CAST(octet_length(encode(text)) AS INT) AS n_bytes,
             CAST(octet_length(encode(text)) AS BIGINT) // 100 + 1 AS n_frames
      FROM documents ORDER BY doc_id""",

    "q_llm_media_frames" -> """
      WITH f AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS fmt,
               CAST(octet_length(encode(text)) AS BIGINT) // 100 + 1 AS nf
        FROM documents)
      SELECT fmt, count(*) AS n_docs,
             CAST(sum(nf) AS BIGINT) AS n_frames_total,
             CAST(sum(nf * (nf - 1) / 2) AS BIGINT) AS frame_idx_sum
      FROM f GROUP BY fmt ORDER BY fmt""",

    "q_llm_media_dedup" -> """
      WITH h AS (
        SELECT doc_id, md5(text) AS content_hash,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes
        FROM documents)
      SELECT doc_id, content_hash, n_bytes,
             min(doc_id) OVER (PARTITION BY content_hash) AS canonical_id,
             count(*) OVER (PARTITION BY content_hash) AS n_copies,
             doc_id = min(doc_id) OVER (PARTITION BY content_hash) AS keep
      FROM h ORDER BY doc_id""",

    // first-principles mirror of the P6 decode: same w = least(n//3, 16),
    // h = npx0 // w header math, per-channel sums from ascii codes of the
    // raster slice (byte i lands in channel i % 3; ASCII text ⇒ byte ==
    // codepoint), corrupt-magic docs (% 53) as the null dead-letter arm
    "q_llm_media_decode" -> """
      WITH dims AS (
        SELECT doc_id, text,
               CAST(octet_length(encode(text)) AS BIGINT) // 3 AS npx0,
               least(CAST(octet_length(encode(text)) AS BIGINT) // 3, 16) AS w,
               doc_id % 53 = 0 AS corrupt
        FROM documents),
      d2 AS (
        SELECT doc_id, text, w, corrupt,
               CASE WHEN w = 0 THEN 0 ELSE npx0 // w END AS h
        FROM dims),
      px AS (
        SELECT doc_id, i % 3 AS c,
               ascii(substring(text, CAST(i + 1 AS INT), 1)) AS v
        FROM (SELECT doc_id, text, unnest(range(0, w * h * 3)) AS i
              FROM d2 WHERE NOT corrupt)),
      sums AS (
        SELECT doc_id,
               sum(CASE WHEN c = 0 THEN v END) AS sr,
               sum(CASE WHEN c = 1 THEN v END) AS sg,
               sum(CASE WHEN c = 2 THEN v END) AS sb
        FROM px GROUP BY doc_id)
      SELECT d.doc_id,
             NOT d.corrupt AS fmt_ok,
             CASE WHEN d.corrupt THEN NULL ELSE CAST(d.w AS INT) END AS width,
             CASE WHEN d.corrupt THEN NULL ELSE CAST(d.h AS INT) END AS height,
             CASE WHEN d.corrupt THEN NULL ELSE 255 END AS maxval,
             CASE WHEN d.corrupt THEN NULL ELSE CAST(d.w * d.h AS BIGINT) END AS n_px,
             CASE WHEN d.corrupt THEN NULL ELSE CAST(coalesce(s.sr, 0) AS BIGINT) END AS sum_r,
             CASE WHEN d.corrupt THEN NULL ELSE CAST(coalesce(s.sg, 0) AS BIGINT) END AS sum_g,
             CASE WHEN d.corrupt THEN NULL ELSE CAST(coalesce(s.sb, 0) AS BIGINT) END AS sum_b
      FROM d2 d LEFT JOIN sums s USING (doc_id)
      ORDER BY d.doc_id""",

    // first-principles mirror of the WAV decode: n_samples = bytes // 2,
    // sample i = bytes[2i] + 256*bytes[2i+1] sign-extended at 32768,
    // rate = 8000 + (doc_id % 3) * 4000, corrupt docs (% 47) → null arm
    // first-principles mirror of the resize: same header math, the 8×8
    // nearest-neighbor sample indices recomputed over the text bytes
    // (3·((r·h//8)·w + c·w//8) + ch), per-channel sums of the samples
    "q_llm_media_resize" -> """
      WITH dims AS (
        SELECT doc_id, text,
               CAST(octet_length(encode(text)) AS BIGINT) // 3 AS npx0,
               least(CAST(octet_length(encode(text)) AS BIGINT) // 3, 16) AS w,
               doc_id % 53 = 0 AS corrupt
        FROM documents
        WHERE length(text) = strlen(text)),
      d2 AS (
        SELECT doc_id, text, w, corrupt,
               CASE WHEN w = 0 THEN 0 ELSE npx0 // w END AS h
        FROM dims),
      px AS (
        SELECT d.doc_id, tc.ch,
               ascii(substring(d.text,
                 CAST(3 * ((tr.r * d.h // 8) * d.w + (tc2.c * d.w // 8))
                      + tc.ch + 1 AS INT), 1)) AS v
        FROM d2 d, range(0, 8) tr(r), range(0, 8) tc2(c), range(0, 3) tc(ch)
        WHERE NOT d.corrupt AND d.w > 0 AND d.h > 0),
      sums AS (
        SELECT doc_id,
               sum(CASE WHEN ch = 0 THEN v END) AS sr,
               sum(CASE WHEN ch = 1 THEN v END) AS sg,
               sum(CASE WHEN ch = 2 THEN v END) AS sb
        FROM px GROUP BY doc_id)
      SELECT d.doc_id,
             NOT d.corrupt AS fmt_ok,
             CASE WHEN d.corrupt THEN NULL
                  WHEN d.w = 0 OR d.h = 0 THEN 0 ELSE 8 END AS out_w,
             CASE WHEN d.corrupt THEN NULL
                  WHEN d.w = 0 OR d.h = 0 THEN 0 ELSE 8 END AS out_h,
             CASE WHEN d.corrupt THEN NULL
                  ELSE CAST(coalesce(s.sr, 0) AS BIGINT) END AS sum_r,
             CASE WHEN d.corrupt THEN NULL
                  ELSE CAST(coalesce(s.sg, 0) AS BIGINT) END AS sum_g,
             CASE WHEN d.corrupt THEN NULL
                  ELSE CAST(coalesce(s.sb, 0) AS BIGINT) END AS sum_b
      FROM d2 d LEFT JOIN sums s USING (doc_id)
      ORDER BY d.doc_id""",

    "q_llm_media_wav_decode" -> """
      WITH par AS (
        SELECT doc_id, text,
               CAST(octet_length(encode(text)) AS BIGINT) // 2 AS ns,
               CAST(8000 + (doc_id % 3) * 4000 AS INT) AS rate,
               doc_id % 47 = 0 AS corrupt
        FROM documents),
      smp AS (
        SELECT doc_id,
               ascii(substring(text, CAST(2 * i + 1 AS INT), 1))
                 + 256 * ascii(substring(text, CAST(2 * i + 2 AS INT), 1)) AS raw
        FROM (SELECT doc_id, text, unnest(range(0, ns)) AS i
              FROM par WHERE NOT corrupt)),
      sv AS (
        SELECT doc_id,
               CASE WHEN raw < 32768 THEN raw ELSE raw - 65536 END AS v
        FROM smp),
      agg AS (
        SELECT doc_id, count(*) AS n,
               CAST(sum(v) AS BIGINT) AS sum_samples,
               CAST(max(abs(v)) AS INT) AS peak_abs,
               CAST(sum(v * v) AS BIGINT) AS sum_sq
        FROM sv GROUP BY doc_id)
      SELECT p.doc_id,
             NOT p.corrupt AS fmt_ok,
             CASE WHEN p.corrupt THEN NULL ELSE p.rate END AS sample_rate,
             CASE WHEN p.corrupt THEN NULL ELSE 1 END AS n_channels,
             CASE WHEN p.corrupt THEN NULL ELSE 16 END AS bits,
             CASE WHEN p.corrupt THEN NULL ELSE p.ns END AS n_samples,
             CASE WHEN p.corrupt THEN NULL
                  ELSE CAST(coalesce(a.sum_samples, 0) AS BIGINT) END AS sum_samples,
             CASE WHEN p.corrupt THEN NULL
                  ELSE CAST(coalesce(a.peak_abs, 0) AS INT) END AS peak_abs,
             CASE WHEN p.corrupt THEN NULL
                  ELSE CAST(coalesce(a.sum_sq, 0) AS BIGINT) END AS sum_sq
      FROM par p LEFT JOIN agg a USING (doc_id)
      ORDER BY p.doc_id""",

    // identical dims/channel math to q_llm_media_decode's oracle; only
    // the corrupt arm (% 61, the flipped IHDR CRC) and the bit_depth
    // column differ — the PNG container round-trips the same raster
    "q_llm_media_png_decode" -> """
      WITH dims AS (
        SELECT doc_id, text,
               CAST(octet_length(encode(text)) AS BIGINT) // 3 AS npx0,
               least(CAST(octet_length(encode(text)) AS BIGINT) // 3, 16) AS w,
               doc_id % 61 = 0 AS corrupt
        FROM documents
        WHERE length(text) = strlen(text)),
      d2 AS (
        SELECT doc_id, text, w, corrupt,
               CASE WHEN w = 0 THEN 0 ELSE npx0 // w END AS h
        FROM dims),
      px AS (
        SELECT doc_id, i % 3 AS c,
               ascii(substring(text, CAST(i + 1 AS INT), 1)) AS v
        FROM (SELECT doc_id, text, unnest(range(0, w * h * 3)) AS i
              FROM d2 WHERE NOT corrupt)),
      sums AS (
        SELECT doc_id,
               sum(CASE WHEN c = 0 THEN v END) AS sr,
               sum(CASE WHEN c = 1 THEN v END) AS sg,
               sum(CASE WHEN c = 2 THEN v END) AS sb
        FROM px GROUP BY doc_id)
      SELECT d.doc_id,
             NOT d.corrupt AS fmt_ok,
             CASE WHEN d.corrupt THEN NULL ELSE CAST(d.w AS INT) END AS width,
             CASE WHEN d.corrupt THEN NULL ELSE CAST(d.h AS INT) END AS height,
             CASE WHEN d.corrupt THEN NULL ELSE 8 END AS bit_depth,
             CASE WHEN d.corrupt THEN NULL ELSE CAST(d.w * d.h AS BIGINT) END AS n_px,
             CASE WHEN d.corrupt THEN NULL ELSE CAST(coalesce(s.sr, 0) AS BIGINT) END AS sum_r,
             CASE WHEN d.corrupt THEN NULL ELSE CAST(coalesce(s.sg, 0) AS BIGINT) END AS sum_g,
             CASE WHEN d.corrupt THEN NULL ELSE CAST(coalesce(s.sb, 0) AS BIGINT) END AS sum_b
      FROM d2 d LEFT JOIN sums s USING (doc_id)
      ORDER BY d.doc_id""",

    // decompressed stats from the plain text; both corruption arms
    // (magic, ISIZE) land in the same reject shape
    "q_llm_gzip_ingest" -> """
      SELECT doc_id,
             NOT (doc_id % 53 = 0 OR doc_id % 59 = 0) AS ok,
             CASE WHEN doc_id % 53 = 0 OR doc_id % 59 = 0 THEN NULL
                  ELSE CAST(octet_length(encode(text)) AS BIGINT) END AS n_bytes,
             CASE WHEN doc_id % 53 = 0 OR doc_id % 59 = 0 THEN NULL
                  ELSE CAST(len(text) - len(replace(text, ' ', '')) + 1
                       AS BIGINT) END AS ws_tokens,
             CASE WHEN doc_id % 53 = 0 OR doc_id % 59 = 0 THEN NULL
                  ELSE CAST(coalesce(list_sum(list_transform(
                         string_split(text, ''),
                         c -> CAST(ascii(c) AS BIGINT))), 0) AS BIGINT)
                  END AS sum_bytes
      FROM documents
      WHERE length(text) = strlen(text)
      ORDER BY doc_id""")
}
