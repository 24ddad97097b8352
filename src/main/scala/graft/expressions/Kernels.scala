package graft.expressions

import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels behind the native Catalyst expressions — every method
  * here is referenced BY NAME from generated Java (whole-stage codegen
  * resolves the Scala object's static forwarders), so signatures use only
  * Spark-internal value types (`UTF8String`, `ArrayData`, boxed Double).
  *
  * Byte codecs delegate to the canonical implementations in
  * `graft.codec.*` (golden-tested against the reference vectors) so there
  * is exactly one definition of each wire format; the vector kernels
  * re-state the SAME ordered-fold sequence as the `functions.aggregate`
  * HOFs they replace — a left fold in component index order — so results
  * are bit-identical to both the HOF spelling and the DuckDB oracle's
  * `list_reduce` (see VectorOps' determinism contract).
  */
object Kernels {

  // ---- byte codecs (reference: graphite/escape.go:82-103,
  //      graphite/client.go:53-80, opentsdb/tagvalue.go:65-158) ----

  def graphiteEscape(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.codec.GraphiteCodec.escape(s.toString))

  /** Graphite path from a labels map + prefix. MapData carries no
    * ordering contract, so pairs are materialized and sorted by label
    * name exactly like the Scala function (Java String order).
    */
  def graphitePath(labels: MapData, prefix: UTF8String): UTF8String = {
    val n = labels.numElements()
    val keys = labels.keyArray()
    val values = labels.valueArray()
    val m = Map.newBuilder[String, String]
    var i = 0
    while (i < n) {
      m += (keys.getUTF8String(i).toString -> values.getUTF8String(i).toString)
      i += 1
    }
    UTF8String.fromString(
      graft.codec.GraphiteCodec.pathFromMetric(m.result(), prefix.toString))
  }

  def opentsdbMarshal(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.codec.OpenTsdbCodec.marshal(s.toString))

  def opentsdbUnmarshal(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.codec.OpenTsdbCodec.unmarshal(s.toString))

  // ---- vector folds ----
  // Null contract mirrors the HOF spelling: zip_with pads a length
  // mismatch with NULL and NULL poisons the fold, so any mismatch or
  // NULL element yields NULL (boxed null here).

  /** Ordered-fold dot product: ((0 + a0*b0) + a1*b1) + ... */
  def vecDot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    var acc = 0.0
    i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** L2 norm: sqrt of the ordered fold of squares. */
  def vecL2Norm(a: ArrayData): java.lang.Double = {
    val d = vecDot(a, a)
    if (d == null) null else java.lang.Double.valueOf(math.sqrt(d.doubleValue()))
  }

  /** Cosine similarity with `try_divide` semantics: NULL on a zero (or
    * NULL) denominator instead of an ANSI DIVIDE_BY_ZERO. The three
    * accumulators run in one fused pass, but each is an independent
    * index-ordered fold, so the result is bit-identical to the separate
    * dot/norm/norm HOF evaluation it replaces.
    */
  def vecCosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  // ---- extrapolated increase (reference: Prometheus
  //      promql/functions.go extrapolatedRate) ----

  /** Prometheus's extrapolated increase over one range
    * [rangeStart, rangeEnd], from the per-window aggregate: sample count,
    * first/last sample second, first value and summed adjusted
    * differences (both 1e-6 fixed-point). The one definition behind
    * PromQL `rate`/`increase`/`delta` and
    * `TimeSeriesOps.extrapolatedRate`:
    *
    *   si = lastTs − firstTs;  avg = si / (n − 1)
    *   ds = firstTs − rangeStart, clamped for counters (raw > 0, first
    *        value ≥ 0) to least(ds, si · (first / raw)): no extrapolation
    *        below zero
    *   ds, de (= rangeEnd − lastTs) become avg / 2 where ≥ 1.1 · avg
    *   increase = raw · ((si + ds) + de) / si
    *
    * NULL when n < 2 or lastTs ≤ firstTs (Prometheus emits nothing). A
    * NULL `firstFp` skips the counter clamp (its condition is unknown).
    *
    * Bit-identity: these are the IEEE double operations, in the same
    * order, of the Column expression they replaced, so results match it
    * and the DuckDB oracle's spelling exactly. Comparisons use Spark's
    * double ordering (`least` keeps `ds` on a tie), each division keeps
    * its zero-divisor guard (NULL, as the evaluator's ANSI-safe division
    * gives), and the second differences are exact, as the session's
    * ANSI long arithmetic is.
    */
  def extrapolatedIncrease(n: Long, firstTs: Long, lastTs: Long,
                           firstFp: java.lang.Long, rawFp: Long,
                           rangeStart: Long, rangeEnd: Long,
                           counter: Boolean): java.lang.Double = {
    if (n < 2) return null
    val span = Math.subtractExact(lastTs, firstTs)
    if (span <= 0) return null
    val si = span.toDouble
    val rawD = rawFp / 1000000.0
    val nm1 = (n - 1).toDouble
    if (nm1 == 0.0) return null
    val avgS = si / nm1
    val ds0 = Math.subtractExact(firstTs, rangeStart).toDouble
    val de0 = Math.subtractExact(rangeEnd, lastTs).toDouble
    var ds1 = ds0
    if (counter && firstFp != null) {
      val fvD = firstFp.longValue / 1000000.0
      if (cmp(rawD, 0.0) > 0 && cmp(fvD, 0.0) >= 0) {
        val toZero = si * (fvD / rawD)
        if (cmp(ds0, toZero) > 0) ds1 = toZero
      }
    }
    val thr = avgS * 1.1
    val ds = if (cmp(ds1, thr) >= 0) avgS / 2.0 else ds1
    val de = if (cmp(de0, thr) >= 0) avgS / 2.0 else de0
    if (si == 0.0) return null
    java.lang.Double.valueOf(rawD * ((si + ds + de) / si))
  }

  private def cmp(a: Double, b: Double): Int =
    org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(a, b)

  // ---- content-defined chunking (Rabin/LBFS shape, md5-windowed) ----

  private val HexChars = "0123456789abcdef".toCharArray

  private def toHex(digest: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((digest(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(digest(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Content-defined chunk rows for one document — the whole rolling
    * pass in one eval: window md5s, boundary test, chunk cut, chunk
    * md5s. Semantics are EXACTLY the former HOF spelling (and the
    * DuckDB oracle): positions are CODE POINTS (Spark `substr`
    * semantics), window hash value = first 8 md5 hex digits of the
    * window's UTF-8 bytes as an unsigned 32-bit int, boundary ⇔ value %
    * divisor == 0, chunk hash = md5 hex of the chunk's bytes, chunk_no
    * numbered over the cut list BEFORE zero-length filtering (only a
    * boundary flush at end-of-text produces one).
    *
    * One MessageDigest reused across every window and chunk, zero
    * per-window allocation — the interpreted-lambda spelling paid a
    * digest instance + UTF8String per window and ran ~6× slower.
    */
  def cdcChunks(text: UTF8String, w: Int, divisor: Int): ArrayData = {
    val bytes = text.getBytes
    // code-point byte offsets: off(i) = byte start of code point i;
    // off(nCp) = bytes.length
    var nCp = 0
    var bi = 0
    while (bi < bytes.length) {
      if ((bytes(bi) & 0xC0) != 0x80) nCp += 1
      bi += 1
    }
    val off = new Array[Int](nCp + 1)
    var cp = 0
    bi = 0
    while (bi < bytes.length) {
      if ((bytes(bi) & 0xC0) != 0x80) { off(cp) = bi; cp += 1 }
      bi += 1
    }
    off(nCp) = bytes.length
    val md = java.security.MessageDigest.getInstance("MD5")
    // cut positions in code points: 0, every boundary window end, nCp
    val cutsBuf = new java.util.ArrayList[Integer]()
    cutsBuf.add(0)
    var i = 0 // window start, 0-based code point
    while (i + w <= nCp) {
      md.reset()
      md.update(bytes, off(i), off(i + w) - off(i))
      val digest = md.digest()
      val v = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
        ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
      if (v % divisor == 0) cutsBuf.add(i + w)
      i += 1
    }
    cutsBuf.add(nCp)
    val rows = new java.util.ArrayList[Any](cutsBuf.size - 1)
    var c = 1
    while (c < cutsBuf.size) {
      val a = cutsBuf.get(c - 1).intValue()
      val b = cutsBuf.get(c).intValue()
      if (b - a > 0) {
        md.reset()
        md.update(bytes, off(a), off(b) - off(a))
        rows.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](c, a + 1, b - a,
            UTF8String.fromString(toHex(md.digest())))))
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.toArray)
  }

  /** Perceptual dHash over a 24-bpp BMP payload — one fused pass over
    * the raw bytes (the composed-builtin spelling evaluated ~500
    * interpreted substring/conv lambdas per row). Semantics are the
    * documented [[graft.llm.Multimodal.dHashBmp]] contract: header
    * geometry (LE width/height at byte 18/22, bpp 24 at 28, spec row
    * stride, bottom-up rows), 9×8 nearest-neighbor gray grid,
    * 64 gray(x,y) > gray(x+1,y) bits as a 16-hex string (row bytes
    * MSB-first, top row first). Null for payloads that fail the BMP
    * sniff, claim implausible geometry (non-positive or > 2^24 px per
    * side), or are shorter than the claimed pixel array.
    */
  def dHashBmp(payload: Array[Byte]): UTF8String = {
    if (payload.length < 54) return null
    if (payload(0) != 'B' || payload(1) != 'M') return null
    def le(off: Int, n: Int): Long = {
      var v = 0L; var i = n - 1
      while (i >= 0) { v = (v << 8) | (payload(off + i) & 0xffL); i -= 1 }
      v
    }
    if (le(28, 2) != 24L) return null
    val w = le(18, 4); val h = le(22, 4)
    if (w <= 0 || h <= 0 || w > (1 << 24) || h > (1 << 24)) return null
    val stride = (w * 3 + 3) / 4 * 4
    if (payload.length < 54 + h * stride) return null
    def gray(gx: Long, gy: Long): Long = {
      val x = gx * w / 9
      val y = gy * h / 8
      val off = (54 + (h - 1 - y) * stride + x * 3).toInt
      ((payload(off) & 0xffL) + (payload(off + 1) & 0xffL) +
        (payload(off + 2) & 0xffL)) / 3
    }
    val sb = new java.lang.StringBuilder(16)
    var gy = 0L
    while (gy < 8) {
      var rb = 0
      var gx = 0L
      while (gx < 8) {
        rb = rb * 2 + (if (gray(gx, gy) > gray(gx + 1, gy)) 1 else 0)
        gx += 1
      }
      sb.append("0123456789ABCDEF".charAt(rb >> 4))
      sb.append("0123456789ABCDEF".charAt(rb & 0xf))
      gy += 1
    }
    UTF8String.fromString(sb.toString)
  }

  // One Inflater per executor thread (the deflaterTL rationale below:
  // native workspace is too heavy to allocate per row; reset() restores
  // the initial stream state exactly).
  private val inflaterTL = new ThreadLocal[java.util.zip.Inflater] {
    override def initialValue(): java.util.zip.Inflater =
      new java.util.zip.Inflater() // zlib-wrapped, as PNG IDAT requires
  }

  /** Perceptual dHash over a PNG payload — same 9×8 grid / 64-bit / 16-hex
    * contract as [[dHashBmp]], on REAL decoded PNG pixels: the chunk chain
    * is walked from the 8-byte signature (len(BE4) + type(4) + data +
    * crc(4); CRCs are not validated — corruption surfaces as an inflate or
    * filter failure), IHDR must declare 8-bit truecolor (color type 2),
    * compression/filter method 0, non-interlaced; all IDAT chunk data
    * concatenates into one zlib stream which is INFLATED (the inverse of
    * [[deflateLen]]), and each scanline is UNFILTERED per the spec's five
    * filter types (None/Sub/Up/Average/Paeth) against the reconstructed
    * prior row. PNG rows are top-down (BMP's are bottom-up); the gray
    * grid and bit assembly then match dHashBmp exactly, so the same image
    * stored in both formats hashes identically.
    *
    * Null for: bad signature, non-first or malformed IHDR, unsupported
    * depth/color/interlace, implausible geometry, raw size over the 2^26
    * decode budget (an inflate BOMB in a crawled corpus would otherwise
    * let a tiny payload allocate gigabytes per row), truncated chunks,
    * corrupt zlib data, short inflate output, or an undefined filter
    * type — a garbage hash must never enter a dedup key space.
    */
  def dHashPng(payload: Array[Byte]): UTF8String = {
    val n = payload.length
    if (n < 33) return null
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    var i = 0
    while (i < 8) {
      if ((payload(i) & 0xff) != sig(i)) return null
      i += 1
    }
    def be(off: Int, nb: Int): Long = {
      var v = 0L; var j = 0
      while (j < nb) { v = (v << 8) | (payload(off + j) & 0xffL); j += 1 }
      v
    }
    // IHDR must be the first chunk (spec), 13 bytes
    if (be(8, 4) != 13L || be(12, 4) != 0x49484452L) return null
    val w = be(16, 4); val h = be(20, 4)
    if (w <= 0 || h <= 0 || w > (1 << 24) || h > (1 << 24)) return null
    if (payload(24) != 8 || payload(25) != 2 || payload(26) != 0 ||
        payload(27) != 0 || payload(28) != 0) return null
    val rawLen = h * (1L + 3L * w)
    if (rawLen > (1L << 26)) return null
    val idat = new java.io.ByteArrayOutputStream()
    var pos = 33 // signature + IHDR chunk
    var done = false
    while (!done) {
      if (pos + 8 > n) return null // chain must reach IEND intact
      val len = be(pos, 4)
      if (pos + 12 + len > n) return null
      val t = be(pos + 4, 4)
      if (t == 0x49444154L) idat.write(payload, pos + 8, len.toInt)
      else if (t == 0x49454e44L) done = true
      pos += 12 + len.toInt
    }
    if (idat.size == 0) return null
    val inf = inflaterTL.get()
    inf.reset()
    inf.setInput(idat.toByteArray)
    val raw = new Array[Byte](rawLen.toInt)
    try {
      var total = 0
      while (total < raw.length && !inf.finished()) {
        val k = inf.inflate(raw, total, raw.length - total)
        // Any zero-progress iteration is corrupt: truncated stream
        // (needsInput) or an FDICT zlib header demanding a preset
        // dictionary (needsDictionary) — PNG forbids the latter, and
        // looping on it would spin this executor thread forever.
        if (k == 0) return null
        total += k
      }
      if (total < raw.length) return null
    } catch { case _: java.util.zip.DataFormatException => return null }
    val stride = (3 * w).toInt
    val px = new Array[Byte]((stride * h).toInt)
    var y = 0
    while (y < h) {
      val f = raw(y * (stride + 1)) & 0xff
      if (f > 4) return null
      val src = y * (stride + 1) + 1
      val dst = y * stride
      var xi = 0
      while (xi < stride) {
        val cur = raw(src + xi) & 0xff
        val left = if (xi >= 3) px(dst + xi - 3) & 0xff else 0
        val up = if (y > 0) px(dst - stride + xi) & 0xff else 0
        val rec = f match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + ((left + up) >> 1)
          case _ =>
            val ul = if (y > 0 && xi >= 3) px(dst - stride + xi - 3) & 0xff
                     else 0
            val p = left + up - ul
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            cur + (if (pa <= pb && pa <= pc) left
                   else if (pb <= pc) up else ul)
        }
        px(dst + xi) = rec.toByte
        xi += 1
      }
      y += 1
    }
    def gray(gx: Long, gy: Long): Long = {
      val x = gx * w / 9
      val yy = gy * h / 8 // top-down: grid row maps to image row directly
      val off = (yy * stride + x * 3).toInt
      ((px(off) & 0xffL) + (px(off + 1) & 0xffL) + (px(off + 2) & 0xffL)) / 3
    }
    val sb = new java.lang.StringBuilder(16)
    var gy = 0L
    while (gy < 8) {
      var rb = 0
      var gx = 0L
      while (gx < 8) {
        rb = rb * 2 + (if (gray(gx, gy) > gray(gx + 1, gy)) 1 else 0)
        gx += 1
      }
      sb.append("0123456789ABCDEF".charAt(rb >> 4))
      sb.append("0123456789ABCDEF".charAt(rb & 0xf))
      gy += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** MJPEG-style concatenated-frame container split: the payload is a
    * back-to-back sequence of complete JPEG images (SOI … EOI), the
    * motion-JPEG layout; the kernel walks the byte stream and returns
    * one (frame_no, off, len) row per frame — offsets let the consumer
    * substring out each frame and run the ordinary per-image decoders
    * (geometry, dHash) on it, which is how multi-frame media reuses the
    * single-image pipeline.
    *
    * Null (the garbage-refusal contract) when the stream doesn't start
    * at an SOI, a marker segment overruns the payload, any frame's EOI
    * is missing, or no frame exists. The frame end is found by walking
    * the marker-segment chain by each segment's declared length up to
    * SOS — APPn/COM payloads are raw bytes and may legally contain
    * FF D9 (an EXIF thumbnail embeds a whole inner JPEG), so a naive
    * first-FF-D9 scan would split frames early — and only the
    * entropy-coded region after SOS is scanned for EOI, where the spec
    * mandates FF-stuffing (FF 00) and the only bare markers are
    * RST0-7, so the first FF D9 there really is the frame's end.
    */
  def mjpegFrames(payload: Array[Byte]): ArrayData = {
    val n = payload.length
    val rows = scala.collection.mutable.ArrayBuffer.empty[Any]
    var pos = 0
    var frame = 0
    while (pos < n) {
      if (pos + 4 > n || (payload(pos) & 0xff) != 0xff ||
        (payload(pos + 1) & 0xff) != 0xd8) return null
      // Marker-segment walk: each segment is FF <m> [len_hi len_lo
      // payload...]; bare (length-less) markers are TEM (01) and
      // RST0-7 (D0-D7). Stop at SOS (DA) — everything after its header
      // is entropy-coded — or at EOI (D9) for a degenerate empty frame.
      var i = pos + 2
      var end = -1
      var sos = -1
      while (sos < 0 && end < 0) {
        if (i + 1 >= n || (payload(i) & 0xff) != 0xff) return null
        var m = payload(i + 1) & 0xff
        while (m == 0xff && i + 2 < n) { i += 1; m = payload(i + 1) & 0xff } // fill bytes
        if (m == 0xd9) end = i + 2
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2
        else {
          if (i + 4 > n) return null
          val len = ((payload(i + 2) & 0xff) << 8) | (payload(i + 3) & 0xff)
          if (len < 2 || i + 2 + len > n) return null
          if (m == 0xda) sos = i + 2 + len
          else i += 2 + len
        }
      }
      if (end < 0) {
        // Entropy-coded region: FF 00 is a stuffed data byte, FF D0-D7
        // a restart marker; the first other FF-marker ends the scan and
        // must be EOI for a well-formed frame.
        i = sos
        while (end < 0 && i + 1 < n) {
          if ((payload(i) & 0xff) == 0xff) {
            val m = payload(i + 1) & 0xff
            if (m == 0xd9) end = i + 2
            else if (m != 0x00 && m != 0xff && !(m >= 0xd0 && m <= 0xd7))
              return null
          }
          i += 1
        }
        if (end < 0) return null
      }
      rows += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](frame, pos, end - pos))
      pos = end
      frame += 1
    }
    if (frame == 0) return null
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.toArray)
  }

  /** WARC container split — the [[mjpegFrames]] record-walk discipline
    * applied to crawl archives (ISO 28500): the payload is a
    * back-to-back sequence of `WARC/1.x` records, each a CRLF-header
    * block (terminated by an empty line) followed by exactly
    * Content-Length content octets and the mandatory two-CRLF record
    * separator. One (rec_no, off, len, content_off, content_len,
    * warc_type, target_uri) row per record — offsets let the consumer
    * substring out each record's content and run the per-document
    * extractors on it, never materializing per-record copies of the
    * archive. Header names match case-insensitively (the spec's rule);
    * a `WARC-Target-URI` wrapped in angle brackets (the WARC 1.0
    * spelling some writers use) is unwrapped. target_uri is null when
    * the record carries none (warcinfo). Null (the garbage-refusal
    * contract) when a record doesn't start at `WARC/`, its header
    * block never terminates, Content-Length is missing or overruns the
    * payload, or the record separator is absent.
    */
  def warcRecords(payload: Array[Byte]): ArrayData = {
    val n = payload.length
    val rows = scala.collection.mutable.ArrayBuffer.empty[Any]
    var pos = 0
    var rec = 0
    val magic = "WARC/".getBytes("US-ASCII")
    while (pos < n) {
      if (pos + magic.length > n ||
          !magic.indices.forall(j => payload(pos + j) == magic(j)))
        return null
      // header block ends at the first empty line (CRLF CRLF)
      var he = -1
      var i = pos
      while (he < 0 && i + 3 < n) {
        if (payload(i) == '\r' && payload(i + 1) == '\n' &&
            payload(i + 2) == '\r' && payload(i + 3) == '\n') he = i + 4
        else i += 1
      }
      if (he < 0) return null
      val header = new String(payload, pos, he - 2 - pos, "UTF-8")
      var clen = -1L
      var wtype: String = null
      var uri: String = null
      var digest: String = null
      var profile: String = null
      header.split("\r\n").iterator.drop(1).foreach { line =>
        val c = line.indexOf(':')
        if (c > 0) {
          val name = line.substring(0, c).trim.toLowerCase
          val value = line.substring(c + 1).trim
          name match {
            case "content-length" =>
              clen = try value.toLong catch { case _: Exception => -1L }
            case "warc-type" => wtype = value
            case "warc-target-uri" =>
              uri = if (value.startsWith("<") && value.endsWith(">"))
                value.substring(1, value.length - 1)
              else value
            // revisit machinery (WARC 1.0 §6.7.2): the payload digest
            // names the capture a revisit duplicates, the profile says
            // HOW it refers (identical-payload-digest carries the
            // digest; server-not-modified refers by URI+date only)
            case "warc-payload-digest" => digest = value
            case "warc-profile" => profile = value
            case _ =>
          }
        }
      }
      if (clen < 0 || he + clen + 4 > n) return null
      val sep = he + clen.toInt
      if (payload(sep) != '\r' || payload(sep + 1) != '\n' ||
          payload(sep + 2) != '\r' || payload(sep + 3) != '\n')
        return null
      rows += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](rec, pos, sep + 4 - pos, he, clen.toInt,
          if (wtype == null) null else UTF8String.fromString(wtype),
          if (uri == null) null else UTF8String.fromString(uri),
          if (digest == null) null else UTF8String.fromString(digest),
          if (profile == null) null else UTF8String.fromString(profile)))
      pos = sep + 4
      rec += 1
    }
    if (rec == 0) return null
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.toArray)
  }

  /** HTML→text extraction for crawl-archive response content: strips a
    * leading HTTP response header (everything through the first blank
    * line when the content starts with `HTTP/`), removes
    * `<script>`/`<style>` elements WITH their bodies and `<!-- -->`
    * comments, replaces every remaining tag with a line break, decodes
    * the common entities (&amp; &lt; &gt; &quot; &#39; &apos;
    * &nbsp;), then trims each line and drops empties. Lenient by
    * design — a malformed page yields its best-effort text, never a
    * refusal (the container walk is where garbage is refused): an
    * unterminated tag or comment swallows the rest of the input.
    */
  def htmlText(content: Array[Byte]): UTF8String = {
    var s = new String(content, "UTF-8")
    if (s.startsWith("HTTP/")) {
      val b = s.indexOf("\r\n\r\n")
      s = if (b < 0) "" else s.substring(b + 4)
    }
    val sb = new java.lang.StringBuilder(s.length)
    val lower = s.toLowerCase
    var i = 0
    val n = s.length
    while (i < n) {
      if (s.charAt(i) == '<') {
        if (lower.startsWith("<!--", i)) {
          val e = lower.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (lower.startsWith("<script", i)) {
          val e = lower.indexOf("</script", i)
          val gt = if (e < 0) -1 else lower.indexOf('>', e)
          i = if (gt < 0) n else gt + 1
        } else if (lower.startsWith("<style", i)) {
          val e = lower.indexOf("</style", i)
          val gt = if (e < 0) -1 else lower.indexOf('>', e)
          i = if (gt < 0) n else gt + 1
        } else {
          val gt = lower.indexOf('>', i)
          i = if (gt < 0) n else gt + 1
        }
        sb.append('\n')
      } else {
        sb.append(s.charAt(i))
        i += 1
      }
    }
    val decoded = sb.toString
      .replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'")
      .replace("&apos;", "'").replace("&nbsp;", " ")
      .replace("&amp;", "&") // last: &amp;lt; must yield "&lt;"
    UTF8String.fromString(decoded.split('\n').iterator
      .map(_.trim).filter(_.nonEmpty).mkString("\n"))
  }

  /** HTTP payload normalization for crawl-archive response content:
    * strips the HTTP response header block (when the content starts
    * with `HTTP/`), reverses the body's `Content-Encoding`
    * (gzip/x-gzip, deflate — zlib-wrapped or raw, servers send both),
    * and transcodes the declared charset to UTF-8 bytes. The charset
    * comes from the `Content-Type` header's `charset=` parameter,
    * falling back to a scan of the first 1 KiB of the decoded body for
    * an HTML `<meta ... charset=...>` declaration (both the HTML5 bare
    * form and the http-equiv form), defaulting to UTF-8. Real archives
    * are mostly compressed and mixed-charset — without this the raw
    * deflate bytes go straight into [[htmlText]]. Lenient like the
    * rest of the crawl path: a body whose decompression or charset
    * lookup fails passes through as-is (best effort), never refuses.
    */
  def httpBodyUtf8(content: Array[Byte]): Array[Byte] = {
    var body = content
    var headerCharset: String = null
    // ASCII prefix check avoids decoding a compressed body as UTF-8
    if (content.length >= 5 && content(0) == 'H' && content(1) == 'T' &&
        content(2) == 'T' && content(3) == 'P' && content(4) == '/') {
      var he = -1
      var i = 0
      while (he < 0 && i + 3 < content.length) {
        if (content(i) == '\r' && content(i + 1) == '\n' &&
            content(i + 2) == '\r' && content(i + 3) == '\n') he = i + 4
        else i += 1
      }
      if (he >= 0) {
        val header = new String(content, 0, he - 2, "ISO-8859-1")
        var encoding: String = null
        header.split("\r\n").iterator.drop(1).foreach { line =>
          val c = line.indexOf(':')
          if (c > 0) {
            val name = line.substring(0, c).trim.toLowerCase
            val value = line.substring(c + 1).trim
            name match {
              case "content-encoding" => encoding = value.toLowerCase
              case "content-type" =>
                val m = "charset=([^;\\s\"']+)".r
                  .findFirstMatchIn(value.toLowerCase)
                m.foreach(g => headerCharset = g.group(1))
              case _ =>
            }
          }
        }
        body = java.util.Arrays.copyOfRange(content, he, content.length)
        encoding match {
          case "gzip" | "x-gzip" =>
            try body = gunzipAll(body) catch { case _: Exception => }
            if (body == null)
              body = java.util.Arrays.copyOfRange(content, he,
                content.length)
          case "deflate" =>
            body = inflateLenient(body)
          case _ =>
        }
      }
    }
    // charset: header param wins; else scan the decoded prefix for a
    // meta declaration (the pre-header-parse bytes are ASCII-compatible
    // in every charset this handles)
    var cs = headerCharset
    if (cs == null) {
      val prefix = new String(body, 0,
        math.min(body.length, 1024), "ISO-8859-1").toLowerCase
      val m = "<meta[^>]*charset\\s*=\\s*[\"']?([a-z0-9_\\-]+)".r
        .findFirstMatchIn(prefix)
      m.foreach(g => cs = g.group(1))
    }
    if (cs == null || cs == "utf-8" || cs == "utf8") body
    else try {
      val charset = java.nio.charset.Charset.forName(cs)
      new String(body, charset)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    } catch { case _: Exception => body }
  }

  /** zlib-wrapped OR raw deflate (RFC 9110 names both "deflate" and
    * servers send both); the input comes back unchanged when neither
    * form inflates. */
  private def inflateLenient(data: Array[Byte]): Array[Byte] = {
    def tryInflate(nowrap: Boolean): Array[Byte] = {
      val inf = new java.util.zip.Inflater(nowrap)
      try {
        inf.setInput(data)
        val out = new java.io.ByteArrayOutputStream(data.length * 4)
        val buf = new Array[Byte](8192)
        while (!inf.finished() && !inf.needsInput()) {
          val k = inf.inflate(buf)
          if (k > 0) out.write(buf, 0, k)
          else if (k == 0 && !inf.finished()) return null
        }
        if (inf.finished()) out.toByteArray else null
      } catch {
        case _: Exception => null
      } finally inf.end()
    }
    val zlib = tryInflate(nowrap = false)
    if (zlib != null) zlib
    else {
      val raw = tryInflate(nowrap = true)
      if (raw != null) raw else data
    }
  }

  /** Outbound-link extraction for crawl-archive response content — the
    * link-graph sibling of [[htmlText]]: strips a leading HTTP response
    * header (same sniff), then walks the markup once collecting the
    * `href` attribute of every `<a>` anchor tag IN DOCUMENT ORDER —
    * tag and attribute names match case-insensitively, values may be
    * double-quoted, single-quoted or unquoted (terminated by
    * whitespace or `>`), and the common entities are decoded in the
    * value (URLs in HTML are entity-encoded, `&amp;` especially).
    * Returns RAW hrefs exactly as authored — no resolution, no
    * filtering: fragment-only, `javascript:` and empty hrefs are the
    * resolver's policy calls ([[graft.llm.CrawlOps.resolveUrl]]), not
    * the extractor's. Anchors without an href contribute nothing.
    * Lenient like [[htmlText]] (an unterminated tag swallows the rest);
    * empty array when the page has no anchors.
    */
  def htmlLinks(content: Array[Byte]): ArrayData = {
    var s = new String(content, "UTF-8")
    if (s.startsWith("HTTP/")) {
      val b = s.indexOf("\r\n\r\n")
      s = if (b < 0) "" else s.substring(b + 4)
    }
    val lower = s.toLowerCase
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    def decode(v: String): String = v
      .replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'")
      .replace("&apos;", "'").replace("&nbsp;", " ")
      .replace("&amp;", "&")
    var i = 0
    val n = s.length
    while (i < n) {
      if (s.charAt(i) == '<') {
        val gt = lower.indexOf('>', i)
        val end = if (gt < 0) n else gt
        // an ANCHOR open tag: "<a" followed by whitespace or the tag
        // end — never "<abbr"/"<article"
        if (i + 1 < n && lower.charAt(i + 1) == 'a' &&
            (i + 2 >= n || lower.charAt(i + 2) == '>' ||
             lower.charAt(i + 2) == '/' ||
             Character.isWhitespace(lower.charAt(i + 2)))) {
          // scan the attribute region for href=
          var j = i + 2
          var found = -1
          while (found < 0 && j + 4 < end) {
            if (Character.isWhitespace(lower.charAt(j - 1)) &&
                lower.startsWith("href", j)) {
              var k = j + 4
              while (k < end && Character.isWhitespace(s.charAt(k))) k += 1
              if (k < end && s.charAt(k) == '=') found = k + 1
              else j += 1
            } else j += 1
          }
          if (found >= 0) {
            var k = found
            while (k < end && Character.isWhitespace(s.charAt(k))) k += 1
            val value =
              if (k < end && (s.charAt(k) == '"' || s.charAt(k) == '\'')) {
                val q = s.charAt(k)
                val e = s.indexOf(q, k + 1)
                if (e < 0 || e > end) null else s.substring(k + 1, e)
              } else {
                var e = k
                while (e < end && !Character.isWhitespace(s.charAt(e))) e += 1
                if (e > k) s.substring(k, e) else null
              }
            if (value != null)
              out += UTF8String.fromString(decode(value))
          }
        }
        i = if (gt < 0) n else gt + 1
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** robots.txt group selection + rule extraction (RFC 9309): parse the
    * file's `User-agent` / `Allow` / `Disallow` lines (field names
    * case-insensitive, `#` comments stripped, consecutive User-agent
    * lines share one group), pick the group set for `agent` — every
    * group naming the product token exactly (case-insensitive), else
    * every `*` group — and emit that set's (allow, pattern) rules.
    * Value-less `Disallow:` lines contribute no rule (the spec's
    * "allow all" idiom); rules before any User-agent line are invalid
    * and dropped. Empty array ⇔ no applicable rules ⇔ everything
    * allowed. Null input refuses (a fetch error is NOT an empty
    * robots file — the caller decides that policy).
    */
  private final class RobotsGroup {
    val agents = scala.collection.mutable.ArrayBuffer.empty[String]
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Boolean, String)]
    val delays = scala.collection.mutable.ArrayBuffer.empty[Int]
  }

  /** The groups applying to `agent`: every group naming the product
    * token exactly (case-insensitive), else every `*` group. */
  private def robotsSelect(txt: String, agent: String)
      : Seq[RobotsGroup] = {
    val groups = scala.collection.mutable.ArrayBuffer.empty[RobotsGroup]
    var inAgentRun = false
    txt.split("\n").foreach { raw =>
      val line = { val h = raw.indexOf('#'); if (h < 0) raw else raw.substring(0, h) }.trim
      val c = line.indexOf(':')
      if (c > 0) {
        val field = line.substring(0, c).trim.toLowerCase
        val value = line.substring(c + 1).trim
        field match {
          case "user-agent" =>
            if (!inAgentRun) { groups += new RobotsGroup; inAgentRun = true }
            groups.last.agents += value.toLowerCase
          case "allow" | "disallow" =>
            inAgentRun = false
            if (groups.nonEmpty && value.nonEmpty)
              groups.last.rules += ((field == "allow", value))
          case "crawl-delay" =>
            inAgentRun = false
            if (groups.nonEmpty)
              value.toIntOption.filter(_ >= 0)
                .foreach(groups.last.delays += _)
          case _ => inAgentRun = false
        }
      }
    }
    val want = agent.toLowerCase
    val exact = groups.filter(_.agents.contains(want))
    (if (exact.nonEmpty) exact else groups.filter(_.agents.contains("*")))
      .toSeq
  }

  def robotsRules(txt: UTF8String, agent: String): ArrayData = {
    if (txt == null) return null
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      robotsSelect(txt.toString, agent).flatMap(_.rules)
        .map { case (allow, pat) =>
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](allow, UTF8String.fromString(pat)))
        }.toArray[Any])
  }

  /** The `Crawl-delay` (whole seconds) applying to `agent` under the
    * same group selection as [[robotsRules]] — the de-facto politeness
    * field every large crawler honors (not in RFC 9309 but near-
    * universal). First delay of the chosen group set; −1 when the
    * chosen groups declare none (caller applies its default).
    */
  def robotsCrawlDelay(txt: UTF8String, agent: String): Int =
    if (txt == null) -1
    else robotsSelect(txt.toString, agent)
      .flatMap(_.delays).headOption.getOrElse(-1)

  /** RFC 9309 path-pattern match: `*` matches any run of octets, a
    * terminal `$` anchors the end; an UNANCHORED pattern matches any
    * path it prefixes (⇔ full-match of `pattern*`). Returns the
    * pattern's length (its rule SPECIFICITY — longest-match-wins, the
    * caller's fold) on match, −1 otherwise.
    */
  def robotsMatchLen(path: UTF8String, pattern: UTF8String): Int = {
    val p0 = pattern.toString
    val anchored = p0.endsWith("$")
    val pat = (if (anchored) p0.dropRight(1) else p0) +
      (if (anchored) "" else "*")
    val txt = path.toString
    // iterative glob full-match with star backtracking
    var s = 0; var p = 0; var star = -1; var mark = 0
    val slen = txt.length; val plen = pat.length
    while (s < slen) {
      if (p < plen && (pat.charAt(p) == '*')) { star = p; mark = s; p += 1 }
      else if (p < plen && pat.charAt(p) == txt.charAt(s)) { s += 1; p += 1 }
      else if (star >= 0) { p = star + 1; mark += 1; s = mark }
      else return -1
    }
    while (p < plen && pat.charAt(p) == '*') p += 1
    if (p == plen) p0.length else -1
  }

  /** Raw-deflate compressed length of a byte payload — the kernel under
    * the compression-ratio quality signal (near-incompressible text is
    * high-entropy noise, near-totally-compressible text is boilerplate
    * repetition; both tails are what a corpus curation pass drops). One
    * Deflater per eval at a FIXED level with nowrap (no zlib header), so
    * the length is a pure function of the input bytes for a given JVM's
    * zlib; consumers must band/threshold the resulting ratio, never
    * compare exact lengths across environments.
    */
  // One Deflater + scratch buffer per executor thread, reused via
  // reset(): deflateInit/deflateEnd allocate ~256 KB of native
  // workspace, far too heavy to pay once per ROW on a corpus-scale map
  // path. reset() restores the exact initial stream state, so output
  // is byte-identical to a fresh instance. Never end()ed — the native
  // memory is bounded by the thread count and lives for the executor.
  private val deflaterTL =
    new ThreadLocal[(java.util.zip.Deflater, Array[Byte])] {
      override def initialValue(): (java.util.zip.Deflater, Array[Byte]) =
        (new java.util.zip.Deflater(6, true), new Array[Byte](8192))
    }

  def deflateLen(bytes: Array[Byte]): Int = {
    val (d, buf) = deflaterTL.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    var total = 0
    while (!d.finished()) total += d.deflate(buf)
    total
  }

  /** Inflate ALL concatenated gzip members of a payload into one byte
    * stream — the Common Crawl `.warc.gz` layout compresses each WARC
    * record as its own gzip member back to back, so decompress-then-
    * [[warcRecords]] serves compressed archives with the identical
    * record walk (offsets land in the DECOMPRESSED stream).
    * GZIPInputStream consumes multi-member streams natively (it checks
    * for a following member header at each member end). Null (the
    * garbage-refusal contract) on a corrupt stream or a non-gzip
    * payload.
    */
  def gunzipAll(bytes: Array[Byte]): Array[Byte] =
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try in.readAllBytes() finally in.close()
    } catch { case _: java.io.IOException => null }

  /** Per-frame PCM audio features over a WAV payload — the audio
    * feature-extraction pass of a multimodal pipeline, REAL byte math on
    * real RIFF bytes: the chunk chain is walked from offset 12 (each
    * chunk is id(4) + LE size(4) + data, word-aligned per the RIFF
    * spec), the `fmt ` chunk must declare MONO integer PCM (format 1,
    * 1 channel) at 16 bits/sample — multi-channel interleaving would
    * silently turn zcr into a cross-channel artifact — and the `data`
    * chunk's LE int16 samples are split into consecutive
    * non-overlapping frames of `frameLen` samples. Per frame: RMS amplitude (sqrt of the exact integer
    * sum-of-squares over frameLen — the sum is ≤ 2^46 so the double
    * conversion is lossless and the result bit-deterministic), peak
    * (max |v|), and zero-crossing count (adjacent pairs whose sign bit
    * differs, negative vs non-negative). Null for anything that fails
    * the sniff (not RIFF/WAVE, no fmt/data chunk, compressed or non-16-
    * bit audio) — garbage features must never enter a filter threshold.
    * A truncated data chunk keeps the frames its actual bytes cover.
    */
  def pcmFeatures(payload: Array[Byte], frameLen: Int): ArrayData = {
    val n = payload.length
    if (n < 12) return null
    def ascii(off: Int, s: String): Boolean = {
      var i = 0
      while (i < s.length) {
        if (payload(off + i) != s.charAt(i).toByte) return false
        i += 1
      }
      true
    }
    if (!ascii(0, "RIFF") || !ascii(8, "WAVE")) return null
    def le(off: Int, w: Int): Long = {
      var v = 0L; var i = w - 1
      while (i >= 0) { v = (v << 8) | (payload(off + i) & 0xffL); i -= 1 }
      v
    }
    // pos is a Long: chunk sizes are unsigned 32-bit, so an Int walk
    // over a corrupt size (e.g. 0xFFFFFFF8) would truncate the advance
    // to 0 (infinite loop) or overflow negative (index crash); the Long
    // walk just runs off the end and degrades to null like the contract
    // promises for any corrupt file.
    var pos = 12L
    var pcm16 = false
    var fmtSeen = false
    var dataOff = -1
    var dataLen = 0L
    while (pos + 8 <= n && dataOff < 0) {
      val p = pos.toInt
      val size = le(p + 4, 4)
      if (ascii(p, "fmt ") && size >= 16 && pos + 8 + 16 <= n) {
        fmtSeen = true
        pcm16 = le(p + 8, 2) == 1L && le(p + 8 + 2, 2) == 1L &&
          le(p + 8 + 14, 2) == 16L
      } else if (ascii(p, "data")) {
        dataOff = p + 8
        dataLen = size
      }
      pos += 8 + size + (size & 1L)
    }
    if (!fmtSeen || !pcm16 || dataOff < 0) return null
    val avail = math.min(dataLen, (n - dataOff).toLong)
    val nSamples = (avail / 2).toInt
    val nFrames = nSamples / frameLen
    val rows = new Array[Any](nFrames)
    var f = 0
    while (f < nFrames) {
      var sumSq = 0L
      var peak = 0
      var zcr = 0
      var prevNeg = false
      var k = 0
      while (k < frameLen) {
        val off = dataOff + 2 * (f * frameLen + k)
        val v = ((payload(off) & 0xff) | (payload(off + 1) << 8)).toShort.toInt
        sumSq += v.toLong * v
        val a = math.abs(v)
        if (a > peak) peak = a
        val neg = v < 0
        if (k > 0 && neg != prevNeg) zcr += 1
        prevNeg = neg
        k += 1
      }
      rows(f) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](f, math.sqrt(sumSq.toDouble / frameLen), peak, zcr))
      f += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  // ---- unigram-LM tokenizer (SentencePiece-style) ----

  private def logAddExp(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else {
      val m = math.max(a, b)
      m + math.log1p(math.exp(-math.abs(a - b)))
    }

  /** E-step of unigram-LM EM for ONE word: forward-backward over the
    * segmentation lattice (an arc at [i, j) exists when s[i, j) is a
    * vocabulary piece), returning the word's log-likelihood alpha(n)
    * and each touched piece's expected count — posterior arc mass
    * exp(alpha(i) + logp + beta(j) − alpha(n)) summed per piece.
    *
    * Expected counts leave the kernel as FIXED-POINT longs
    * (round(e·scale)): the driver's M-step sums them across a
    * distributed aggregation, and long addition is associative and
    * order-independent where a double sum is not — the k-means
    * bit-reproducibility contract applied to EM. Rounding is per-word
    * and deterministic, so the whole training trajectory is exact.
    *
    * A word containing characters outside the vocabulary has no path:
    * ll = −∞ and an empty expected array (the caller's coverage rule —
    * every corpus character is a piece — makes this unreachable in
    * training; it is the honest answer for foreign probes).
    */
  def unigramExpected(word: UTF8String, m: UnigramModel, scale: Long)
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val s = word.toString
    val n = s.length
    val empty = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.empty[Any])
    if (n == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0.0, empty))
    val NegInf = Double.NegativeInfinity
    val maxL = m.maxLen
    val alpha = Array.fill(n + 1)(NegInf)
    alpha(0) = 0.0
    var j = 1
    while (j <= n) {
      var l = 1
      while (l <= math.min(maxL, j)) {
        if (alpha(j - l) != NegInf) {
          val idx = m.index.get(s.substring(j - l, j))
          if (idx != null)
            alpha(j) = logAddExp(alpha(j), alpha(j - l) + m.logps(idx))
        }
        l += 1
      }
      j += 1
    }
    if (alpha(n) == NegInf)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](NegInf, empty))
    val beta = Array.fill(n + 1)(NegInf)
    beta(n) = 0.0
    var i = n - 1
    while (i >= 0) {
      var l = 1
      while (l <= math.min(maxL, n - i)) {
        if (beta(i + l) != NegInf) {
          val idx = m.index.get(s.substring(i, i + l))
          if (idx != null)
            beta(i) = logAddExp(beta(i), m.logps(idx) + beta(i + l))
        }
        l += 1
      }
      i -= 1
    }
    // arcs touched by a word: ≤ n·maxLen, so accumulate in a small map
    // keyed by piece index rather than a vocab-sized scratch array
    val acc = new java.util.HashMap[Integer, java.lang.Double]()
    i = 0
    while (i < n) {
      var l = 1
      while (l <= math.min(maxL, n - i)) {
        if (alpha(i) != NegInf && beta(i + l) != NegInf) {
          val idx = m.index.get(s.substring(i, i + l))
          if (idx != null) {
            val e = math.exp(alpha(i) + m.logps(idx) + beta(i + l) - alpha(n))
            val prev = acc.get(idx)
            acc.put(idx, if (prev == null) e else prev + e)
          }
        }
        l += 1
      }
      i += 1
    }
    val rows = new java.util.ArrayList[Any](acc.size)
    // deterministic emit order (by piece index) so the row bytes are
    // stable; the downstream agg is order-insensitive anyway
    val keys = new java.util.ArrayList[Integer](acc.keySet)
    java.util.Collections.sort(keys)
    var k = 0
    while (k < keys.size) {
      val idx = keys.get(k)
      val fx = math.round(acc.get(idx) * scale)
      if (fx > 0)
        rows.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](idx.intValue(), fx)))
      k += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](alpha(n),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.toArray)))
  }

  /** Viterbi segmentation for ONE word under a unigram-LM model: the
    * max-probability piece sequence. Ties break to the LONGER piece at
    * the latest decision point (deterministic for any model). Null when
    * the word has no segmentation (character outside the vocabulary) —
    * a tokenizer must refuse, not mangle.
    */
  def unigramViterbi(word: UTF8String, m: UnigramModel): ArrayData = {
    val s = word.toString
    val n = s.length
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val NegInf = Double.NegativeInfinity
    val maxL = m.maxLen
    val best = Array.fill(n + 1)(NegInf)
    val back = new Array[Int](n + 1)
    best(0) = 0.0
    var j = 1
    while (j <= n) {
      var l = 1
      while (l <= math.min(maxL, j)) {
        if (best(j - l) != NegInf) {
          val idx = m.index.get(s.substring(j - l, j))
          if (idx != null) {
            val sc = best(j - l) + m.logps(idx)
            // strict > plus longer-piece preference on exact ties
            if (sc > best(j) || (sc == best(j) && l > back(j))) {
              best(j) = sc
              back(j) = l
            }
          }
        }
        l += 1
      }
      j += 1
    }
    if (best(n) == NegInf) return null
    val out = new java.util.ArrayList[Any]()
    var p = n
    while (p > 0) {
      out.add(0, UTF8String.fromString(s.substring(p - back(p), p)))
      p -= back(p)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Unicode NFC normalization (canonical composition). Fast path: the
    * JDK's `isNormalized` is a cheap scan that is true for all-ASCII and
    * already-composed text — the overwhelming share of a web corpus — and
    * then the input UTF8String is returned as-is, zero allocation. Both
    * the JDK and DuckDB's utf8proc implement the same Unicode
    * normalization algorithm (UAX #15), so results agree byte-for-byte.
    */
  def nfcNormalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Total occurrences (overlapping) of all automaton patterns in `s` —
    * one pass regardless of pattern count; see [[AhoCorasick]].
    */
  def acCount(s: UTF8String, ac: AhoCorasick): Long =
    ac.countMatches(s.toString)

  /** Winnowing fingerprint selection (Schleimer et al. 2003) fused into
    * one byte loop: word k-gram 60-bit hashes + rightmost-minimum
    * sliding window + consecutive-duplicate collapse. Bit-identical to
    * the HOF spelling it replaces:
    *
    *  - words = split on single space KEEPING empties (Spark split
    *    semantics), so join(words, " ") reproduces the original bytes
    *    — each k-gram's md5 input is therefore a raw byte RANGE of the
    *    text (word start i through word end i+k-1), hashed in place
    *    with zero per-gram allocation;
    *  - hash = first 15 hex chars of md5 as a long (the 60-bit corpus
    *    width; `conv(substring(md5(g),1,15),16,10)`);
    *  - per window of `w` hashes the minimum wins, ties to the
    *    RIGHTMOST (an equal later hash displaces) — implemented as the
    *    classic monotonic deque (pop-back on >=), O(nk) total instead
    *    of O(nk·w);
    *  - a selected (h, pos) survives a run of consecutive windows;
    *    array_distinct-equivalent dedup is therefore one last-emitted
    *    comparison (a position can never re-enter the window later).
    *
    * Returns array<struct<h:long, pos:int>> (pos 1-based); empty when
    * fewer than w k-grams exist.
    */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    // word start offsets: split on single 0x20 (never a UTF-8
    // continuation byte), empties kept
    var nWords = 1
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) nWords += 1
      i += 1
    }
    val nk = nWords - (k - 1)
    if (nk < w)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](0))
    val starts = new Array[Int](nWords + 1)
    var word = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { starts(word) = i + 1; word += 1 }
      i += 1
    }
    starts(nWords) = bytes.length + 1 // sentinel: "space" past the end
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = new Array[Long](nk)
    var g = 0
    while (g < nk) {
      val from = starts(g)
      val until = starts(g + k) - 1 // end of word g+k-1
      md.reset()
      md.update(bytes, from, until - from)
      val d = md.digest()
      // first 15 hex chars = bytes 0..6 plus the high nibble of byte 7
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      hashes(g) = (v << 4) | ((d(7) >> 4) & 0xfL)
      g += 1
    }
    // monotonic deque of gram indices; >= pop keeps the rightmost
    // minimum among equals
    val deque = new Array[Int](nk)
    var head = 0
    var tail = 0 // exclusive
    val out = new java.util.ArrayList[Any]()
    var lastH = -1L
    var lastPos = -1
    g = 0
    while (g < nk) {
      while (tail > head && hashes(deque(tail - 1)) >= hashes(g)) tail -= 1
      deque(tail) = g
      tail += 1
      val winStart = g - (w - 1)
      if (deque(head) < winStart) head += 1
      if (winStart >= 0) {
        val sel = deque(head)
        val h = hashes(sel)
        val pos = sel + 1
        if (h != lastH || pos != lastPos) {
          out.add(new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](h, pos)))
          lastH = h
          lastPos = pos
        }
      }
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Unigram-LM tokenizer model shared by the expected-count and Viterbi
  * kernels: the piece inventory with log-probabilities, plus the derived
  * lookup structures the per-word DP needs. Ships to executors inside
  * the plan (codegen references array / serialized expression), so the
  * hash index and max piece length rebuild lazily after
  * deserialization.
  */
final class UnigramModel(val pieces: Array[String], val logps: Array[Double])
    extends Serializable {
  require(pieces.length == logps.length && pieces.nonEmpty)
  @transient lazy val index: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](pieces.length * 2)
    var i = 0
    while (i < pieces.length) { m.put(pieces(i), i); i += 1 }
    m
  }
  @transient lazy val maxLen: Int = {
    var m = 1
    var i = 0
    while (i < pieces.length) {
      if (pieces(i).length > m) m = pieces(i).length
      i += 1
    }
    m
  }
}
