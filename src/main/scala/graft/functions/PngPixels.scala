package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._

/** REAL pixel decode over PNG containers: the PNG container walk
  * (RFC 2083 / ISO 15948 chunk grammar), the zlib envelope (RFC 1950),
  * and the DEFLATE stream ([[Inflate]], the JDK's raw inflater) take an
  * 8-bit RGB PNG from any real encoder to exact per-channel pixel
  * sums.
  *
  * Decode path: 8-byte PNG signature → chunk walk (big-endian u32
  * length + 4-char type; IHDR must be first per the spec) → IHDR
  * accepted for colour types 0 (grayscale, depths 1/2/4/8),
  * 2 (truecolour RGB, 8), 3 (palette via PLTE, depths 1/2/4/8),
  * 4 (gray+alpha, 8) and 6 (RGBA, 8), deflate compression, filter
  * method 0, interlace 0 or 1 (Adam7 — seven independently filtered
  * sub-images; sums are position-free so no re-weave is needed);
  * depth 16 (types 0/2/4/6) projects to 8 bits via the HIGH byte —
  * the libpng strip-16 convention. ALL IDAT chunk payloads are
  * concatenated (the spec: the zlib stream spans consecutive IDATs) →
  * zlib header checked (CM=8, window bits valid, no preset dict,
  * FCHECK: CMF·256+FLG ≡ 0 mod 31) → the deflate stream inflated
  * ([[Inflate]]; any malformation → NULL) → the raw stream must be
  * EXACTLY height·(1 + 3·width) bytes → rows
  * UN-FILTERED with ALL FIVE standard filter types (None/Sub/Up/
  * Average/Paeth, RFC 2083 §6 — reconstruction is byte arithmetic mod
  * 256 over (raw, left, up, upper-left), so nothing on the filter axis
  * is stubbed; an undefined type > 4 is corrupt → NULL) → RGB triples
  * summed per channel as exact BIGINTs.
  *
  * Integrity checksums ARE verified: every walked chunk's CRC-32
  * (over type + data, [[Checksums.crc32]]) and the zlib stream's
  * trailing Adler-32 over the decompressed scanlines
  * ([[Checksums.adler32]], RFC 1950 §8) — a bit-flipped blob NULLs
  * instead of summing garbage. Chunks after the IEND are ignored.
  *
  * Returns struct<width, height, n_px, sum_r, sum_g, sum_b> — the same
  * shape as [[BmpPixels]] (sums are fold-order-free and cross-engine
  * exact; means are a downstream division).
  *
  * Scale shape: map-only, codegen'd, O(declared raw size) per row with
  * every size bound checked BEFORE buffers are sized — a lying chunk
  * length or IHDR dimension cannot buy unbounded work or overflow:
  * compressed blocks EXPAND, so output is capped by the named
  * [[Decompression.MaxOutputBytes]] zip-bomb guard (decode work is
  * bounded by the declared output size, never by the compression
  * ratio).
  */
case class PngPixels(child: Expression) extends UnaryExpression {

  override def dataType: DataType = PngPixels.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"PngPixels requires BINARY input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    PngPixels.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.PngPixels.parse($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): PngPixels =
    copy(child = newChild)

  override def prettyName: String = "png_pixels"
}

object PngPixels {

  import Decompression.MaxOutputBytes

  val Schema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_px", LongType, nullable = true),
    StructField("sum_r", LongType, nullable = true),
    StructField("sum_g", LongType, nullable = true),
    StructField("sum_b", LongType, nullable = true)))

  /** Static parse kernel shared by eval and generated code. Returns null
    * for anything that is not a well-formed PNG (color types 0/2/3/4/6,
    * depths 1-16, optional Adam7) whose raw pixel stream decodes to
    * exactly the declared size with defined filter types.
    */
  def parse(bytes: Array[Byte]): InternalRow = {
    if (bytes == null) return null
    val n = bytes.length
    // PNG signature
    if (n < 8 + 25 || bytes(0) != 0x89.toByte || bytes(1) != 'P' ||
      bytes(2) != 'N' || bytes(3) != 'G' || bytes(4) != 0x0d ||
      bytes(5) != 0x0a || bytes(6) != 0x1a || bytes(7) != 0x0a) return null

    // --- chunk walk: IHDR first, collect IDAT spans, stop at IEND ---
    var p = 8
    var width = 0L
    var height = 0L
    var haveIhdr = false
    var ihColor = 0
    var ihDepth = 0
    var ihInterlace = 0
    var plteOff = -1
    var plteLen = 0
    // IDAT spans recorded as (offset, length) pairs; count first
    var idatTotal = 0L
    var spanOff = new Array[Int](4)
    var spanLen = new Array[Int](4)
    var nSpans = 0
    var guard = 0
    // chunk-count bound derived from input size: every chunk costs at
    // least 12 bytes (len + type + CRC), so n/12+1 admits ANY valid
    // layout — libpng-family encoders emit one IDAT per ~8 KB, which a
    // fixed 1024 cap rejected past ~8 MB of compressed data (r11 advice)
    val maxChunks = n / 12 + 1
    var done = false
    while (!done && guard < maxChunks && p + 8 <= n) {
      val len = be32(bytes, p)
      // overflow-free: len is u32 read as Long; p+8 <= n <= 2^31.
      // The -12 keeps data AND the 4 CRC bytes in bounds.
      if (len < 0 || len > n - p - 12) return null
      val t0 = bytes(p + 4); val t1 = bytes(p + 5)
      val t2 = bytes(p + 6); val t3 = bytes(p + 7)
      val dataOff = p + 8
      // chunk CRC-32 spans type + data (ISO 15948 §5.3)
      if (Checksums.crc32(bytes, p + 4, 4 + len.toInt) !=
        be32(bytes, dataOff + len.toInt)) return null
      if (!haveIhdr) {
        // spec: IHDR must appear first
        if (t0 != 'I' || t1 != 'H' || t2 != 'D' || t3 != 'R' || len != 13)
          return null
        width = be32(bytes, dataOff)
        height = be32(bytes, dataOff + 4)
        val bitDepth = bytes(dataOff + 8) & 0xff
        val colorType = bytes(dataOff + 9) & 0xff
        val compression = bytes(dataOff + 10) & 0xff
        val filterMethod = bytes(dataOff + 11) & 0xff
        val interlace = bytes(dataOff + 12) & 0xff
        val depthOk = colorType match {
          case 0 => bitDepth == 1 || bitDepth == 2 || bitDepth == 4 ||
            bitDepth == 8 || bitDepth == 16
          case 3 => bitDepth == 1 || bitDepth == 2 || bitDepth == 4 ||
            bitDepth == 8
          case 2 | 4 | 6 => bitDepth == 8 || bitDepth == 16
          case _ => false
        }
        if (width < 1 || height < 1 || width > 0x7fffffffL ||
          height > 0x7fffffffL || !depthOk ||
          compression != 0 || filterMethod != 0 || interlace > 1)
          return null
        ihColor = colorType
        ihDepth = bitDepth
        ihInterlace = interlace
        haveIhdr = true
      } else if (t0 == 'I' && t1 == 'D' && t2 == 'A' && t3 == 'T') {
        if (nSpans == spanOff.length) {
          spanOff = java.util.Arrays.copyOf(spanOff, nSpans * 2)
          spanLen = java.util.Arrays.copyOf(spanLen, nSpans * 2)
        }
        spanOff(nSpans) = dataOff
        spanLen(nSpans) = len.toInt
        nSpans += 1
        idatTotal += len
      } else if (t0 == 'P' && t1 == 'L' && t2 == 'T' && t3 == 'E') {
        // PLTE: before any IDAT, once, length a multiple of 3 (<= 256
        // entries); forbidden for grayscale color types
        if (nSpans > 0 || plteOff >= 0 || len == 0 || len % 3 != 0 ||
          len > 768 || ihColor == 0 || ihColor == 4) return null
        plteOff = dataOff
        plteLen = len.toInt
      } else if (t0 == 'I' && t1 == 'E' && t2 == 'N' && t3 == 'D') {
        done = true
      }
      p = dataOff + len.toInt + 4 // past data + verified CRC
      guard += 1
    }
    if (!haveIhdr || nSpans == 0) return null
    if (ihColor == 3 && plteOff < 0) return null // palette required

    // raw scanline stream size. channels x depth gives bits per pixel;
    // each scanline is [filter byte][ceil(w'*bits/8) bytes]; Adam7
    // interlace is SEVEN sub-images, each filtered independently
    // (empty passes contribute no bytes at all).
    val channels = ihColor match {
      case 0 => 1
      case 2 => 3
      case 3 => 1
      case 4 => 2
      case _ => 4
    }
    val bitsPerPx = channels * ihDepth
    def rowBytesFor(w0: Long): Long = 1L + (w0 * bitsPerPx + 7) / 8
    // Adam7 pass geometry (ISO 15948 8.2)
    val XS = Array(0, 4, 0, 2, 0, 1, 0)
    val YS = Array(0, 0, 4, 0, 2, 0, 1)
    val XP = Array(8, 8, 4, 4, 2, 2, 1)
    val YP = Array(8, 8, 8, 4, 4, 2, 2)
    // pass list: (passW, passH) — one entry (w, h) when non-interlaced
    val passes: Array[(Long, Long)] =
      if (ihInterlace == 0) Array((width, height))
      else Array.tabulate(7) { i =>
        val pw = if (width > XS(i)) (width - XS(i) + XP(i) - 1) / XP(i) else 0L
        val ph = if (height > YS(i)) (height - YS(i) + YP(i) - 1) / YP(i) else 0L
        (pw, ph)
      }
    if (idatTotal < 2) return null // zlib header
    var raw = 0L
    passes.foreach { case (pw, ph) =>
      if (pw > 0 && ph > 0) {
        val rb = rowBytesFor(pw)
        if (ph > MaxOutputBytes || rb > MaxOutputBytes / ph) return null
        raw += ph * rb
        if (raw > MaxOutputBytes) return null
      }
    }
    if (raw == 0) return null

    // --- concatenate IDAT payloads (the zlib stream) ---
    val z = new Array[Byte](idatTotal.toInt)
    var zi = 0
    var s = 0
    while (s < nSpans) {
      System.arraycopy(bytes, spanOff(s), z, zi, spanLen(s))
      zi += spanLen(s)
      s += 1
    }

    // --- zlib envelope (RFC 1950) ---
    val cmf = z(0) & 0xff
    val flg = z(1) & 0xff
    if ((cmf & 0x0f) != 8 || (cmf >> 4) > 7) return null // deflate, 32K max
    if ((flg & 0x20) != 0) return null // FDICT: preset dict unsupported
    if ((cmf * 256 + flg) % 31 != 0) return null // FCHECK

    // --- full DEFLATE decode — must produce EXACTLY the declared raw
    // size; the trailing 4 IDAT bytes must be the Adler-32 of it ---
    val out = new Array[Byte](raw.toInt)
    val infl = Inflate.inflateTracked(z, 2, out)
    if (infl < 0 || (infl & 0xffffffffL).toInt != out.length) return null
    if ((infl >>> 32).toInt != z.length - 4) return null
    if (z.length < 6 ||
      Checksums.adler32(out, 0, out.length) != be32(z, z.length - 4))
      return null

    // --- un-filter + per-channel sums, pass by pass. Sums are
    // position-free, so interlaced passes need no re-weave: every pass
    // pixel is a distinct image pixel. ---
    val bpp = math.max(1, bitsPerPx / 8) // filter byte distance
    val grayScale = ihDepth match { // gray sample -> 0..255
      case 1 => 255
      case 2 => 85
      case 4 => 17
      case _ => 1
    }
    val maxIdx = plteLen / 3
    var sumR = 0L
    var sumG = 0L
    var sumB = 0L
    var q = 0
    var pi = 0
    while (pi < passes.length) {
      val (pwL, phL) = passes(pi)
      if (pwL > 0 && phL > 0) {
        val pw = pwL.toInt
        val ph = phL.toInt
        val rowLen = (rowBytesFor(pwL) - 1).toInt
        val prev = new Array[Int](rowLen) // zeros: virtual row -1
        val cur = new Array[Int](rowLen)
        var row = 0
        while (row < ph) {
          val ft = out(q) & 0xff
          if (ft > 4) return null // undefined filter type: corrupt
          q += 1
          var x = 0
          while (x < rowLen) {
            val rawv = out(q + x) & 0xff
            val left = if (x >= bpp) cur(x - bpp) else 0
            val up = prev(x)
            val rec = ft match {
              case 0 => rawv
              case 1 => rawv + left
              case 2 => rawv + up
              case 3 => rawv + ((left + up) >> 1)
              case _ => // Paeth predictor
                val ul = if (x >= bpp) prev(x - bpp) else 0
                val p = left + up - ul
                val pa = math.abs(p - left)
                val pb = math.abs(p - up)
                val pc = math.abs(p - ul)
                val pred =
                  if (pa <= pb && pa <= pc) left
                  else if (pb <= pc) up
                  else ul
                rawv + pred
            }
            cur(x) = rec & 0xff
            x += 1
          }
          // sample extraction for this scanline; depth 16 projects to
          // 8 bits via the HIGH byte (the libpng strip-16 convention —
          // samples are big-endian, so the high byte leads)
          val step = if (ihDepth == 16) 2 else 1
          ihColor match {
            case 2 => // RGB 8/16
              var px = 0
              val lim = pw * 3 * step
              while (px < lim) {
                sumR += cur(px); sumG += cur(px + step)
                sumB += cur(px + 2 * step)
                px += 3 * step
              }
            case 6 => // RGBA 8/16 (alpha ignored by the RGB contract)
              var px = 0
              val lim = pw * 4 * step
              while (px < lim) {
                sumR += cur(px); sumG += cur(px + step)
                sumB += cur(px + 2 * step)
                px += 4 * step
              }
            case 4 => // gray+alpha 8/16
              var px = 0
              val lim = pw * 2 * step
              while (px < lim) {
                val v = cur(px)
                sumR += v; sumG += v; sumB += v
                px += 2 * step
              }
            case _ if ihColor == 0 && ihDepth == 16 => // gray 16
              var i = 0
              while (i < pw) {
                val v = cur(i * 2)
                sumR += v; sumG += v; sumB += v
                i += 1
              }
            case _ => // gray (0) or palette (3) at depth 1/2/4/8
              var i = 0
              while (i < pw) {
                val v =
                  if (ihDepth == 8) cur(i)
                  else {
                    val perByte = 8 / ihDepth
                    val b0 = cur(i / perByte)
                    val shift = 8 - ihDepth * (i % perByte + 1)
                    (b0 >> shift) & ((1 << ihDepth) - 1)
                  }
                if (ihColor == 0) {
                  val g = v * grayScale
                  sumR += g; sumG += g; sumB += g
                } else {
                  if (v >= maxIdx) return null // index past the palette
                  sumR += bytes(plteOff + 3 * v) & 0xff
                  sumG += bytes(plteOff + 3 * v + 1) & 0xff
                  sumB += bytes(plteOff + 3 * v + 2) & 0xff
                }
                i += 1
              }
          }
          System.arraycopy(cur, 0, prev, 0, rowLen)
          q += rowLen
          row += 1
        }
      }
      pi += 1
    }
    val w = width.toInt
    val h = height.toInt
    new GenericInternalRow(Array[Any](w, h, width * height, sumR, sumG, sumB))
  }

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

  /** Column entry point: png_pixels(binary) → struct<width:int,
    * height:int, n_px:bigint, sum_r:bigint, sum_g:bigint, sum_b:bigint>
    * (NULL unless a well-formed 8-bit RGB PNG).
    */
  def png_pixels(c: Column): Column =
    GraftColumnBridge.column(PngPixels(GraftColumnBridge.expression(c)))
}
