package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** In-engine BZIP2 decode (`bz2_inflate(bytes) → BINARY`) — the
  * Wikipedia/academic-dump rung of the codec family (r12 verdict #5:
  * `.bz2` is how enwiki and most research corpora actually ship;
  * DEFLATE/gzip/zlib/LZ4/zstd were covered, this was not). Implements
  * the complete public format the reference `bzip2` program defines
  * (there is no RFC; the format is fixed by the canonical
  * implementation and documented in its sources and the format spec
  * mirrors):
  *
  *  - stream header `BZh<level>`, level 1–9 → 100k–900k block size;
  *  - per block (48-bit magic 0x314159265359, bit-serial MSB-first):
  *    block CRC, the DEPRECATED randomized bit (files using it have
  *    not been produced since 0.9.5 — NULL, documented below),
  *    origPtr, the two-level symbol-usage map, 2–6 Huffman groups,
  *    15-bit selector count with UNARY MTF-coded selectors switching
  *    tables every 50 symbols, per-group DELTA-coded code lengths
  *    (1..23), canonical Huffman decode of the MTF/RLE2 symbol
  *    stream (RUNA/RUNB bijective-base-2 zero runs, EOB), MTF
  *    decode, inverse BWT from origPtr (counting sort + T-vector
  *    walk), RLE1 decode (4 equal bytes + count), per-block CRC
  *    VERIFIED;
  *  - stream footer 0x177245385090 + combined CRC (rotl1 ⊕ block CRC
  *    chain) VERIFIED; CONCATENATED streams (pbzip2 output) decode as
  *    one payload, the GzipMembers-style multi-member contract.
  *
  * CRCs use bzip2's MSB-first CRC-32 (poly 0x04C11DB7, init/final
  * 0xFFFFFFFF) — NOT the reflected zlib crc32.
  *
  * Family contract: any malformation — bad magic, randomized bit,
  * origPtr past block, over-long code lengths, selector out of range,
  * symbol past EOB, BWT/RLE1 overrun, CRC mismatch, trailing garbage —
  * NULLs the WHOLE result; output is capped at
  * [[Decompression.MaxOutputBytes]] (the family's 64 MB bomb cap). Pinned against two independent
  * implementations in Bz2InflateSpec: frozen bzip2(1) CLI output and
  * a commons-compress round-trip battery. Scale shape: map-only, codegen'd, fuses into the
  * scan; working state is one block (≤ 900k × ~10 int/byte arrays).
  */
case class Bz2Inflate(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"Bz2Inflate requires BINARY input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    Bz2Inflate.inflate(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Bz2Inflate.inflate($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression)
      : Bz2Inflate = copy(child = newChild)

  override def prettyName: String = "bz2_inflate"
}

object Bz2Inflate {

  import Decompression.MaxOutputBytes

  private val MaxCodeLen = 23 // BZ_MAX_CODE_LEN in the reference impl

  /** bzip2's MSB-first CRC-32 table (poly 0x04C11DB7). */
  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 24
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04C11DB7 else c << 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  private class Bad extends RuntimeException
  private def bad(): Nothing = throw new Bad

  /** MSB-first bit reader. */
  private final class Bits(src: Array[Byte]) {
    var pos: Long = 0 // bit position
    val nBits: Long = src.length.toLong * 8
    def read(k: Int): Int = {
      if (pos + k > nBits) bad()
      var v = 0
      var i = 0
      while (i < k) {
        v = (v << 1) |
          ((src((pos >> 3).toInt) >> (7 - (pos & 7).toInt)) & 1)
        pos += 1
        i += 1
      }
      v
    }
    def read1(): Int = read(1)
    def readLong(k: Int): Long = {
      var v = 0L
      var left = k
      while (left > 0) { val t = math.min(left, 24); v = (v << t) | read(t); left -= t }
      v
    }
    def byteAlign(): Unit = { pos = (pos + 7) & ~7L }
    def atEnd: Boolean = pos >= nBits
    // peek whether at least k bits remain
    def has(k: Int): Boolean = pos + k <= nBits
  }

  /** Canonical Huffman decoder, bzip2 style (limit/base/perm). */
  private final class Huff(lens: Array[Int], alphaSize: Int) {
    val minLen: Int = lens.min
    val maxLen: Int = lens.max
    val limit = new Array[Int](MaxCodeLen + 2)
    val base = new Array[Int](MaxCodeLen + 2)
    val perm = new Array[Int](alphaSize)
    // hbCreateDecodeTables
    locally {
      var pp = 0
      var i = minLen
      while (i <= maxLen) {
        var j = 0
        while (j < alphaSize) {
          if (lens(j) == i) { perm(pp) = j; pp += 1 }
          j += 1
        }
        i += 1
      }
      val cnt = new Array[Int](MaxCodeLen + 2)
      var k = 0
      while (k < alphaSize) { cnt(lens(k) + 1) += 1; k += 1 }
      k = 1
      while (k < cnt.length) { cnt(k) += cnt(k - 1); k += 1 }
      var vec = 0
      i = minLen
      while (i <= maxLen) {
        vec += cnt(i + 1) - cnt(i)
        limit(i) = vec - 1
        vec <<= 1
        i += 1
      }
      i = minLen + 1
      while (i <= maxLen) {
        base(i) = ((limit(i - 1) + 1) << 1) - cnt(i)
        i += 1
      }
    }
    def decode(b: Bits): Int = {
      var len = minLen
      var code = b.read(minLen)
      while (len <= maxLen && code > limit(len)) {
        code = (code << 1) | b.read1()
        len += 1
      }
      if (len > maxLen) bad()
      val idx = code - base(len)
      if (idx < 0 || idx >= perm.length) bad()
      perm(idx)
    }
  }

  /** Full decode of one or more concatenated bzip2 streams, or null. */
  def inflate(src: Array[Byte]): Array[Byte] = {
    if (src == null) return null
    try {
      val out = new java.io.ByteArrayOutputStream(
        math.min(math.max(64, src.length * 4), 1 << 20))
      val b = new Bits(src)
      var streams = 0
      while (!b.atEnd) {
        decodeStream(b, out)
        streams += 1
        b.byteAlign()
        // trailing zero padding only; another "BZh" starts a new stream
        if (!b.has(8)) { if (!b.atEnd) bad() }
      }
      if (streams == 0) bad()
      out.toByteArray
    } catch {
      case _: Bad => null
      case _: ArrayIndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
    }
  }

  private def decodeStream(b: Bits,
      out: java.io.ByteArrayOutputStream): Unit = {
    if (b.read(8) != 'B' || b.read(8) != 'Z' || b.read(8) != 'h') bad()
    val level = b.read(8) - '0'
    if (level < 1 || level > 9) bad()
    val blockMax = level * 100000
    var combinedCrc = 0
    var done = false
    while (!done) {
      val magic = b.readLong(48)
      if (magic == 0x314159265359L) {
        val blockCrc = b.readLong(32).toInt
        combinedCrc = ((combinedCrc << 1) | (combinedCrc >>> 31)) ^ blockCrc
        decodeBlock(b, blockMax, blockCrc, out)
      } else if (magic == 0x177245385090L) {
        val streamCrc = b.readLong(32).toInt
        if (streamCrc != combinedCrc) bad()
        done = true
      } else bad()
    }
  }

  private def decodeBlock(b: Bits, blockMax: Int, wantCrc: Int,
      out: java.io.ByteArrayOutputStream): Unit = {
    if (b.read1() != 0) bad() // deprecated randomized blocks: declared NULL
    val origPtr = b.read(24)
    // symbol usage map
    val used = new Array[Boolean](256)
    var nInUse = 0
    val map16 = b.read(16)
    var i = 0
    while (i < 16) {
      if ((map16 & (0x8000 >> i)) != 0) {
        val bits = b.read(16)
        var j = 0
        while (j < 16) {
          if ((bits & (0x8000 >> j)) != 0) {
            used(i * 16 + j) = true
            nInUse += 1
          }
          j += 1
        }
      }
      i += 1
    }
    if (nInUse == 0) bad()
    val seqToUnseq = new Array[Int](nInUse)
    var k = 0
    i = 0
    while (i < 256) { if (used(i)) { seqToUnseq(k) = i; k += 1 }; i += 1 }
    val alphaSize = nInUse + 2
    val nGroups = b.read(3)
    if (nGroups < 2 || nGroups > 6) bad()
    val nSelectors = b.read(15)
    if (nSelectors < 1) bad()
    // selectors, unary-coded MTF over the group list
    val selMtf = new Array[Int](nSelectors)
    i = 0
    while (i < nSelectors) {
      var j = 0
      while (b.read1() == 1) { j += 1; if (j >= nGroups) bad() }
      selMtf(i) = j
      i += 1
    }
    val pos = Array.tabulate(nGroups)(identity)
    val selectors = new Array[Int](nSelectors)
    i = 0
    while (i < nSelectors) {
      val v = selMtf(i)
      val tmp = pos(v)
      var j = v
      while (j > 0) { pos(j) = pos(j - 1); j -= 1 }
      pos(0) = tmp
      selectors(i) = tmp
      i += 1
    }
    // per-group delta-coded code lengths
    val huffs = new Array[Huff](nGroups)
    var g = 0
    while (g < nGroups) {
      val lens = new Array[Int](alphaSize)
      var curr = b.read(5)
      i = 0
      while (i < alphaSize) {
        var loop = true
        while (loop) {
          if (curr < 1 || curr > MaxCodeLen) bad()
          if (b.read1() == 0) loop = false
          else if (b.read1() == 0) curr += 1
          else curr -= 1
        }
        lens(i) = curr
        i += 1
      }
      huffs(g) = new Huff(lens, alphaSize)
      g += 1
    }
    // MTF + RLE2 symbol decode into the BWT buffer
    val eob = alphaSize - 1
    val mtf = new Array[Int](nInUse)
    i = 0
    while (i < nInUse) { mtf(i) = i; i += 1 }
    val unzftab = new Array[Int](256)
    // BWT bytes (low 8 bits here, next-pointers packed above later).
    // Grown on demand: a fixed level*100k allocation per block costs
    // 3.6 MB of zeroing per tiny shard row (measured dominating the
    // small-blob decode in ScaleProbe media)
    var tt = new Array[Int](math.min(blockMax, 1 << 14))
    def ensureTT(min: Int): Unit =
      if (min > tt.length)
        tt = java.util.Arrays.copyOf(tt,
          math.min(math.max(tt.length * 2, min), blockMax))
    var nblock = 0
    var groupNo = -1
    var groupPos = 0
    var huff: Huff = null
    def nextSym(): Int = {
      if (groupPos == 0) {
        groupNo += 1
        if (groupNo >= nSelectors) bad()
        groupPos = 50
        huff = huffs(selectors(groupNo))
      }
      groupPos -= 1
      huff.decode(b)
    }
    var sym = nextSym()
    while (sym != eob) {
      if (sym <= 1) { // RUNA/RUNB: bijective base-2 run of MTF[0]
        var run = 0L
        var shift = 0
        while (sym <= 1) {
          run += (sym + 1).toLong << shift
          shift += 1
          if (shift > 40) bad()
          sym = nextSym()
        }
        if (run > blockMax - nblock) bad()
        ensureTT(nblock + run.toInt)
        val byteVal = seqToUnseq(mtf(0))
        unzftab(byteVal) += run.toInt
        var r = 0L
        while (r < run) { tt(nblock) = byteVal; nblock += 1; r += 1 }
      } else {
        // MTF value sym-1
        val v = sym - 1
        if (v >= nInUse) bad()
        val tmp = mtf(v)
        var j = v
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = tmp
        val byteVal = seqToUnseq(tmp)
        if (nblock >= blockMax) bad()
        ensureTT(nblock + 1)
        unzftab(byteVal) += 1
        tt(nblock) = byteVal
        nblock += 1
        sym = nextSym()
      }
    }
    if (nblock < 1 || origPtr >= nblock) bad()
    // inverse BWT: build T vector in-place (high 24 bits = next index)
    val cftab = new Array[Int](257)
    i = 0
    while (i < 256) { cftab(i + 1) = cftab(i) + unzftab(i); i += 1 }
    i = 0
    while (i < nblock) {
      val ch = tt(i) & 0xff
      tt(cftab(ch)) = tt(cftab(ch)) | (i << 8)
      cftab(ch) += 1
      i += 1
    }
    // walk + RLE1 decode + CRC — into a LOCAL buffer: per-byte
    // ByteArrayOutputStream.write is synchronized and measured 10x the
    // whole decode (ScaleProbe media bz2, r13)
    var crc = 0xFFFFFFFF
    var tPos = tt(origPtr) >>> 8
    var count = 0
    var runLen = 0
    var prev = -1
    var buf = new Array[Byte](math.min(nblock * 2, MaxOutputBytes))
    var bl = 0
    def emit(byte: Int): Unit = {
      if (out.size() + bl >= MaxOutputBytes) bad()
      if (bl == buf.length)
        buf = java.util.Arrays.copyOf(buf,
          math.min(buf.length * 2L, MaxOutputBytes.toLong + 1).toInt)
      buf(bl) = byte.toByte
      bl += 1
      crc = (crc << 8) ^ CrcTable(((crc >>> 24) ^ byte) & 0xff)
    }
    while (count < nblock) {
      val byte = tt(tPos) & 0xff
      tPos = tt(tPos) >>> 8
      count += 1
      if (runLen == 4) {
        // this byte is the RLE1 repeat count for `prev`
        var r = 0
        while (r < byte) { emit(prev); r += 1 }
        runLen = 0
        prev = -1
      } else {
        if (byte == prev) runLen += 1 else { runLen = 1; prev = byte }
        emit(byte)
      }
    }
    if (runLen == 4) bad() // block ended expecting an RLE1 count byte
    crc = ~crc
    if (crc != wantCrc) bad()
    out.write(buf, 0, bl)
  }

  def bz2_inflate(c: Column): Column =
    GraftColumnBridge.column(Bz2Inflate(GraftColumnBridge.expression(c)))
}
