package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** In-engine Brotli decode (`brotli_inflate(bytes) → BINARY`) — the
  * crawl-line rung the r13 verdict named: real WARC response records
  * frequently carry `Content-Encoding: br` bodies (Brotli is the
  * default HTTPS text encoding on much of the web), and until now those
  * bytes NULLed before HtmlText saw them. Implements RFC 7932:
  *
  *  - stream header window bits (10–24, incl. the 7-bit long forms);
  *  - meta-blocks: ISLAST / ISLASTEMPTY, MNIBBLES 4–6 with the
  *    nonzero-high-nibble rule, METADATA blocks (reserved bit,
  *    MSKIPBYTES, nonzero-last-byte rule, byte-aligned skip),
  *    UNCOMPRESSED blocks (byte-aligned raw copy);
  *  - prefix codes: 1–4-symbol simple codes (incl. the NSYM=4
  *    tree-select) and complex codes via the fixed code-length code,
  *    with sym-16/17 repeat semantics and exact 32768-unit space
  *    accounting;
  *  - block-type/count machinery for all three categories (L/I/D)
  *    with the 26-symbol count alphabet;
  *  - context modeling: LSB6/MSB6/UTF8/SIGNED literal context modes,
  *    RLE-coded context maps with IMTF, distance contexts by copy
  *    length;
  *  - the command loop: 704-code insert&copy alphabet, 24-code
  *    insert/copy length tables, distance ring buffer (init
  *    16,15,11,4) with the 16 short codes, NPOSTFIX/NDIRECT direct
  *    and long distance codes.
  *
  *  - the static dictionary (§8 / Appendix A+B): a distance past the
  *    sliding window selects one of 122,784 dictionary bytes' words
  *    (lengths 4–24, NDBITS-indexed buckets) under one of 121
  *    transforms (identity, ferment-first/all with the UTF-8 2/3-byte
  *    rules, omit-first/last-N, prefix/suffix). The word data and the
  *    transform table live in `BrotliDictData`/`brotli_dict.bin`,
  *    extracted from the system libbrotli 1.2.0 (`BrotliGetDictionary`
  *    / `BrotliGetTransforms`) and verified per-transform against
  *    `BrotliTransformDictionaryWord` at extraction time
  *    (tools/extract_brotli_dict.py). Dictionary references do NOT
  *    update the distance ring buffer. This closes the former declared
  *    bound: real web `.br` at q≥4 emits dictionary references
  *    constantly, and BrotliInflateSpec's 72-stream quality sweep now
  *    round-trips all shapes at every quality.
  *
  * Family contract: any malformation — bad window bits, nibble/byte
  * zero-rule violations, over-subscribed or incomplete prefix codes,
  * context-map value out of range, distance ≤ 0 or past window,
  * insert/copy past MLEN, trailing garbage, nonzero padding — NULLs
  * the WHOLE result; output capped at [[Decompression.MaxOutputBytes]]
  * (the family 64 MB bomb cap). Scale shape: map-only, codegen'd, fuses into the
  * scan; working state is the output buffer plus O(alphabet) tables.
  */
case class BrotliInflate(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"BrotliInflate requires BINARY input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    BrotliInflate.inflate(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.BrotliInflate.inflate($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression)
      : BrotliInflate = copy(child = newChild)

  override def prettyName: String = "brotli_inflate"
}

object BrotliInflate {

  import Decompression.MaxOutputBytes

  /** RFC 7932 Appendix A dictionary data (122,784 bytes), extracted
    * once from the system libbrotli by tools/extract_brotli_dict.py.
    */
  private lazy val DictBytes: Array[Byte] = {
    val in = getClass.getResourceAsStream("/graft/brotli_dict.bin")
    require(in != null, "missing resource /graft/brotli_dict.bin")
    try {
      val buf = in.readAllBytes()
      require(buf.length == 122784, s"brotli_dict.bin: ${buf.length} bytes")
      buf
    } finally in.close()
  }

  /** §8 "ferment" (uppercase-like) transform, in place over
    * `buf[from,to)`: ASCII a–z XOR 32; UTF-8 2-byte sequences XOR the
    * second byte with 32; 3-byte sequences XOR the third with 5.
    * `all=false` ferments only the first (possibly multi-byte) char.
    */
  private def ferment(buf: Array[Byte], from: Int, to: Int, all: Boolean): Unit = {
    var i = from
    var first = true
    while (i < to && (all || first)) {
      val c = buf(i) & 0xff
      if (c < 192) {
        if (c >= 'a' && c <= 'z') buf(i) = (c ^ 32).toByte
        i += 1
      } else if (c < 224) {
        if (i + 1 < to) buf(i + 1) = (buf(i + 1) ^ 32).toByte
        i += 2
      } else {
        if (i + 2 < to) buf(i + 2) = (buf(i + 2) ^ 5).toByte
        i += 3
      }
      first = false
    }
  }

  private class Bad extends RuntimeException
  private def bad(): Nothing = throw new Bad


  /** LSB-first bit reader (RFC 7932 §2). */
  private final class Bits(src: Array[Byte]) {
    var pos: Long = 0L
    val nBits: Long = src.length.toLong * 8
    def read(k: Int): Int = {
      if (k == 0) return 0
      if (pos + k > nBits) bad()
      val byteIx = (pos >> 3).toInt
      val bitOff = (pos & 7).toInt
      var v = 0L
      var nb = 0
      val need = bitOff + k
      while (nb * 8 < need) {
        v |= (src(byteIx + nb) & 0xffL) << (8 * nb)
        nb += 1
      }
      pos += k
      ((v >>> bitOff) & ((1L << k) - 1)).toInt
    }
    def read1(): Int = read(1)
    /** Peek up to `k ≤ 22` bits without consuming (zero-padded past the
      * stream end — the caller's skip(len) still bounds-checks).
      */
    def peekN(k: Int): Int = {
      val byteIx = (pos >> 3).toInt
      val bitOff = (pos & 7).toInt
      var v = 0L
      var nb = 0
      val need = bitOff + k
      val avail = src.length - byteIx
      while (nb * 8 < need && nb < avail) {
        v |= (src(byteIx + nb) & 0xffL) << (8 * nb)
        nb += 1
      }
      ((v >>> bitOff) & ((1L << k) - 1)).toInt
    }
    def peek4(): Int = peekN(4)
    def skip(k: Int): Unit = { if (pos + k > nBits) bad(); pos += k }
    /** Round up to the next byte boundary, requiring the skipped
      * padding bits to be zero (libbrotli PADDING_1/PADDING_2).
      */
    def align(): Unit = {
      val pad = ((8 - (pos & 7)) & 7).toInt
      if (pad > 0 && read(pad) != 0) bad()
    }
    def bytePos: Int = { require((pos & 7) == 0); (pos >> 3).toInt }
  }

  /** Canonical prefix-code decoder: two-level TABLE decode (the
    * zlib/libbrotli scheme — an 8-bit root peek resolves every code of
    * length ≤ 8 in one lookup; longer codes chain to per-prefix
    * subtables sized 2^(maxLen-8)). `lens(sym)` = code length (≤ 15),
    * 0 = absent. Entries pack (len << 12 | sym); 0 = invalid. Degenerate
    * single-symbol codes decode with zero bits; the uniform all-len-8
    * literal code (the llm_source_br template, near-raw q0/q1 blocks)
    * short-circuits to bit-reverse(read(8)).
    */
  private final class Huff(lens: Array[Int]) {
    private var single = -1
    private val uniform8 =
      lens.length == 256 && lens.forall(_ == 8)
    private var maxLen = 0
    private var root: Array[Int] = null
    private var subs: Array[Array[Int]] = null
    locally {
      var count = 0
      var onlySym = -1
      var i = 0
      while (i < lens.length) {
        if (lens(i) < 0 || lens(i) > 15) bad()
        if (lens(i) > 0) {
          count += 1; onlySym = i
          if (lens(i) > maxLen) maxLen = lens(i)
        }
        i += 1
      }
      if (count == 0) bad()
      if (count == 1) single = onlySym
      else if (uniform8) () // complete by construction; no table needed
      else {
        // Kraft completeness in 2^-15 units
        var space = 0L
        i = 0
        while (i < lens.length) {
          if (lens(i) > 0) space += (1L << (15 - lens(i)))
          i += 1
        }
        if (space != (1L << 15)) bad()
        // canonical codes by (len, sym)
        val blCount = new Array[Int](16)
        i = 0
        while (i < lens.length) { if (lens(i) > 0) blCount(lens(i)) += 1; i += 1 }
        val nextCode = new Array[Int](16)
        var code = 0
        var l = 1
        while (l <= 15) { code = (code + blCount(l - 1)) << 1; nextCode(l) = code; l += 1 }
        root = new Array[Int](256)
        val subBuf = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
        i = 0
        while (i < lens.length) {
          val len = lens(i)
          if (len > 0) {
            val c = nextCode(len); nextCode(len) += 1
            val e = (len << 12) | i
            if (len <= 8) {
              // every 8-bit extension of the code maps to this entry
              val base = c << (8 - len)
              var k = 0
              while (k < (1 << (8 - len))) { root(base + k) = e; k += 1 }
            } else {
              val pfx = c >> (len - 8)
              val sub = root(pfx) match {
                case 0 =>
                  val t = new Array[Int](1 << (maxLen - 8))
                  subBuf += t; root(pfx) = -subBuf.size; t
                case r if r < 0 => subBuf(-r - 1)
                case _ => bad()
              }
              val base = (c & ((1 << (len - 8)) - 1)) << (maxLen - len)
              var k = 0
              while (k < (1 << (maxLen - len))) { sub(base + k) = e; k += 1 }
            }
          }
          i += 1
        }
        subs = subBuf.toArray
      }
    }
    def decode(b: Bits): Int = {
      if (single >= 0) return single
      if (uniform8) return Rev8(b.read(8))
      // root index = the code's first 8 bits MSB-first (the LSB-first
      // peek bit-reversed); short codes cover every suffix extension
      val e = root(Rev8(b.peekN(8)))
      if (e > 0) { b.skip(e >>> 12); return e & 0xfff }
      if (e == 0) bad()
      val full = Integer.reverse(b.peekN(maxLen)) >>> (32 - maxLen)
      val e2 = subs(-e - 1)(full & ((1 << (maxLen - 8)) - 1))
      if (e2 == 0) bad()
      b.skip(e2 >>> 12)
      e2 & 0xfff
    }
  }

  // ---- RFC 7932 constant tables ----

  /** Bit-reversal of a byte (the uniform-8 canonical-code fast path). */
  private val Rev8: Array[Int] = Array.tabulate(256) { v =>
    var r = 0; var i = 0
    while (i < 8) { r |= ((v >> i) & 1) << (7 - i); i += 1 }
    r
  }

  // §3.5 fixed code for code-length code lengths, indexed by 4 peeked
  // LSB-first bits
  private val ClcLen = Array(2, 2, 2, 3, 2, 2, 2, 4, 2, 2, 2, 3, 2, 2, 2, 4)
  private val ClcVal = Array(0, 4, 3, 2, 0, 4, 3, 1, 0, 4, 3, 2, 0, 4, 3, 5)
  // §3.5 code-length-code symbol order
  private val ClcOrder =
    Array(1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  // §5 command-code cell → insert/copy code range starts (cells ≥ 2
  // after the two implicit-distance-0 cells)
  private val InsRange = Array(0, 0, 8, 8, 0, 16, 8, 16, 16)
  private val CopyRange = Array(0, 8, 0, 8, 16, 0, 16, 8, 16)

  // §5 insert length codes
  private val InsBase = Array(0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34, 50,
    66, 98, 130, 194, 322, 578, 1090, 2114, 6210, 22594)
  private val InsExtra = Array(0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5,
    6, 7, 8, 9, 10, 12, 14, 24)
  // §5 copy length codes
  private val CopyBase = Array(2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22, 30,
    38, 54, 70, 102, 134, 198, 326, 582, 1094, 2118)
  private val CopyExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4,
    5, 5, 6, 7, 8, 9, 10, 24)

  // §6 block count codes (26 symbols)
  private val BlkBase = Array(1, 5, 9, 13, 17, 25, 33, 41, 49, 65, 81, 97, 113,
    145, 177, 209, 241, 305, 369, 497, 753, 1265, 2289, 4337, 8433, 16625)
  private val BlkExtra = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5,
    6, 6, 7, 8, 9, 10, 11, 12, 13, 24)

  // §4 distance short codes: ring index offset (relative to the next
  // write position; 3 ≡ last) and value delta
  private val DistIdxOff = Array(3, 2, 1, 0, 3, 3, 3, 3, 3, 3, 2, 2, 2, 2, 2, 2)
  private val DistValOff = Array(0, 0, 0, 0, -1, 1, -2, 2, -3, 3, -1, 1, -2, 2,
    -3, 3)

  // §7.1 UTF8 context mode lookup for p1 (previous byte)
  private val Utf8Lut0: Array[Int] = {
    val t = new Array[Int](256)
    // control chars → 0, except \t \n \r → 4
    t(9) = 4; t(10) = 4; t(13) = 4
    val asciiMap: Map[Char, Int] = Map(
      ' ' -> 8, '!' -> 12, '"' -> 16, '#' -> 12, '$' -> 12, '%' -> 20,
      '&' -> 12, '\'' -> 16, '(' -> 24, ')' -> 28, '*' -> 12, '+' -> 12,
      ',' -> 32, '-' -> 12, '.' -> 36, '/' -> 12,
      ':' -> 32, ';' -> 32, '<' -> 24, '=' -> 40, '>' -> 28, '?' -> 12,
      '@' -> 12, '[' -> 24, '\\' -> 12, ']' -> 28, '^' -> 12, '_' -> 12,
      '`' -> 12, '{' -> 24, '|' -> 12, '}' -> 28, '~' -> 12)
    var i = '0'.toInt
    while (i <= '9') { t(i) = 44; i += 1 }
    asciiMap.foreach { case (c, v) => t(c.toInt) = v }
    // uppercase: vowels AEIOU → 48, consonants → 52
    i = 'A'.toInt
    while (i <= 'Z') {
      t(i) = if ("AEIOU".contains(i.toChar)) 48 else 52
      i += 1
    }
    // lowercase: vowels → 56, consonants → 60
    i = 'a'.toInt
    while (i <= 'z') {
      t(i) = if ("aeiou".contains(i.toChar)) 56 else 60
      i += 1
    }
    t(127) = 0
    // high half: UTF-8 continuation 128..191 alternate 0/1, lead bytes
    // 192..255 alternate 2/3
    i = 128
    while (i < 192) { t(i) = i & 1; i += 1 }
    while (i < 256) { t(i) = 2 + (i & 1); i += 1 }
    t
  }

  // §7.1 UTF8 context mode lookup for p2 (second-to-last byte):
  // 0 control, 1 space/punct, 2 digit/upper/high, 3 lower
  private val Utf8Lut1: Array[Int] = {
    val t = new Array[Int](256)
    var i = 32
    while (i < 128) {
      val c = i.toChar
      t(i) =
        if (c >= 'a' && c <= 'z') 3
        else if (c >= 'A' && c <= 'Z') 2
        else if (c >= '0' && c <= '9') 2
        else if (i == 127 || i == 32) 0 // space groups with control, NOT punct
        else 1 // punctuation
      i += 1
    }
    // high half (verified against libbrotli's _kBrotliContextLookupTable):
    // continuation bytes AND 2-byte leads (128..223) → 0; 3-byte-plus
    // leads (224..255) → 2
    i = 224
    while (i < 256) { t(i) = 2; i += 1 }
    t
  }

  // §7.1 SIGNED context mode quantization
  private def signedLut(b: Int): Int =
    if (b == 0) 0
    else if (b < 16) 1
    else if (b < 64) 2
    else if (b < 128) 3
    else if (b < 192) 4
    else if (b < 240) 5
    else if (b < 255) 6
    else 7

  private def contextId(mode: Int, p1: Int, p2: Int): Int = mode match {
    case 0 => p1 & 0x3f // LSB6
    case 1 => p1 >> 2 // MSB6
    case 2 => Utf8Lut0(p1) | Utf8Lut1(p2) // UTF8
    case _ => (signedLut(p1) << 3) | signedLut(p2) // SIGNED
  }

  // §9.1 window bits
  private def decodeWindowBits(b: Bits): Int = {
    if (b.read1() == 0) return 16
    val n = b.read(3)
    if (n != 0) return 17 + n
    val m = b.read(3)
    if (m != 0) { if (m == 1) bad() else return 8 + m }
    17
  }

  // §9.2 variable-length 256 value (NBLTYPES / NTREES)
  private def decodeVarLen256(b: Bits): Int = {
    if (b.read1() == 0) return 1
    val k = b.read(3)
    if (k == 0) 2 else (1 << k) + 1 + b.read(k)
  }

  // §3.5 complex prefix code: read code lengths for `alphabet`, return
  // the decoder. `hskip` = number of leading ClcOrder entries skipped.
  private def readComplexCode(b: Bits, alphabet: Int, hskip: Int): Huff = {
    val clcLens = new Array[Int](18)
    var space = 32 // in 1/32 units
    var numCodes = 0
    var i = hskip
    while (i < 18 && space > 0) {
      val peek = b.peek4()
      val len = ClcLen(peek)
      b.skip(len)
      val v = ClcVal(peek)
      clcLens(ClcOrder(i)) = v
      if (v != 0) { space -= 32 >> v; numCodes += 1 }
      i += 1
    }
    if (space < 0) bad()
    if (space != 0 && numCodes != 1) bad()
    val clcTree = new Huff(clcLens)
    // real code lengths with 16/17 repeat semantics
    val lens = new Array[Int](alphabet)
    var bigSpace = 32768L
    var n = 0
    var prevLen = 8 // last nonzero written length (repeat-16 value)
    var repeat = 0
    var prevSym = -1
    while (bigSpace > 0 && n < alphabet) {
      val sym = clcTree.decode(b)
      if (sym < 16) {
        lens(n) = sym; n += 1
        if (sym != 0) { prevLen = sym; bigSpace -= 32768 >> sym }
        repeat = 0
        prevSym = sym
      } else {
        val extraBits = if (sym == 16) 2 else 3
        var old = 0
        if (prevSym == sym) { old = repeat; repeat = (repeat - 2) << extraBits }
        else repeat = 0
        repeat += b.read(extraBits) + 3
        val delta = repeat - old
        if (n + delta > alphabet) bad()
        val fill = if (sym == 16) prevLen else 0
        var j = 0
        while (j < delta) { lens(n) = fill; n += 1; j += 1 }
        if (sym == 16) bigSpace -= delta.toLong * (32768 >> fill)
        prevSym = sym
      }
    }
    // complex codes require EXACT Kraft space (libbrotli HUFFMAN_SPACE);
    // single-symbol degenerate codes are only legal via the simple form
    if (bigSpace != 0) bad()
    new Huff(lens)
  }

  // §3 prefix code (simple or complex) over `alphabet`
  private def readPrefixCode(b: Bits, alphabet: Int): Huff = {
    val hskip = b.read(2)
    if (hskip == 1) {
      // simple code: 1-4 symbols, each in ALPHABET_BITS
      val alphabetBits = {
        var bits = 0
        var v = alphabet - 1
        while (v > 0) { bits += 1; v >>= 1 }
        bits
      }
      val nsym = b.read(2) + 1
      val syms = new Array[Int](nsym)
      var i = 0
      while (i < nsym) {
        val s = b.read(alphabetBits)
        if (s >= alphabet) bad()
        var j = 0
        while (j < i) { if (syms(j) == s) bad(); j += 1 }
        syms(i) = s
        i += 1
      }
      val lens = new Array[Int](alphabet)
      nsym match {
        case 1 => lens(syms(0)) = 1 // degenerate: Huff detects single
        case 2 => lens(syms(0)) = 1; lens(syms(1)) = 1
        case 3 =>
          lens(syms(0)) = 1; lens(syms(1)) = 2; lens(syms(2)) = 2
        case _ =>
          if (b.read1() == 0) { var j = 0; while (j < 4) { lens(syms(j)) = 2; j += 1 } }
          else {
            lens(syms(0)) = 1; lens(syms(1)) = 2
            lens(syms(2)) = 3; lens(syms(3)) = 3
          }
      }
      new Huff(lens)
    } else readComplexCode(b, alphabet, hskip)
  }

  // §7.3 context map
  private def readContextMap(b: Bits, size: Int, ntrees: Int): Array[Int] = {
    val map = new Array[Int](size)
    if (ntrees == 1) return map
    val rleMax = if (b.read1() == 1) b.read(4) + 1 else 0
    val tree = readPrefixCode(b, ntrees + rleMax)
    var i = 0
    while (i < size) {
      val sym = tree.decode(b)
      if (sym == 0) { map(i) = 0; i += 1 }
      else if (sym <= rleMax) {
        var reps = (1 << sym) + b.read(sym)
        if (i + reps > size) bad()
        while (reps > 0) { map(i) = 0; i += 1; reps -= 1 }
      } else {
        val v = sym - rleMax
        if (v >= ntrees) bad()
        map(i) = v
        i += 1
      }
    }
    if (b.read1() == 1) {
      // inverse move-to-front
      val mtf = new Array[Int](256)
      var k = 0
      while (k < 256) { mtf(k) = k; k += 1 }
      i = 0
      while (i < size) {
        val idx = map(i)
        val v = mtf(idx)
        map(i) = v
        var j = idx
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
        i += 1
      }
    }
    map
  }

  /** Per-category block-switch state (§6). */
  private final class BlockState(b: Bits, val nTypes: Int) {
    var cur = 0
    var prev = 1
    var len: Long = Long.MaxValue
    private var typeTree: Huff = null
    private var countTree: Huff = null
    if (nTypes > 1) {
      typeTree = readPrefixCode(b, nTypes + 2)
      countTree = readPrefixCode(b, 26)
      len = readCount(b)
    }
    private def readCount(b: Bits): Long = {
      val sym = countTree.decode(b)
      BlkBase(sym).toLong + b.read(BlkExtra(sym))
    }
    def tick(b: Bits): Unit = {
      if (len == 0) {
        val sym = typeTree.decode(b)
        val nt = sym match {
          case 0 => prev
          case 1 => (cur + 1) % nTypes
          case s => s - 2
        }
        prev = cur; cur = nt
        len = readCount(b)
      }
      len -= 1
    }
  }

  /** Full-stream decode; null on ANY malformation or a static-
    * dictionary reference (the declared bound).
    */
  /** Diagnostic twin: decodes like [[inflate]] but THROWS on
    * malformation instead of returning null — test-side triage only.
    */
  private[functions] def inflateStrict(src: Array[Byte]): Array[Byte] =
    inflateImpl(src)

  def inflate(src: Array[Byte]): Array[Byte] = try {
    inflateImpl(src)
  } catch {
    case _: Bad => null
    case _: ArrayIndexOutOfBoundsException => null
    case _: IllegalArgumentException => null
    case _: NegativeArraySizeException => null
  }

  private def inflateImpl(src: Array[Byte]): Array[Byte] = {
    if (src == null || src.length == 0) return null
    val b = new Bits(src)
    val wbits = decodeWindowBits(b)
    val window = (1 << wbits) - 16
    var out = new Array[Byte](math.min(64 * 1024, MaxOutputBytes))
    var outLen = 0
    def ensure(n: Int): Unit = {
      if (n > MaxOutputBytes) bad()
      if (n > out.length) {
        var cap = out.length
        while (cap < n) cap = math.min(cap * 2, MaxOutputBytes)
        out = java.util.Arrays.copyOf(out, cap)
      }
    }
    // distance ring buffer: rb[(idx-1)&3] = last
    val rb = Array(16, 15, 11, 4)
    var rbIdx = 4

    // §8: append dictionary word `off..off+wlen` under transform `tId`
    // (prefix + {identity|omit-first/last-N|ferment} + suffix); returns
    // the transformed length. Semantics pinned per-transform against
    // libbrotli's BrotliTransformDictionaryWord at extraction time.
    def appendDictWord(tId: Int, off: Int, wlen: Int): Int = {
      val dict = DictBytes
      val pfx = BrotliDictData.TransformPrefixes(tId)
      val sfx = BrotliDictData.TransformSuffixes(tId)
      val typ = BrotliDictData.TransformTypes(tId)
      val start = outLen
      ensure(outLen + pfx.length + wlen + sfx.length)
      var i = 0
      while (i < pfx.length) {
        out(outLen) = pfx.charAt(i).toByte; outLen += 1; i += 1
      }
      var ws = off
      var we = off + wlen
      if (typ >= 12) ws += math.min(typ - 11, wlen) // omit-first-N
      else if (typ >= 1 && typ <= 9) we -= math.min(typ, wlen) // omit-last-N
      val mid = outLen
      var j = ws
      while (j < we) { out(outLen) = dict(j); outLen += 1; j += 1 }
      if (typ == 10 || typ == 11) ferment(out, mid, outLen, typ == 11)
      i = 0
      while (i < sfx.length) {
        out(outLen) = sfx.charAt(i).toByte; outLen += 1; i += 1
      }
      outLen - start
    }

    // ---- compressed meta-block body (§9.3) ----
    def decodeCompressed(mlenIn: Int): Unit = {
      val bsL = new BlockState(b, decodeVarLen256(b))
      val bsI = new BlockState(b, decodeVarLen256(b))
      val bsD = new BlockState(b, decodeVarLen256(b))
      val npostfix = b.read(2)
      val ndirect = b.read(4) << npostfix
      val contextModes = new Array[Int](bsL.nTypes)
      var i = 0
      while (i < bsL.nTypes) { contextModes(i) = b.read(2); i += 1 }
      val ntreesL = decodeVarLen256(b)
      val cmapL = readContextMap(b, 64 * bsL.nTypes, ntreesL)
      val ntreesD = decodeVarLen256(b)
      val cmapD = readContextMap(b, 4 * bsD.nTypes, ntreesD)
      val litTrees = Array.fill(ntreesL)(readPrefixCode(b, 256))
      val cmdTrees = Array.fill(bsI.nTypes)(readPrefixCode(b, 704))
      val distAlphabet = 16 + ndirect + (48 << npostfix)
      val distTrees = Array.fill(ntreesD)(readPrefixCode(b, distAlphabet))
      var mlen = mlenIn
      var p1 = if (outLen > 0) out(outLen - 1) & 0xff else 0
      var p2 = if (outLen > 1) out(outLen - 2) & 0xff else 0
      while (mlen > 0) {
        bsI.tick(b)
        val cmd = cmdTrees(bsI.cur).decode(b)
        var ri = cmd >> 6
        val distCodeZero = ri < 2
        if (!distCodeZero) ri -= 2
        val insCode = InsRange(ri) + ((cmd >> 3) & 7)
        val copyCode = CopyRange(ri) + (cmd & 7)
        val insLen = InsBase(insCode) + b.read(InsExtra(insCode))
        val copyLen = CopyBase(copyCode) + b.read(CopyExtra(copyCode))
        if (insLen > mlen) bad()
        var j = 0
        while (j < insLen) {
          bsL.tick(b)
          val cid = contextId(contextModes(bsL.cur), p1, p2)
          val lit = litTrees(cmapL(bsL.cur * 64 + cid)).decode(b)
          ensure(outLen + 1)
          out(outLen) = lit.toByte
          outLen += 1
          p2 = p1; p1 = lit
          j += 1
        }
        mlen -= insLen
        if (mlen > 0) {
          var distance = 0
          var pushIt = true
          if (distCodeZero) {
            distance = rb((rbIdx - 1) & 3)
            pushIt = false
          } else {
            bsD.tick(b)
            val cid = if (copyLen > 4) 3 else copyLen - 2
            val dcode = distTrees(cmapD(bsD.cur * 4 + cid)).decode(b)
            if (dcode == 0) {
              distance = rb((rbIdx - 1) & 3)
              pushIt = false
            } else if (dcode < 16) {
              distance = rb((rbIdx + DistIdxOff(dcode)) & 3) + DistValOff(dcode)
            } else if (dcode < 16 + ndirect) {
              distance = dcode - 16 + 1
            } else {
              val base = dcode - ndirect - 16
              val postfixMask = (1 << npostfix) - 1
              val hcode = base >> npostfix
              val lcode = base & postfixMask
              val ndistbits = 1 + (hcode >> 1)
              val offset = ((2 + (hcode & 1)) << ndistbits) - 4
              val dextra = b.read(ndistbits)
              distance = ((offset + dextra) << npostfix) + lcode + ndirect + 1
            }
          }
          if (distance <= 0) bad()
          val maxDist = math.min(window.toLong, outLen.toLong)
          if (distance > maxDist) {
            // beyond the window = static dictionary reference (§8):
            // word_id selects a bucket word of the COPY length, the
            // high bits a transform; the ring buffer is NOT updated
            if (copyLen < 4 || copyLen > 24) bad()
            val shift = BrotliDictData.SizeBits(copyLen)
            val wordId = distance.toLong - maxDist - 1
            val tId = (wordId >> shift).toInt
            if (tId >= 121) bad()
            val index = (wordId & ((1L << shift) - 1)).toInt
            val off = BrotliDictData.Offsets(copyLen) + index * copyLen
            val tlen = appendDictWord(tId, off, copyLen)
            if (tlen > mlen) bad()
            if (outLen > 0) p1 = out(outLen - 1) & 0xff
            if (outLen > 1) p2 = out(outLen - 2) & 0xff
            mlen -= tlen
          } else {
            if (copyLen > mlen) bad()
            ensure(outLen + copyLen)
            var k = 0
            var srcPos = outLen - distance
            while (k < copyLen) {
              out(outLen) = out(srcPos)
              outLen += 1; srcPos += 1; k += 1
            }
            p1 = out(outLen - 1) & 0xff
            p2 = out(outLen - 2) & 0xff
            mlen -= copyLen
            if (pushIt) { rb(rbIdx & 3) = distance; rbIdx += 1 }
          }
        }
      }
    }

    var isLast = false
    while (!isLast) {
      isLast = b.read1() == 1
      var skipBody = false
      if (isLast && b.read1() == 1) skipBody = true // ISLASTEMPTY
      if (!skipBody) {
        val mnib = b.read(2)
        if (mnib == 3) {
          // metadata block: skipped, must not be last
          if (isLast) bad()
          if (b.read1() != 0) bad() // reserved
          val mskipBytes = b.read(2)
          var skip = 0
          var i = 0
          while (i < mskipBytes) {
            val by = b.read(8)
            if (i + 1 == mskipBytes && mskipBytes > 1 && by == 0) bad()
            skip |= by << (8 * i)
            i += 1
          }
          if (mskipBytes > 0) skip += 1
          b.align()
          b.skip(skip * 8)
        } else {
          val nibbles = 4 + mnib
          var mlenM1 = 0
          var i = 0
          while (i < nibbles) {
            val nv = b.read(4)
            if (i + 1 == nibbles && nibbles > 4 && nv == 0) bad()
            mlenM1 |= nv << (4 * i)
            i += 1
          }
          val mlen = mlenM1 + 1
          val uncompressed = if (!isLast) b.read1() == 1 else false
          if (uncompressed) {
            b.align()
            val start = b.bytePos
            if (start + mlen > src.length) bad()
            ensure(outLen + mlen)
            System.arraycopy(src, start, out, outLen, mlen)
            outLen += mlen
            b.skip(mlen * 8)
          } else {
            decodeCompressed(mlen)
          }
        }
      }
    }
    // family contract: remaining padding bits zero, no trailing bytes
    val padBits = ((8 - (b.pos & 7)) & 7).toInt
    if (padBits > 0 && b.read(padBits) != 0) bad()
    if (b.pos != b.nBits) bad()
    java.util.Arrays.copyOf(out, outLen)
  }

  def brotli_inflate(c: Column): Column =
    GraftColumnBridge.column(BrotliInflate(GraftColumnBridge.expression(c)))
}
