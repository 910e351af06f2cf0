package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** In-engine gzip decompression (RFC 1952 member framing over the
  * [[Inflate]] DEFLATE decoder) — the compressed-corpus source rung: web
  * crawl and training-data archives ship as .gz blobs, and at 100 TB
  * the engine wants to decode them INSIDE the scan (map-only, fused)
  * rather than through a driver-side or out-of-band decompression hop.
  *
  * Framing per the spec: magic 1F 8B, CM=8 (deflate), FLG with the
  * reserved bits clear; the optional FEXTRA (XLEN-prefixed), FNAME /
  * FCOMMENT (NUL-terminated) and FHCRC fields are SKIPPED correctly so
  * real encoder output with filenames decodes; then the raw deflate
  * stream; then the 8-byte trailer whose ISIZE (LE u32) declares the
  * uncompressed size — which is exactly the declared-output-size
  * contract [[Inflate]] enforces, so a lying ISIZE (either direction)
  * is detected as a size mismatch and the blob is NULL. Integrity IS
  * verified: the trailer CRC-32 must match the decompressed bytes
  * ([[Checksums.crc32]], RFC 1952 §8) and, when FHCRC is set, the
  * header CRC-16 (the low 16 bits of the CRC-32 over the header bytes
  * preceding it) must match — a bit-rotted archive member NULLs
  * instead of decoding to garbage that poisons downstream
  * fingerprints. One member per blob (a multi-member file's second
  * member is trailing garbage to this probe — by design;
  * concatenated-member corpora split upstream).
  *
  * NULL for: wrong magic/CM, reserved FLG bits, truncated header or
  * optional fields, ISIZE past the [[Decompression.MaxOutputBytes]]
  * zip-bomb guard, any deflate malformation / size mismatch, or a
  * CRC-32 / header CRC-16 mismatch.
  *
  * Scale shape: map-only, codegen'd; work and memory are O(declared
  * ISIZE), capped by the named guard — never O(compression ratio).
  */
case class GzipInflate(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"GzipInflate requires BINARY input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    GzipInflate.gunzip(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.GzipInflate.gunzip($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression)
      : GzipInflate = copy(child = newChild)

  override def prettyName: String = "gzip_inflate"
}

object GzipInflate {

  import Decompression.MaxOutputBytes

  private val FTEXT = 1
  private val FHCRC = 2
  private val FEXTRA = 4
  private val FNAME = 8
  private val FCOMMENT = 16

  /** Walks one member's header starting at `from`: magic/CM/FLG checks,
    * optional FEXTRA/FNAME/FCOMMENT skip, FHCRC verification (CRC-16 =
    * low 16 bits of the CRC-32 over the header bytes from the MEMBER
    * start). @return the deflate stream's start offset, or -1 on any
    * malformation. Shared with [[GzipMembers]].
    */
  private[functions] def headerEnd(bytes: Array[Byte], from: Int): Int = {
    val n = bytes.length
    if (from + 10 > n) return -1
    if (bytes(from) != 0x1f.toByte || bytes(from + 1) != 0x8b.toByte ||
      bytes(from + 2) != 8) return -1
    val flg = bytes(from + 3) & 0xff
    if ((flg & 0xe0) != 0) return -1 // reserved bits
    var p = from + 10 // MTIME(4) XFL(1) OS(1) skipped
    if ((flg & FEXTRA) != 0) {
      if (p + 2 > n) return -1
      val xlen = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
      p += 2 + xlen
      if (p > n) return -1
    }
    if ((flg & FNAME) != 0) {
      while (p < n && bytes(p) != 0) p += 1
      if (p >= n) return -1
      p += 1
    }
    if ((flg & FCOMMENT) != 0) {
      while (p < n && bytes(p) != 0) p += 1
      if (p >= n) return -1
      p += 1
    }
    if ((flg & FHCRC) != 0) {
      if (p + 2 > n) return -1
      val stored = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
      if ((Checksums.crc32(bytes, from, p - from) & 0xffff) != stored)
        return -1
      p += 2
    }
    p
  }

  /** Static kernel shared by eval and generated code. Returns the
    * decompressed bytes or null.
    */
  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    if (bytes == null) return null
    val n = bytes.length
    if (n < 18) return null // header(10) + empty deflate stream + trailer(8)
    val p = headerEnd(bytes, 0)
    if (p < 0) return null
    if (p + 8 > n) return null // room for deflate data + trailer
    // trailer: CRC-32 of the uncompressed data, then ISIZE (both LE)
    val isize = (bytes(n - 4) & 0xffL) | ((bytes(n - 3) & 0xffL) << 8) |
      ((bytes(n - 2) & 0xffL) << 16) | ((bytes(n - 1) & 0xffL) << 24)
    if (isize > MaxOutputBytes) return null
    val dst = new Array[Byte](isize.toInt)
    if (Inflate.inflate(bytes, p, dst) != dst.length) return null
    val crc = (bytes(n - 8) & 0xffL) | ((bytes(n - 7) & 0xffL) << 8) |
      ((bytes(n - 6) & 0xffL) << 16) | ((bytes(n - 5) & 0xffL) << 24)
    if (Checksums.crc32(dst, 0, dst.length) != crc) return null
    dst
  }

  def gzip_inflate(c: Column): Column =
    GraftColumnBridge.column(GzipInflate(GraftColumnBridge.expression(c)))
}
