package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** In-engine zlib decompression (RFC 1950 envelope over the [[Inflate]]
  * DEFLATE decoder) — the third and last envelope of the compression
  * family: raw DEFLATE lives inside PNG IDAT ([[PngPixels]]), the gzip
  * member frames files ([[GzipInflate]]), and the zlib stream is the
  * in-band form (HTTP "deflate" content-coding, protocol payloads,
  * embedded blobs). Header checked per the spec (CM=8, CINFO ≤ 7,
  * FCHECK: CMF·256+FLG ≡ 0 mod 31, FDICT rejected — a preset
  * dictionary is out of band by definition) and the trailing Adler-32
  * over the decompressed bytes VERIFIED ([[Checksums.adler32]] — the
  * family's integrity discipline).
  *
  * Unlike gzip, zlib declares NO output size, so decoding grows a
  * buffer geometrically (4×input floor, doubling on overflow, capped
  * by the named [[Decompression.MaxOutputBytes]] zip-bomb guard — total
  * work stays ≤ 2× the final size by the geometric-series argument,
  * and a stream past the cap NULLs rather than buying unbounded
  * memory; [[Inflate]] signals output-overflow distinctly from
  * malformation, so corrupt input fails on its FIRST attempt — no
  * retry ladder is ever spent on garbage).
  * The trailer is read from the input's LAST 4 bytes — the spec places
  * the Adler-32 immediately after the deflate terminator, and since
  * the format carries no length field, the checksum over the full
  * decompressed content is what binds the bytes in between.
  *
  * NULL for: short input, wrong CM/CINFO/FCHECK, FDICT set, any
  * deflate malformation, output past the cap, or an Adler-32 mismatch.
  */
case class ZlibInflate(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ZlibInflate requires BINARY input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    ZlibInflate.unzlib(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ZlibInflate.unzlib($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression)
      : ZlibInflate = copy(child = newChild)

  override def prettyName: String = "zlib_inflate"
}

object ZlibInflate {

  import Decompression.MaxOutputBytes

  /** Static kernel shared by eval and generated code. */
  def unzlib(bytes: Array[Byte]): Array[Byte] = {
    if (bytes == null) return null
    val n = bytes.length
    if (n < 2 + 4) return null // header + adler (an empty stream is 8+)
    val cmf = bytes(0) & 0xff
    val flg = bytes(1) & 0xff
    if ((cmf & 0x0f) != 8 || (cmf >> 4) > 7) return null
    if ((flg & 0x20) != 0) return null // FDICT
    if ((cmf * 256 + flg) % 31 != 0) return null
    // grow geometrically: the size is unknown until the stream ends, so
    // "measure first" isn't possible; doubling keeps total work <= 2x
    // the final decode
    var cap = math.max(4L * n, 65536L)
    if (cap > MaxOutputBytes) cap = MaxOutputBytes
    var produced = -1
    var dst: Array[Byte] = null
    var done = false
    while (!done) {
      dst = new Array[Byte](cap.toInt)
      val r = Inflate.inflateTracked(bytes, 2, dst)
      if (r >= 0) {
        // STRICT extent: the deflate stream must end exactly at the
        // Adler trailer — bytes between the final-block terminator and
        // the last 4 would otherwise be silently accepted, which a real
        // zlib decoder rejects as corruption (r11 advice)
        if ((r >>> 32).toInt != n - 4) return null
        produced = (r & 0xffffffffL).toInt
        done = true
      }
      else if (r == -1L) return null // malformed: no retry ladder
      else if (cap == MaxOutputBytes) return null // -2 past the cap
      else cap = math.min(cap * 2, MaxOutputBytes)
    }
    val out =
      if (produced == dst.length) dst
      else java.util.Arrays.copyOf(dst, produced)
    // trailer: big-endian Adler-32 of the decompressed bytes
    val aOff = n - 4
    val adler = ((bytes(aOff) & 0xffL) << 24) |
      ((bytes(aOff + 1) & 0xffL) << 16) |
      ((bytes(aOff + 2) & 0xffL) << 8) | (bytes(aOff + 3) & 0xffL)
    if (Checksums.adler32(out, 0, out.length) != adler) return null
    out
  }

  def zlib_inflate(c: Column): Column =
    GraftColumnBridge.column(ZlibInflate(GraftColumnBridge.expression(c)))
}
