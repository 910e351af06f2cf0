package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** CONCATENATED gzip members decoded to an array — the shape
  * CommonCrawl actually ships: a `.warc.gz` segment is one gzip member
  * PER RECORD, back to back, so consumers can seek to a member and
  * decompress just that record. [[GzipInflate]] deliberately treats a
  * second member as trailing garbage (single-blob contract); this is
  * the multi-member walk: each member's header is checked (shared
  * [[GzipInflate.headerEnd]]: magic/CM/FLG, optional-field skip, FHCRC
  * verified), its deflate stream decoded with the EXTENT reported by
  * [[Inflate.inflateTracked]] — DEFLATE's end is defined by its
  * final-block bit, not a length field, so only the decoder can find
  * the next member — and its trailer verified BOTH ways (CRC-32 over
  * the decompressed bytes, ISIZE == produced length).
  *
  * A member's size is unknown before decode, so each grows its buffer
  * geometrically (the [[ZlibInflate]] ladder: 4×remaining-input floor,
  * doubling only on [[Inflate]]'s distinct overflow signal, bounded by
  * what remains of the named [[Decompression.MaxOutputBytes]]
  * cumulative budget — the zip-bomb guard covers the whole blob, not
  * just one member).
  *
  * STRICT probe: NULL for an empty blob, any malformed header/stream/
  * trailer, a CRC or ISIZE mismatch, output past the budget, or
  * anything but a clean member boundary at every position — the array
  * is all members or nothing (the family's NULL-on-corrupt contract).
  *
  * Scale shape: map-only, codegen'd, one linear pass; member count is
  * input-bounded (each costs ≥ 18 bytes) under an explicit 65536
  * guard.
  */
case class GzipMembers(child: Expression) extends UnaryExpression {

  override def dataType: DataType = GzipMembers.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"GzipMembers requires BINARY input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    GzipMembers.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.GzipMembers.parse($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression)
      : GzipMembers = copy(child = newChild)

  override def prettyName: String = "gzip_members"
}

object GzipMembers {

  val Schema: DataType = ArrayType(BinaryType, containsNull = false)


  private val MaxMembers = 65536

  /** Static parse kernel shared by eval and generated code. Returns a
    * GenericArrayData of decompressed member payloads, or null.
    */
  def parse(bytes: Array[Byte]): GenericArrayData = {
    if (bytes == null) return null
    val n = bytes.length
    if (n < 18) return null // at least one complete member
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var p = 0
    var budget: Long = Decompression.MaxOutputBytes
    while (p < n) {
      if (out.size >= MaxMembers) return null
      val dataStart = GzipInflate.headerEnd(bytes, p)
      if (dataStart < 0 || dataStart + 8 > n) return null
      // grow-ladder decode bounded by the remaining cumulative budget
      var cap = math.min(math.max(4L * (n - dataStart), 65536L), budget)
      var dst: Array[Byte] = null
      var packed = -1L
      var done = false
      while (!done) {
        dst = new Array[Byte](cap.toInt)
        packed = Inflate.inflateTracked(bytes, dataStart, dst)
        if (packed >= 0) done = true
        else if (packed == -1L) return null // malformed: no retries
        else if (cap == budget) return null // -2 past the budget
        else cap = math.min(cap * 2, budget)
      }
      val produced = (packed & 0xffffffffL).toInt
      val end = (packed >>> 32).toInt
      if (end + 8 > n) return null // trailer must fit
      val crc = (bytes(end) & 0xffL) | ((bytes(end + 1) & 0xffL) << 8) |
        ((bytes(end + 2) & 0xffL) << 16) | ((bytes(end + 3) & 0xffL) << 24)
      val isize = (bytes(end + 4) & 0xffL) |
        ((bytes(end + 5) & 0xffL) << 8) |
        ((bytes(end + 6) & 0xffL) << 16) | ((bytes(end + 7) & 0xffL) << 24)
      if (isize != produced.toLong) return null
      if (Checksums.crc32(dst, 0, produced) != crc) return null
      budget -= produced
      out += (if (produced == dst.length) dst
              else java.util.Arrays.copyOf(dst, produced))
      p = end + 8
    }
    new GenericArrayData(out.toArray[Any])
  }

  def gzip_members(c: Column): Column =
    GraftColumnBridge.column(GzipMembers(GraftColumnBridge.expression(c)))
}
