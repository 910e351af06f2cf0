package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ZIP archive parsing (PKWARE APPNOTE / ISO 21320 — the third archive
  * container beside the gzip member and the tarball), read the
  * spec-correct way: FROM THE CENTRAL DIRECTORY. The end-of-central-
  * directory record is located at the blob's tail (backward signature
  * scan bounded by the 64 KB max comment, the stored comment length
  * required to land exactly on the end), the central directory walked
  * for the authoritative per-entry metadata (name, method, flags,
  * CRC-32, compressed/uncompressed sizes, local offset), and each
  * entry's payload decompressed in-engine from its local position
  * (method 8 = DEFLATE via [[Inflate]] over a copy of the exact
  * compressed span, method 0 = stored) and digested to md5, with the
  * directory's CRC-32 VERIFIED against the decompressed bytes
  * ([[Checksums.crc32]] — the family's integrity discipline).
  * Directory-driven reading is what makes REAL encoder output
  * parseable: streaming writers (java.util.zip.ZipOutputStream, any
  * pipe-to-zip) set flag bit 3 and leave the local header's sizes
  * zero — only the central directory knows them.
  *
  * Returns one struct per central-directory entry, in directory order:
  * (name, method, size, payload_md5) — size is the UNCOMPRESSED size,
  * the md5 of the decompressed payload (the [[WarcRecords]] /
  * [[TarEntries]] round-trip discipline).
  *
  * STRICT probe scope: consistency is enforced at every declared seam —
  * EOCD counts equal on both fields and equal to the walk, central
  * directory size/offset exact, every local header present under its
  * entry with the right signature, stored entries' two sizes equal,
  * deflate output exactly the declared size. Encrypted entries (flag
  * bit 0) and methods other than stored/deflate are rejected; zip64 is
  * out of scope (32-bit records cap at 4 GB — a corpus shard that big
  * splits upstream). An EOCD-only blob is a valid EMPTY archive.
  * Bytes between payloads (data descriptors, a self-extractor stub
  * before the first entry) are dead space to the directory walk — the
  * spec's own position: offsets are explicit, the directory is the
  * truth.
  *
  * Scale shape: map-only, codegen'd; per-entry AND cumulative
  * decompressed bytes capped by the named
  * [[Decompression.MaxOutputBytes]] zip-bomb guard (deflate expands,
  * so output is bounded by POLICY, never by compression ratio — the
  * cumulative cap closes the many-small-entries bomb a per-entry cap
  * alone would leave open).
  */
case class ZipEntries(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ZipEntries.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ZipEntries requires BINARY input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    ZipEntries.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ZipEntries.parse($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression)
      : ZipEntries = copy(child = newChild)

  override def prettyName: String = "zip_entries"
}

object ZipEntries {
  val EntrySchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("method", IntegerType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("payload_md5", StringType, nullable = false)))

  val Schema: DataType = ArrayType(EntrySchema, containsNull = false)


  private val MaxEntries = 65536

  /** Static parse kernel shared by eval and generated code. Returns a
    * GenericArrayData of entry structs, or null on any malformation.
    */
  def parse(bytes: Array[Byte]): GenericArrayData = {
    if (bytes == null) return null
    val n = bytes.length
    if (n < 22) return null

    def u16(i: Int): Int = (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8)
    def u32(i: Int): Long = (bytes(i) & 0xffL) | ((bytes(i + 1) & 0xffL) << 8) |
      ((bytes(i + 2) & 0xffL) << 16) | ((bytes(i + 3) & 0xffL) << 24)
    def sig(i: Int, c3: Int, c4: Int): Boolean =
      i >= 0 && i + 4 <= n && bytes(i) == 'P' && bytes(i + 1) == 'K' &&
        bytes(i + 2) == c3 && bytes(i + 3) == c4

    // --- locate the EOCD: backward scan bounded by the 64 KB max
    // comment; the stored comment length must land exactly on the end
    var e = n - 22
    val scanFloor = math.max(0, n - 22 - 65535)
    while (e >= scanFloor &&
      !(sig(e, 5, 6) && e + 22 + u16(e + 20) == n)) e -= 1
    if (e < scanFloor) return null
    if (u16(e + 4) != 0 || u16(e + 6) != 0) return null // single disk
    val count = u16(e + 8)
    if (u16(e + 10) != count) return null
    if (count > MaxEntries) return null
    val cdSize = u32(e + 12)
    val cdOff = u32(e + 16)
    if (cdOff > e || cdSize != e - cdOff) return null // exact directory span

    // --- central directory walk: the authoritative entry metadata ---
    val out = new Array[InternalRow](count)
    var p = cdOff.toInt
    var i = 0
    var totalOut = 0L
    while (i < count) {
      if (!sig(p, 1, 2) || p + 46 > e) return null
      val flags = u16(p + 8)
      if ((flags & 0x1) != 0) return null // encrypted
      val method = u16(p + 10)
      if (method != 0 && method != 8) return null
      val crc = u32(p + 16)
      val csize = u32(p + 20)
      val usize = u32(p + 24)
      val nameLen = u16(p + 28)
      val extraLen = u16(p + 30)
      val commentLen = u16(p + 32)
      val localOff = u32(p + 42)
      if (nameLen == 0 || p + 46 + nameLen > e) return null
      val name = new String(bytes, p + 46, nameLen,
        java.nio.charset.StandardCharsets.UTF_8)
      if (usize > Decompression.MaxOutputBytes - totalOut) return null
      totalOut += usize
      // the entry's local header: signature, then ITS name/extra
      // lengths position the payload (a streaming writer's local extra
      // can differ from the central one)
      if (localOff > cdOff - 30) return null
      val lp = localOff.toInt
      if (!sig(lp, 3, 4)) return null
      val dataOff = lp + 30 + u16(lp + 26) + u16(lp + 28)
      if (dataOff > cdOff || csize > cdOff - dataOff) return null
      val payload: Array[Byte] =
        if (method == 0) {
          if (csize != usize) return null
          java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + csize.toInt)
        } else {
          // copy the exact compressed span so the deflate stream can
          // never read past its declared end
          val span =
            java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + csize.toInt)
          val dst = new Array[Byte](usize.toInt)
          if (Inflate.inflate(span, 0, dst) != dst.length) return null
          dst
        }
      if (Checksums.crc32(payload, 0, payload.length) != crc) return null
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(payload)
      val digest = md.digest().map("%02x".format(_)).mkString
      out(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(name), method, usize,
        UTF8String.fromString(digest)))
      p += 46 + nameLen + extraLen + commentLen
      i += 1
    }
    if (p != e) return null // the walk must consume the exact directory
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  def zip_entries(c: Column): Column =
    GraftColumnBridge.column(ZipEntries(GraftColumnBridge.expression(c)))
}
