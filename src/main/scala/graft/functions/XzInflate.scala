package graft.functions

import java.io.{ByteArrayInputStream, IOException}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.tukaani.xz.{BasicArrayCache, SeekableInputStream, SeekableXZInputStream, XZInputStream}

/** In-engine XZ decode (`xz_inflate(bytes) → BINARY`), done by xz-java
  * (org.tukaani, the library Spark ships) — `.xz` is the format
  * Wikipedia and academic dumps ship beside [[Bz2Inflate]].
  *
  * xz-java verifies the stream header, block header, index and footer
  * CRCs, the block check (none/CRC32/CRC64/SHA-256), the index against
  * the decoded blocks, and 4-aligned zero padding between CONCATENATED
  * streams. The wrapper adds three settings:
  *  - only the lone LZMA2 filter `xz`(1) writes by default is accepted:
  *    every block header must declare exactly one filter, so delta and
  *    BCJ chains NULL instead of decoding;
  *  - a decoder memory limit of the [[Decompression.MaxOutputBytes]]
  *    cap plus 1 MiB of decoder tables, so `xz -9`'s 64 MiB dictionary
  *    decodes but a stream that DECLARES a larger dictionary NULLs
  *    before anything is allocated, even when its output would fit
  *    under the cap;
  *  - one shared `BasicArrayCache`, so the dictionary buffer is reused
  *    across rows instead of allocated per row.
  *
  * Wrapper contract, through [[Decompression.drain]]: any malformation
  * — bad magics, a CRC or check mismatch, an unknown check type, a
  * non-LZMA2 filter, size mismatches, trailing garbage — NULLs the whole
  * result, and so does output past the cap.
  */
case class XzInflate(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"XzInflate requires BINARY input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    XzInflate.inflate(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.XzInflate.inflate($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression)
      : XzInflate = copy(child = newChild)

  override def prettyName: String = "xz_inflate"
}

object XzInflate {

  /** Decoder memory limit in KiB: the output cap plus 1 MiB of tables. */
  private val MemoryLimitKiB = Decompression.MaxOutputBytes / 1024 + 1024

  private val cache = BasicArrayCache.getInstance()

  /** Static kernel shared by eval and generated code. */
  def inflate(bytes: Array[Byte]): Array[Byte] =
    if (bytes == null) null
    else Decompression.drain {
      if (!lzma2Only(bytes)) throw new IOException("filter chain")
      new XZInputStream(new ByteArrayInputStream(bytes), MemoryLimitKiB,
        cache)
    }

  /** True when every block header declares exactly one filter (its flags
    * byte, right after the header size, holds the filter count - 1). The
    * seekable reader parses only the indexes here, no block data.
    */
  private def lzma2Only(bytes: Array[Byte]): Boolean = {
    val index = new SeekableXZInputStream(new InMemory(bytes),
      MemoryLimitKiB, cache)
    (0 until index.getBlockCount).forall { i =>
      val p = index.getBlockCompPos(i)
      p + 1 < bytes.length && (bytes(p.toInt + 1) & 0x03) == 0
    }
  }

  private final class InMemory(b: Array[Byte]) extends SeekableInputStream {
    private var pos = 0L

    override def length(): Long = b.length

    override def position(): Long = pos

    override def seek(p: Long): Unit = {
      if (p < 0) throw new IOException("negative seek")
      pos = p
    }

    override def read(): Int =
      if (pos >= b.length) -1 else { pos += 1; b(pos.toInt - 1) & 0xff }

    override def read(dst: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0
      else if (pos >= b.length) -1
      else {
        val n = math.min(len.toLong, b.length - pos).toInt
        System.arraycopy(b, pos.toInt, dst, off, n)
        pos += n
        n
      }
  }

  def xz_inflate(c: Column): Column =
    GraftColumnBridge.column(XzInflate(GraftColumnBridge.expression(c)))
}
