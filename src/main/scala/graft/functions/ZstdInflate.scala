package graft.functions

import java.io.{ByteArrayInputStream, InputStream}

import com.github.luben.zstd.{RecyclingBufferPool, ZstdInputStreamNoFinalizer}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** In-engine ZSTANDARD decompression (`zstd_inflate(blob) → BINARY`),
  * done by zstd-jni (`ZstdInputStreamNoFinalizer`, the libzstd binding
  * Spark ships for parquet). zstd is the dominant compression for
  * modern training shards (jsonl.zst corpora, parquet ZSTD pages, Kafka
  * payloads).
  *
  * The input is a frame SEQUENCE as zstd(1) treats a .zst file: frames
  * decode and concatenate and skippable frames are skipped. Content
  * checksums are verified. Dictionaries come through the two-argument
  * form `zstd_inflate_dict(blob, dict)`; the one-argument form rejects a
  * frame that declares a dictionary id.
  *
  * Wrapper contract, shared with [[Lz4Inflate]] and [[XzInflate]]
  * through [[Decompression.drain]]: NULL for empty input, for anything
  * libzstd rejects (bad magic or reserved bits, a missing or mismatched
  * dictionary, a checksum or declared-size mismatch, truncation,
  * inter-frame garbage), for a frame whose window exceeds 2^26 bytes
  * (the [[Decompression.MaxOutputBytes]] cap), and for output past that
  * cap. All-or-nothing: nothing partial is returned.
  */
case class ZstdInflate(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ZstdInflate requires BINARY input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    ZstdInflate.unzstd(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ZstdInflate.unzstd($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression)
      : ZstdInflate = copy(child = newChild)

  override def prettyName: String = "zstd_inflate"
}

object ZstdInflate {

  /** Largest window a frame may ask for, as log2: the family cap, 2^26
    * bytes. libzstd's own default (2^27) would size a 128 MiB buffer for
    * a frame of a few dozen bytes.
    */
  private val WindowLogMax =
    Integer.numberOfTrailingZeros(Decompression.MaxOutputBytes)

  /** Static kernel shared by eval and generated code. */
  def unzstd(bytes: Array[Byte]): Array[Byte] = unzstdDict(bytes, null)

  /** Two-argument kernel: decode with a supplied dictionary (null or
    * empty = none).
    */
  def unzstdDict(bytes: Array[Byte], dict: Array[Byte]): Array[Byte] =
    if (bytes == null || bytes.isEmpty) null
    else Decompression.drain(open(bytes, dict))

  private def open(bytes: Array[Byte], dict: Array[Byte]): InputStream = {
    val z = new ZstdInputStreamNoFinalizer(new ByteArrayInputStream(bytes),
      RecyclingBufferPool.INSTANCE)
    try {
      z.setLongMax(WindowLogMax)
      if (dict != null && dict.nonEmpty) z.setDict(dict)
      z
    } catch { case e: Throwable => z.close(); throw e }
  }

  def zstd_inflate(c: Column): Column =
    GraftColumnBridge.column(ZstdInflate(GraftColumnBridge.expression(c)))

  def zstd_inflate_dict(c: Column, dict: Column): Column =
    GraftColumnBridge.column(ZstdInflateDict(
      GraftColumnBridge.expression(c), GraftColumnBridge.expression(dict)))
}

/** Two-argument dictionary form: `zstd_inflate_dict(blob, dict)`. The
  * dictionary is either a formatted one (magic 0xEC30A437, as zstd
  * --train writes) or raw content. A frame that declares a dictionary
  * id needs a formatted dictionary with the same id. Null-safe on BOTH
  * arguments (the family's expression convention); pass an EMPTY
  * dictionary for "no dictionary" — it is the neutral element, decoding
  * exactly like the one-argument form.
  */
case class ZstdInflateDict(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ZstdInflateDict requires (BINARY, BINARY), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def nullSafeEval(blob: Any, dict: Any): Any =
    ZstdInflate.unzstdDict(blob.asInstanceOf[Array[Byte]],
      dict.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, d) => s"""
      ${ev.value} = graft.functions.ZstdInflate.unzstdDict($b, $d);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ZstdInflateDict =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "zstd_inflate_dict"
}
