package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** The checksums the compressed-source family's containers carry, as
  * calls into libraries already on the classpath: CRC-32 (gzip, PNG,
  * ZIP) and Adler-32 (zlib) from `java.util.zip`, XXH32 (LZ4 frames)
  * and XXH64 (zstd frames) from lz4-java's `XXHashFactory`. Each takes
  * a `(from, len)` slice and returns the unsigned value in a Long
  * (XXH64: the full signed 64-bit value).
  *
  * Independence for testing: the query-side constructions use Spark's
  * BUILTIN `crc32()`, so a construct/verify slip cannot cancel out.
  */
object Checksums {

  private val xxHash = net.jpountz.xxhash.XXHashFactory.fastestInstance()
  private val xxHash32 = xxHash.hash32()
  private val xxHash64 = xxHash.hash64()

  /** IEEE CRC-32 over bytes[from, from+len). */
  def crc32(b: Array[Byte], from: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b, from, len)
    c.getValue
  }

  /** Adler-32 (RFC 1950 §8) over bytes[from, from+len). */
  def adler32(b: Array[Byte], from: Int, len: Int): Long = {
    val a = new java.util.zip.Adler32()
    a.update(b, from, len)
    a.getValue
  }

  def adler32_fn(c: Column): Column =
    GraftColumnBridge.column(Adler32Fn(GraftColumnBridge.expression(c)))

  /** XXH32 over bytes[from, from+len): the checksum the LZ4 frame format
    * carries in its header, block and content fields.
    */
  def xxh32(b: Array[Byte], from: Int, len: Int, seed: Int): Long =
    xxHash32.hash(b, from, len, seed).toLong & 0xffffffffL

  def xxh32_fn(c: Column): Column =
    GraftColumnBridge.column(Xxh32Fn(GraftColumnBridge.expression(c)))

  /** XXH64 over bytes[from, from+len): the checksum whose LOW 4 BYTES
    * the Zstandard frame format carries as its Content_Checksum.
    */
  def xxh64(b: Array[Byte], from: Int, len: Int, seed: Long): Long =
    xxHash64.hash(b, from, len, seed)

  def xxh64_fn(c: Column): Column =
    GraftColumnBridge.column(Xxh64Fn(GraftColumnBridge.expression(c)))
}

/** xxh64(binary) → BIGINT (the full signed 64-bit value, seed 0) — the
  * xxHash-64 checksum as a column function: the Zstandard-frame
  * counterpart of `xxh32` (zstd's Content_Checksum is its low 4
  * bytes).
  */
case class Xxh64Fn(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"xxh64 requires BINARY input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    Checksums.xxh64(b, 0, b.length, 0L)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Checksums.xxh64($c, 0, ($c).length, 0L)")

  override protected def withNewChildInternal(newChild: Expression): Xxh64Fn =
    copy(child = newChild)

  override def prettyName: String = "xxh64"
}

/** xxh32(binary) → BIGINT — the xxHash-32 checksum as a column
  * function (seed 0), the LZ4-frame counterpart of `crc32()`/`adler32`.
  */
case class Xxh32Fn(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"xxh32 requires BINARY input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    Checksums.xxh32(b, 0, b.length, 0)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Checksums.xxh32($c, 0, ($c).length, 0)")

  override protected def withNewChildInternal(newChild: Expression): Xxh32Fn =
    copy(child = newChild)

  override def prettyName: String = "xxh32"
}

/** adler32(binary) → BIGINT — the RFC 1950 checksum as a column
  * function, the zlib-envelope counterpart of Spark's builtin
  * `crc32()`. Used by the PNG driver query to CONSTRUCT valid zlib
  * trailers in pure column space (the real-encoder vectors, whose
  * trailers python-zlib wrote, keep the verifying side honest).
  */
case class Adler32Fn(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"adler32 requires BINARY input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    Checksums.adler32(b, 0, b.length)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Checksums.adler32($c, 0, ($c).length)")

  override protected def withNewChildInternal(newChild: Expression): Adler32Fn =
    copy(child = newChild)

  override def prettyName: String = "adler32"
}
