package graft.functions

import java.io.{IOException, InputStream}

import net.jpountz.xxhash.{StreamingXXHash32, XXHashFactory}
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** In-engine LZ4 FRAME decompression (`lz4_inflate(blob) → BINARY`)
  * — the other compression family training shards ship beside the
  * DEFLATE world (.lz4 corpora, Kafka/Parquet payloads). A small frame
  * walker (`Lz4Inflate.Frames`) reads the frame layout and decodes its
  * blocks; the checksums are lz4-java's XXH32.
  *
  * The input is a frame SEQUENCE, as lz4(1) treats a .lz4 file: LZ4
  * frames decode and concatenate, and SKIPPABLE frames (magic
  * 0x184D2A5X + LE u32 payload size — the escape shard writers embed
  * per-shard metadata in) are skipped wherever they appear. Both block
  * modes decode: in an independent-block frame a match stays inside its
  * own block, in a linked-block frame (the LZ4F C API's and
  * python-lz4's default) it may reach back 64 KiB into the frame's
  * earlier blocks. The header, block and content checksums are
  * verified, and a declared content size must match the output.
  *
  * Contract, through [[Decompression.drain]]: NULL for empty
  * input, bad magic, version or reserved bits, dictionary frames, a
  * checksum or content-size mismatch, a malformed block, a match that
  * reaches outside its window, a missing EndMark, a truncated skippable
  * frame, inter-frame garbage, and output past the
  * [[Decompression.MaxOutputBytes]] cap.
  */
case class Lz4Inflate(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"Lz4Inflate requires BINARY input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    Lz4Inflate.unlz4(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Lz4Inflate.unlz4($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression)
      : Lz4Inflate = copy(child = newChild)

  override def prettyName: String = "lz4_inflate"
}

object Lz4Inflate {

  private val xxHash = XXHashFactory.fastestJavaInstance()

  /** How far back a match may reach: LZ4 offsets are 16-bit. */
  private val Window = 65536

  /** Static kernel shared by eval and generated code. */
  def unlz4(bytes: Array[Byte]): Array[Byte] =
    if (bytes == null || bytes.isEmpty) null
    else Decompression.drain(new Frames(bytes))

  /** lz4(1)'s frame sequence in `src` as a stream of decoded blocks.
    * lz4-java cannot decode a linked block (its block decoders refuse a
    * match before the block, its `LZ4FrameInputStream` any linked
    * frame), and that stream allocates two block-max buffers, 4 MiB
    * under lz4's default, per frame. So blocks are decoded here, into a
    * buffer bounded by what their stored bytes can expand to (under 264
    * output bytes per stored byte). Throws `IOException` on any
    * malformation.
    */
  private final class Frames(src: Array[Byte]) extends InputStream {
    private var p = 0 // next unread src byte
    private var inFrame = false
    private var linked = false
    private var maxBlock = 0
    private var blockChecksum = false
    private var contentSize = -1L
    private var frameBytes = 0L
    private var contentHash: StreamingXXHash32 = null
    // out(at until end) is the current block; in a linked frame the
    // bytes before `at` are the window its matches may reach back into
    private var out = new Array[Byte](0)
    private var at = 0
    private var end = 0

    private def corrupt(): Nothing = throw new IOException("corrupt LZ4")

    private def u32(i: Int): Long = {
      if (i + 4 > src.length) corrupt()
      (src(i) & 0xffL) | ((src(i + 1) & 0xffL) << 8) |
        ((src(i + 2) & 0xffL) << 16) | ((src(i + 3) & 0xffL) << 24)
    }

    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) < 0) -1 else one(0) & 0xff
    }

    override def read(dst: Array[Byte], off: Int, len: Int): Int = {
      while (at == end) if (!nextBlock()) return -1
      val n = math.min(len, end - at)
      System.arraycopy(out, at, dst, off, n)
      at += n
      n
    }

    /** Moves to the next block with output, walking frame headers,
      * EndMarks and skippable frames on the way. False at end of input.
      */
    private def nextBlock(): Boolean = {
      while (true) {
        if (!inFrame) {
          if (p == src.length) return false
          val magic = u32(p)
          if ((magic & 0xfffffff0L) == 0x184d2a50L) {
            val size = u32(p + 4)
            if (size > src.length - p - 8) corrupt()
            p += 8 + size.toInt
          } else if (magic == 0x184d2204L) header()
          else corrupt()
        } else {
          val word = u32(p)
          p += 4
          if (word == 0L) endFrame()
          else {
            val stored = (word & 0x7fffffffL).toInt
            if (stored > maxBlock || stored > src.length - p) corrupt()
            if (blockChecksum &&
              Checksums.xxh32(src, p, stored, 0) != u32(p + stored)) corrupt()
            val keep = if (linked) math.min(end, Window) else 0
            System.arraycopy(out, end - keep, out, 0, keep)
            val raw = (word & 0x80000000L) != 0
            val room =
              if (raw) stored else math.min(maxBlock, 264L * stored + 64).toInt
            if (out.length < keep + room)
              out = java.util.Arrays.copyOf(out, keep + room)
            at = keep
            end =
              if (raw) {
                System.arraycopy(src, p, out, keep, stored)
                keep + stored
              } else sequences(p, p + stored, keep + room)
            p += stored + (if (blockChecksum) 4 else 0)
            frameBytes += end - at
            if (contentHash != null) contentHash.update(out, at, end - at)
            if (end > at) return true
          }
        }
      }
      false
    }

    /** Decodes the LZ4 sequences in src(s0 until sEnd) into `out` from
      * `at`, never writing at or past `limit`; a match may copy from
      * anywhere in `out` before it. Returns where the output ends.
      */
    private def sequences(s0: Int, sEnd: Int, limit: Int): Int = {
      var s = s0
      var d = at
      while (true) {
        if (s >= sEnd) corrupt() // the last sequence must be literals only
        val token = src(s) & 0xff
        s += 1
        var lit = token >>> 4
        if (lit == 15) { // a length of 15 continues in extension bytes
          var b = 255
          while (b == 255) {
            if (s >= sEnd) corrupt()
            b = src(s) & 0xff
            s += 1
            lit += b
          }
        }
        if (lit > sEnd - s || lit > limit - d) corrupt()
        System.arraycopy(src, s, out, d, lit)
        s += lit
        d += lit
        if (s == sEnd) return d
        if (s + 2 > sEnd) corrupt()
        val offset = (src(s) & 0xff) | ((src(s + 1) & 0xff) << 8)
        s += 2
        if (offset == 0 || offset > d) corrupt()
        var len = (token & 0x0f) + 4
        if (len == 19) {
          var b = 255
          while (b == 255) {
            if (s >= sEnd) corrupt()
            b = src(s) & 0xff
            s += 1
            len += b
          }
        }
        if (len > limit - d) corrupt()
        if (offset >= len) System.arraycopy(out, d - offset, out, d, len)
        else { // byte by byte: an overlapping match repeats its start
          var m = d - offset
          val stop = m + len
          while (m < stop) {
            out(m + offset) = out(m)
            m += 1
          }
        }
        d += len
      }
      d
    }

    /** Frame descriptor: version 01, no dictionary id, reserved bits
      * clear, a 64 KB .. 4 MB block maximum, a content size that fits a
      * signed long, and the header checksum (byte 1 of XXH32 over the
      * descriptor).
      */
    private def header(): Unit = {
      val d = p + 4
      if (d + 2 > src.length) corrupt()
      val flg = src(d) & 0xff
      val bd = src(d + 1) & 0xff
      if ((flg & 0xc3) != 0x40 || (bd & 0x8f) != 0 || (bd >> 4) < 4)
        corrupt()
      linked = (flg & 0x20) == 0
      maxBlock = 1 << (8 + 2 * (bd >> 4))
      blockChecksum = (flg & 0x10) != 0
      var q = d + 2
      contentSize = -1L
      if ((flg & 0x08) != 0) {
        contentSize = u32(q) | (u32(q + 4) << 32)
        if (contentSize < 0) corrupt()
        q += 8
      }
      if (q >= src.length ||
        ((Checksums.xxh32(src, d, q - d, 0) >> 8) & 0xff) != (src(q) & 0xff))
        corrupt()
      p = q + 1
      frameBytes = 0L
      contentHash =
        if ((flg & 0x04) != 0) xxHash.newStreamingHash32(0) else null
      at = 0
      end = 0
      inFrame = true
    }

    private def endFrame(): Unit = {
      if (contentSize >= 0 && frameBytes != contentSize) corrupt()
      if (contentHash != null) {
        if ((contentHash.getValue & 0xffffffffL) != u32(p)) corrupt()
        p += 4
      }
      inFrame = false
    }
  }

  def lz4_inflate(c: Column): Column =
    GraftColumnBridge.column(Lz4Inflate(GraftColumnBridge.expression(c)))
}
