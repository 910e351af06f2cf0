package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins Lz4Inflate against TWO independent implementations: real
  * `lz4(1)` CLI frames (resource hex — compressed text at -9 with
  * content-size, a -B4 -BX block-checksummed frame, and an
  * incompressible random frame that stores UNCOMPRESSED blocks) and
  * in-JVM lz4-java (LZ4FrameOutputStream round-trips across payload
  * shapes and block sizes; its XXHash32 also pins Checksums.xxh32
  * value-for-value). Linked-block frames, which lz4-java cannot write,
  * come from `lz4 -BD` and a hand-built frame. NULL contract: bad
  * magic/version, the DictID out-of-scope bit, a flipped header checksum, a flipped block
  * checksum, a flipped content checksum, a flipped payload byte under
  * stale checksums, a content size past 2^63, truncation, trailing
  * bytes, raw text.
  */
class Lz4InflateSpec extends SparkSpec {
  import spark.implicits._

  private def unlz4(payloads: Array[Byte]*): Seq[Option[(Int, String)]] =
    payloads.toSeq.toDF("b")
      .select(Lz4Inflate.lz4_inflate(col("b")).as("d"))
      .select(octet_length(col("d")).as("n"), md5(col("d")).as("m"))
      .collect().map(r =>
        if (r.isNullAt(0)) None else Some((r.getInt(0), r.getString(1))))
      .toSeq

  private def res(name: String): Array[Byte] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(s"/lz4/$name"))
    try src.mkString.trim.grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray
    finally src.close()
  }

  test("Checksums.xxh32 matches lz4-java's XXHash32") {
    val xx = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance().hash32()
    val rng = new scala.util.Random(41)
    val payloads = Seq(Array.empty[Byte], "a".getBytes,
      "0123456789abcde".getBytes, "0123456789abcdef".getBytes,
      { val a = new Array[Byte](100001); rng.nextBytes(a); a })
    for (p <- payloads; seed <- Seq(0, 1, 0x9747b28c)) {
      assert(Checksums.xxh32(p, 0, p.length, seed) ==
        (xx.hash(p, 0, p.length, seed).toLong & 0xffffffffL),
        s"xxh32 len=${p.length} seed=$seed")
    }
  }

  test("real lz4 CLI frames decode to exact content") {
    assert(unlz4(res("lzbig.hex"), res("lzbx.hex"), res("lzrand.hex")) ==
      Seq(Some((14400, "9aa8c136ac130de3dbf3067a3f7d96bd")),
        Some((14400, "9aa8c136ac130de3dbf3067a3f7d96bd")),
        Some((100000, "2eb254212fcdddbde08f0fa7d5a8b718"))))
  }

  test("lz4-java round-trips across payload shapes") {
    val rng = new scala.util.Random(43)
    val payloads = Seq(
      Array.empty[Byte],
      "x".getBytes,
      ("lorem ipsum dolor " * 9000).getBytes, // > one 64 KB block
      { val a = new Array[Byte](200000); rng.nextBytes(a); a },
      Array.fill[Byte](1 << 20)(5))
    payloads.foreach { p =>
      val bos = new java.io.ByteArrayOutputStream()
      val out = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
      out.write(p); out.close()
      val got = Lz4Inflate.unlz4(bos.toByteArray)
      assert(got != null && java.util.Arrays.equals(got, p),
        s"round-trip len=${p.length}")
    }
  }

  test("strict NULL contract") {
    val good = res("lzbig.hex")
    def mut(f: Array[Byte] => Unit): Array[Byte] = {
      val c = good.clone(); f(c); c
    }
    val badMagic = mut(b => b(0) = 0x05)
    val badVersion = mut(b => b(4) = (b(4) ^ 0x80).toByte)
    val dictBit = mut(b => b(4) = (b(4) | 0x01).toByte)
    // lzbig FLG 0x6C: content-size present -> HC is byte 14
    val badHc = mut(b => b(14) = (b(14) ^ 1).toByte)
    val badContentCk = mut(b => b(b.length - 1) = (b(b.length - 1) ^ 1).toByte)
    val bitRot = mut(b => b(20) = (b(20) ^ 0x20).toByte)
    val truncated = good.take(good.length - 6)
    val trailing = good ++ Array[Byte](0)
    val bx = res("lzbx.hex")
    // lzbx: flip its LAST block-checksum byte (before EndMark+content ck)
    val badBlockCk = { val c = bx.clone()
      c(c.length - 9) = (c(c.length - 9) ^ 1).toByte; c }
    val raw = "not an lz4 frame".getBytes("UTF-8")
    // content size (LE u64 at bytes 6..13) with bit 63 set, under a
    // recomputed header checksum, so only the size lies
    val xx = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance().hash32()
    val hugeSize = mut { b =>
      b(13) = (b(13) | 0x80).toByte
      b(14) = ((xx.hash(b, 4, 10, 0) >> 8) & 0xff).toByte
    }
    assert(unlz4(badMagic, badVersion, dictBit, badHc, badContentCk,
      bitRot, truncated, trailing, badBlockCk, raw, Array.empty[Byte],
      hugeSize) == Seq.fill(12)(None))
  }

  test("skippable frames + frame concatenation: the lz4(1) sequence walk") {
    // lzskip.hex = [skippable(0x50, 24B)] [CLI -9 --content-size frame]
    // [skippable(0x5F, empty)] [CLI -6 frame] [skippable(0x57, 13B)] —
    // real `lz4 -d` decodes it to the two payloads concatenated
    // (2104 bytes, pinned md5); ours must match byte-for-byte
    val comb = res("lzskip.hex")
    assert(unlz4(comb) ==
      Seq(Some((2104, "b8431b3f41914abd9904397cf774c66d"))))
    // skippable-only input: a valid (if pointless) sequence -> EMPTY
    // output, exactly what lz4(1) emits
    def le32(v: Long): Array[Byte] =
      Array(v, v >> 8, v >> 16, v >> 24).map(_.toByte)
    val onlySkip = le32(0x184d2a5aL) ++ le32(3) ++ "abc".getBytes
    assert(unlz4(onlySkip) ==
      Seq(Some((0, "d41d8cd98f00b204e9800998ecf8427e")))) // md5("")
    // truncated skippable payload and undersized header both NULL
    val truncPay = le32(0x184d2a50L) ++ le32(10) ++ "abc".getBytes
    val truncHdr = le32(0x184d2a50L) ++ Array[Byte](3, 0)
    // inter-frame garbage (a stray byte between frames) NULLs all
    val garbage = onlySkip ++ Array[Byte](0x7f) ++ res("lzbig.hex")
    assert(unlz4(truncPay, truncHdr, garbage) == Seq.fill(3)(None))
  }

  test("linked-block frames: matches reach back into earlier blocks") {
    val xx = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance().hash32()
    def le32(v: Long): Array[Byte] =
      Array(v, v >> 8, v >> 16, v >> 24).map(_.toByte)
    // FLG 0x44: version 01, independence bit CLEAR, content checksum
    val desc = Array[Byte](0x44, 0x40)
    val hc = ((xx.hash(desc, 0, 2, 0) >> 8) & 0xff).toByte
    // block 1: 16 literals; block 2: a 16-byte match at offset 16 — the
    // whole of block 1 — then the literals "12345"
    val b1 = Array[Byte](0xf0.toByte, 0x01) ++ "abcdefghijklmnop".getBytes
    val b2 = Array[Byte](0x0c, 0x10, 0x00, 0x50) ++ "12345".getBytes
    val content = ("abcdefghijklmnop" * 2 + "12345").getBytes
    val frame = le32(0x184d2204L) ++ desc ++ Array(hc) ++
      le32(b1.length) ++ b1 ++ le32(b2.length) ++ b2 ++ le32(0) ++
      le32(xx.hash(content, 0, content.length, 0))
    val got = Lz4Inflate.unlz4(frame)
    assert(got != null && java.util.Arrays.equals(got, content))
    // the same blocks under FLG 0x64 (independent) must NULL: block 2's
    // match would leave its own block
    val indepDesc = Array[Byte](0x64, 0x40)
    val indep = frame.clone()
    indep(4) = 0x64
    indep(6) = ((xx.hash(indepDesc, 0, 2, 0) >> 8) & 0xff).toByte
    assert(Lz4Inflate.unlz4(indep) == null)
    // lzlinked.hex: `lz4 -BD -B4 --content-size` over a 1 KiB random
    // text repeated 66 times, so the second 64 KB block is matches into
    // the first
    assert(unlz4(res("lzlinked.hex")) ==
      Seq(Some((67584, "5c7887583c0807252bc9aa8e0b3db106"))))
  }

  test("null input yields NULL; SQL surface registered") {
    val out = Seq((1L, null: Array[Byte])).toDF("id", "b")
      .select(Lz4Inflate.lz4_inflate(col("b")).as("d")).collect()
    assert(out(0).isNullAt(0))
    GraftFunctions.register(spark)
    val r = Seq(Tuple1(res("lzbig.hex"))).toDF("b")
      .selectExpr("octet_length(lz4_inflate(b)) AS n").collect()
    assert(r(0).getInt(0) == 14400)
    val x = Seq(Tuple1("abc".getBytes)).toDF("b")
      .selectExpr("xxh32(b) AS x").collect()
    val xx = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance().hash32()
    assert(x(0).getLong(0) ==
      (xx.hash("abc".getBytes, 0, 3, 0).toLong & 0xffffffffL))
  }
}
