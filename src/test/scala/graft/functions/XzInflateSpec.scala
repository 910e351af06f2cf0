package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** XzInflate pinned against THREE independent implementations:
  *  - xz(1) CLI output frozen as hex constants — all four check types
  *    (none/CRC32/CRC64/SHA-256), presets 0/6/9, and a concatenated
  *    two-stream file;
  *  - a CPython `lzma.compress` fixture (repetitive payload — real
  *    match/rep machinery, preset 9);
  *  - an org.tukaani xz-java round-trip battery across presets,
  *    checks, payload shapes (unicode, pseudo-random, long runs,
  *    multi-chunk via tiny dict), and multi-block files.
  * Plus the family's NULL-on-corrupt contract and the 64 MB bomb cap.
  */
class XzInflateSpec extends SparkSpec {
  import spark.implicits._

  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def inflate(blobs: Array[Byte]*): Seq[Option[Array[Byte]]] =
    blobs.toSeq.toDF("b")
      .select(XzInflate.xz_inflate(col("b")))
      .collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getAs[Array[Byte]](0))).toSeq

  // xz(1) output, generated once and frozen:
  //   printf 'hello xz world\n' | xz -9 --check=crc64
  private val Cli64 = "fd377a585a000004e6d6b446020021011c00000010cf58cc0100" +
    "0e68656c6c6f20787a20776f726c640a00000bdab30dbe246b870001270fdf1afc6a" +
    "1fb6f37d010000000004595a"
  //   xz -0 --check=crc32
  private val Cli32 = "fd377a585a0000016922de36020021010c0000008f98419c0100" +
    "0e68656c6c6f20787a20776f726c640a0000c75dd6b20001230fdbdf900e9042990d" +
    "010000000001595a"
  //   xz -6 --check=sha256
  private val CliSha = "fd377a585a00000ae1fb0ca10200210116000000742fe5a30100" +
    "0e68656c6c6f20787a20776f726c640a0000ea0c951c117a8e6c9a0a7d4fd13601de" +
    "6d1cc809def2f23d9555c209b674f17700013f0f8682e7e8189b4b9a01000000000a" +
    "595a"
  //   xz -6 --check=none
  private val CliNone = "fd377a585a000000ff12d9410200210116000000742fe5a301" +
    "000e68656c6c6f20787a20776f726c640a000000011f0f24a6637d06729e7a010000" +
    "000000595a"
  //   (printf 'alpha\n' | xz -1; printf 'beta\n' | xz -9e) — two streams
  private val CliCat = "fd377a585a000004e6d6b4460200210110000000a8708e8601" +
    "0005616c7068610a000000cdab3e32b8999df200011e06c12fa41d1fb6f37d010000" +
    "000004595afd377a585a000004e6d6b446020021011c00000010cf58cc0100046265" +
    "74610a00000000210d609d477a071800011d05b82d80af1fb6f37d010000000004" +
    "595a"

  test("decodes xz(1) output across all four check types") {
    for (hexs <- Seq(Cli64, Cli32, CliSha, CliNone)) {
      assert(new String(inflate(unhex(hexs)).head.get, "UTF-8") ==
        "hello xz world\n", s"failed for ${hexs.take(24)}…")
    }
  }

  test("concatenated streams decode as one payload") {
    assert(new String(inflate(unhex(CliCat)).head.get, "UTF-8") ==
      "alpha\nbeta\n")
  }

  //   CPython: lzma.compress(('doc '*1000).encode(), preset=9)
  private val PyLzma = "fd377a585a000004e6d6b446020021011c00000010cf58cce0" +
    "0f9f001e5d00321bc8886106cbb3a5e294807a007ca184994f970b41081deaacd127" +
    "88000000007cff7eee3a5f71ad00013aa01f0000004928e91eb1c467fb0200000000" +
    "04595a"

  test("CPython lzma fixture: repetitive payload, real match machinery") {
    val got = inflate(unhex(PyLzma)).head
    assert(got.isDefined &&
      new String(got.get, "UTF-8") == "doc " * 1000)
  }

  test("xz-java round-trip battery: presets x checks x shapes") {
    val payloads: Seq[Array[Byte]] = Seq(
      "".getBytes("UTF-8"),
      "a".getBytes("UTF-8"),
      "héllo wörld 🙂 中文 mixed".getBytes("UTF-8"),
      ("the quick brown fox jumps over the lazy dog " * 400)
        .getBytes("UTF-8"),
      Array.tabulate(100000)(i => (i * 131 % 251).toByte), // pseudo-random
      Array.fill(200000)('x'.toByte))
    for (payload <- payloads; preset <- Seq(0, 6, 9);
        check <- Seq(org.tukaani.xz.XZ.CHECK_CRC32,
          org.tukaani.xz.XZ.CHECK_CRC64, org.tukaani.xz.XZ.CHECK_SHA256,
          org.tukaani.xz.XZ.CHECK_NONE)) {
      val bos = new java.io.ByteArrayOutputStream()
      val xzo = new org.tukaani.xz.XZOutputStream(bos,
        new org.tukaani.xz.LZMA2Options(preset), check)
      xzo.write(payload); xzo.close()
      val got = inflate(bos.toByteArray).head
      assert(got.isDefined,
        s"NULL len=${payload.length} preset=$preset check=$check")
      assert(java.util.Arrays.equals(got.get, payload),
        s"mismatch len=${payload.length} preset=$preset check=$check")
    }
  }

  test("multi-block file (block size forced) round-trips") {
    val payload = Array.tabulate(300000)(i => ((i / 7) % 250).toByte)
    val bos = new java.io.ByteArrayOutputStream()
    val opts = new org.tukaani.xz.LZMA2Options(1)
    val xzo = new org.tukaani.xz.XZOutputStream(bos, opts)
    // force several blocks via explicit flush+endBlock
    var off = 0
    while (off < payload.length) {
      val len = math.min(100000, payload.length - off)
      xzo.write(payload, off, len)
      xzo.endBlock()
      off += len
    }
    xzo.close()
    val got = inflate(bos.toByteArray).head
    assert(got.isDefined && java.util.Arrays.equals(got.get, payload))
  }

  test("NULL on corruption: magic, flag CRC, payload bit-rot, check " +
    "mismatch, truncation, footer, trailing garbage, non-LZMA2 filter") {
    val good = unhex(Cli64)
    def flip(i: Int): Array[Byte] = {
      val b = good.clone(); b(i) = (b(i) ^ 1).toByte; b
    }
    val cases = Seq(
      flip(0),                    // stream magic
      flip(8),                    // stream-flags CRC
      flip(30),                   // inside the LZMA2 payload
      flip(good.length - 20),     // check value region / index
      good.take(good.length - 4), // truncated footer
      good ++ Array[Byte](1),     // trailing garbage (not stream padding)
      // delta filter upstream of LZMA2 (`xz --delta=dist=1`): the
      // DECLARED non-LZMA2-filter NULL lane — real xz(1) output
      unhex("fd377a585a000004e6d6b44602010301002101167920c4ee01000e68" +
        "fd070003b15802a657f803faf8a600000bdab30dbe246b870001270fdf1a" +
        "fc6a1fb6f37d010000000004595a"))
    val got = inflate(cases: _*)
    assert(got.forall(_.isEmpty), s"expected all NULL, got $got")
    assert(inflate(good).head.isDefined) // vectors above guard the blob
  }

  test("decompression bomb: 65 MB NULLs at the cap, does not OOM") {
    val bos = new java.io.ByteArrayOutputStream()
    val xzo = new org.tukaani.xz.XZOutputStream(bos,
      new org.tukaani.xz.LZMA2Options(0))
    val chunk = new Array[Byte](1 << 20)
    (0 until 65).foreach(_ => xzo.write(chunk))
    xzo.close()
    assert(inflate(bos.toByteArray).head.isEmpty)
  }

  test("a declared dictionary past the cap NULLs without allocating it") {
    // Cli64 (xz -9) with its LZMA2 dictionary byte raised from 0x1C
    // (64 MiB) to 0x1E (128 MiB) and the block-header CRC32 recomputed:
    // the stream is otherwise intact, so only the memory limit rejects it
    val big = unhex(Cli64)
    assert(big(16) == 0x1c)
    big(16) = 0x1e
    val crc = new java.util.zip.CRC32()
    crc.update(big, 12, 8)
    val v = crc.getValue
    (0 until 4).foreach(i => big(20 + i) = (v >>> (8 * i)).toByte)
    assert(inflate(big).head.isEmpty)
  }

  test("stream padding between concatenated streams") {
    val one = unhex(Cli32)
    val padded = one ++ Array.fill(8)(0.toByte) ++ one
    assert(new String(inflate(padded).head.get, "UTF-8") ==
      "hello xz world\nhello xz world\n")
    // misaligned padding rejects
    val badPad = one ++ Array.fill(3)(0.toByte) ++ one
    assert(inflate(badPad).head.isEmpty)
  }
}
