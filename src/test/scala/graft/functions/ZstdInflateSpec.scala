package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the full RFC 8878 ZstdInflate against THREE independent
  * implementations: real `zstd(1)` CLI frames (resource hex — text at
  * -1/-5C/-19, incompressible random, a 100k RLE run, mixed bytes at
  * -9, a >128KB multi-block input, empty, 1 byte, and a skippable-
  * frame + concatenation vector verified against real `zstd -d`),
  * zstd-jni (the reference C library Spark ships for parquet, driven
  * across levels × checksum × content-size × payload shapes), and
  * aircompressor (an independent pure-Java encoder). Plus xxh64
  * pinned value-for-value against lz4-java's XXHash64, and the strict
  * NULL contract on hand-mutated frames.
  */
class ZstdInflateSpec extends SparkSpec {
  import spark.implicits._

  private def res(name: String): Array[Byte] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(s"/zstd/$name"))
    try src.mkString.trim.grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray
    finally src.close()
  }

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString

  private val text = (("Zstandard is a fast lossless compression " +
    "algorithm, targeting real-time compression scenarios at zlib-level " +
    "and better compression ratios. ") * 120).getBytes("UTF-8")

  test("Checksums.xxh64 matches lz4-java's XXHash64") {
    val xx = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance().hash64()
    val rng = new scala.util.Random(43)
    val payloads = Seq(Array.empty[Byte], "a".getBytes,
      "0123456789abcdefghijklmnopqrstu".getBytes, // 31 B: below the lane cut
      "0123456789abcdefghijklmnopqrstuv".getBytes, // exactly 32
      { val a = new Array[Byte](100007); rng.nextBytes(a); a })
    for (p <- payloads; seed <- Seq(0L, 1L, 0x9747b28c9747b28cL)) {
      assert(Checksums.xxh64(p, 0, p.length, seed) ==
        xx.hash(p, 0, p.length, seed), s"xxh64 len=${p.length} seed=$seed")
    }
  }

  test("real zstd CLI frames decode to exact content") {
    def check(name: String, want: Array[Byte]): Unit = {
      val got = ZstdInflate.unzstd(res(name))
      assert(got != null, s"$name decoded to NULL")
      assert(java.util.Arrays.equals(got, want),
        s"$name: got ${got.length}B md5=${md5hex(got)}, " +
          s"want ${want.length}B md5=${md5hex(want)}")
    }
    // the generator's exact payloads: random bytes shipped as a resource
    // (the python RNG isn't replayable in-JVM), the rest deterministic
    val rand = res("rand_payload.hex")
    assert(md5hex(rand) == "48d502f5e705d08040cd032f25a3b0a1")
    check("text19.hex", text)
    check("text1.hex", text)
    check("text5ck.hex", text)
    check("rand.hex", rand)
    check("run.hex", Array.fill(100000)('a'.toByte))
    check("mixed9.hex", (0 until 3000).flatMap(i =>
      Seq.fill((i * 7) % 23 + 1)((i % 251).toByte)).toArray)
    check("big3.hex", Array.concat(Seq.fill(12)(text): _*)) // 200160 B
    check("empty.hex", Array.empty[Byte])
    check("tiny.hex", "x".getBytes)
  }

  test("skippable frames + concatenation match real `zstd -d` output") {
    val got = ZstdInflate.unzstd(res("comb.hex"))
    assert(got != null && got.length == 20776 &&
      md5hex(got) == "40a95438d59986335df7523c229818ab")
  }

  test("zstd-jni differential: levels x checksum x contentSize x shapes") {
    val rng = new scala.util.Random(11)
    val shapes: Seq[Array[Byte]] = Seq(
      Array.empty[Byte],
      "a".getBytes,
      "abcabcabcabc".getBytes,
      text,
      { val a = new Array[Byte](777); rng.nextBytes(a); a },
      Array.fill(50000)('z'.toByte),
      { // compressible-with-structure: repeated dictionary words
        val words = Seq("spark", "zstd", "fse", "huffman", "sequence",
          "offset", "entropy", "window")
        (0 until 20000).map(i => words(rng.nextInt(words.size)))
          .mkString(" ").getBytes
      },
      { // > 128KB so multiple blocks with Repeat/Treeless modes
        val a = new Array[Byte](300000)
        var i = 0
        while (i < a.length) { a(i) = ((i * i + i / 97) % 83).toByte; i += 1 }
        a
      })
    for (payload <- shapes; level <- Seq(1, 3, 9, 19);
        checksum <- Seq(false, true); cs <- Seq(false, true)) {
      val ctx = new com.github.luben.zstd.ZstdCompressCtx()
      try {
        ctx.setLevel(level)
        ctx.setChecksum(checksum)
        ctx.setContentSize(cs)
        val blob = ctx.compress(payload)
        val got = ZstdInflate.unzstd(blob)
        assert(got != null,
          s"NULL at len=${payload.length} level=$level ck=$checksum cs=$cs")
        assert(java.util.Arrays.equals(got, payload),
          s"mismatch at len=${payload.length} level=$level ck=$checksum cs=$cs")
      } finally ctx.close()
    }
  }

  test("zstd-jni fuzz: 80 structured-random payloads across levels") {
    val rng = new scala.util.Random(20260815L)
    val words = "the quick brown fox jumps over a lazy dog zstd fse".split(" ")
    def payload(): Array[Byte] = {
      val kind = rng.nextInt(4)
      val len = rng.nextInt(60000)
      kind match {
        case 0 => // pure random (raw blocks)
          val a = new Array[Byte](len); rng.nextBytes(a); a
        case 1 => // runs of runs (RLE-heavy)
          val sb = new scala.collection.mutable.ArrayBuffer[Byte]()
          while (sb.length < len)
            sb ++= Array.fill(rng.nextInt(300) + 1)(rng.nextInt(5).toByte)
          sb.take(len).toArray
        case 2 => // wordy text (huffman + matches)
          val sb = new StringBuilder
          while (sb.length < len) sb.append(words(rng.nextInt(words.length)))
            .append(' ')
          sb.toString.take(len).getBytes
        case _ => // half random, half repeated slice (repeat offsets)
          val a = new Array[Byte](math.max(len, 64)); rng.nextBytes(a)
          var i = a.length / 2
          while (i < a.length) { a(i) = a(i - a.length / 2); i += 1 }
          a
      }
    }
    for (_ <- 0 until 80) {
      val p = payload()
      val level = Seq(1, 2, 3, 6, 12, 19)(rng.nextInt(6))
      val ctx = new com.github.luben.zstd.ZstdCompressCtx()
      try {
        ctx.setLevel(level)
        ctx.setChecksum(rng.nextBoolean())
        ctx.setContentSize(rng.nextBoolean())
        val blob = ctx.compress(p)
        val got = ZstdInflate.unzstd(blob)
        assert(got != null && java.util.Arrays.equals(got, p),
          s"fuzz mismatch: len=${p.length} level=$level md5=${md5hex(p)}")
      } finally ctx.close()
    }
  }

  test("aircompressor differential: an independent pure-Java encoder") {
    val rng = new scala.util.Random(13)
    val shapes: Seq[Array[Byte]] = Seq(
      text,
      "the the the the the the".getBytes,
      { val a = new Array[Byte](65537); rng.nextBytes(a); a },
      (0 until 5000).map(i => s"row-$i,val-${i % 17}").mkString("\n").getBytes)
    val comp = new io.airlift.compress.zstd.ZstdCompressor()
    for (payload <- shapes) {
      val out = new Array[Byte](comp.maxCompressedLength(payload.length))
      val m = comp.compress(payload, 0, payload.length, out, 0, out.length)
      val got = ZstdInflate.unzstd(java.util.Arrays.copyOf(out, m))
      assert(got != null && java.util.Arrays.equals(got, payload),
        s"aircompressor mismatch at len=${payload.length}")
    }
  }

  test("strict NULL contract") {
    val good = res("text5ck.hex") // checksummed frame
    def mut(f: Array[Byte] => Unit): Array[Byte] = {
      val c = good.clone(); f(c); c
    }
    val badMagic = mut(b => b(0) = 0x05)
    val reservedBit = mut(b => b(4) = (b(4) | 0x08).toByte)
    val badChecksum = mut(b => b(b.length - 1) = (b(b.length - 1) ^ 1).toByte)
    val bitRot = mut(b => b(20) = (b(20) ^ 0x20).toByte)
    val truncated = good.take(good.length - 6)
    val trailingGarbage = good ++ Array[Byte](0x7f)
    val raw = "not a zstd frame".getBytes("UTF-8")
    // declared content size vs actual mismatch: text19 has content-size;
    // flip a size byte (header checksumless frame decodes but count differs
    // or entropy breaks -> either way NULL)
    val cs = res("text19.hex")
    val badCs = { val c = cs.clone(); c(5) = (c(5) ^ 1).toByte; c }
    val out = Seq(badMagic, reservedBit, badChecksum, bitRot, truncated,
      trailingGarbage, raw, badCs, Array.empty[Byte])
      .map(ZstdInflate.unzstd)
    assert(out.forall(_ == null))
  }

  test("window bound: a frame asking for a 128 MiB window NULLs") {
    // a streaming encoder with no pledged size keeps its full window:
    // the header declares 2^27 bytes however small the payload is
    val payload = ("window " * 257).take(1800).getBytes("UTF-8")
    val bos = new java.io.ByteArrayOutputStream()
    val zo = new com.github.luben.zstd.ZstdOutputStreamNoFinalizer(bos)
    try { zo.setLong(27); zo.write(payload) } finally zo.close()
    val blob = bos.toByteArray
    // libzstd under its own defaults decodes it, sizing a 128 MiB window
    val zi = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
      new java.io.ByteArrayInputStream(blob))
    val plain = try zi.readAllBytes() finally zi.close()
    assert(java.util.Arrays.equals(plain, payload))
    assert(ZstdInflate.unzstd(blob) == null)
  }

  test("dictionary frames: zstd-jni trained dict round-trips; wrong, " +
    "missing, and id-mismatched dicts NULL; empty dict is neutral") {
    // small structured records — the shard shape dictionaries exist for
    val samples = (0 until 256).map(i =>
      s"""{"user":"user$i","event":"click","ts":${100000 + i},""" +
        s""""page":"/product/${i % 17}","ref":"search"}""")
    val trainer = new com.github.luben.zstd.ZstdDictTrainer(
      1024 * 1024, 16 * 1024)
    samples.foreach(x => trainer.addSample(x.getBytes("UTF-8")))
    val dict = trainer.trainSamples()
    val other = {
      val t2 = new com.github.luben.zstd.ZstdDictTrainer(
        1024 * 1024, 16 * 1024)
      (0 until 256).foreach(i =>
        t2.addSample((s"totally different corpus line number $i with " +
          s"other words entirely ${i * 31}").getBytes("UTF-8")))
      t2.trainSamples()
    }
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      ctx.setLevel(3)
      ctx.loadDict(dict)
      for (x <- samples.take(32)) {
        val payload = x.getBytes("UTF-8")
        val blob = ctx.compress(payload)
        val got = ZstdInflate.unzstdDict(blob, dict)
        assert(got != null && java.util.Arrays.equals(got, payload),
          s"dict round-trip failed for: $x")
        // one-arg form: declared dictionary id, no dict -> NULL
        assert(ZstdInflate.unzstd(blob) == null)
        // empty dict = "no dictionary" -> same NULL
        assert(ZstdInflate.unzstdDict(blob, Array.empty[Byte]) == null)
        // wrong trained dict: id mismatch -> NULL
        assert(ZstdInflate.unzstdDict(blob, other) == null)
      }
    } finally ctx.close()
    // neutrality: a dict supplied to an ordinary frame changes nothing
    val plain = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      plain.setLevel(3)
      val payload = ("plain frame " * 50).getBytes("UTF-8")
      val blob = plain.compress(payload)
      assert(java.util.Arrays.equals(
        ZstdInflate.unzstdDict(blob, dict), payload))
      assert(java.util.Arrays.equals(
        ZstdInflate.unzstdDict(blob, Array.empty[Byte]), payload))
    } finally plain.close()
  }

  test("raw-content dictionary: match history reaches below the frame") {
    val dictBytes =
      ("shared prefix vocabulary the encoder will reference " * 40)
        .getBytes("UTF-8")
    val payload =
      ("shared prefix vocabulary the encoder will reference AND MORE " * 10)
        .getBytes("UTF-8")
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      ctx.setLevel(19)
      ctx.loadDict(dictBytes) // no magic -> raw content dictionary
      val blob = ctx.compress(payload)
      val got = ZstdInflate.unzstdDict(blob, dictBytes)
      assert(got != null && java.util.Arrays.equals(got, payload))
      // the frame references history below frameStart: without the
      // dictionary the offsets reach before the frame -> NULL
      assert(ZstdInflate.unzstd(blob) == null)
    } finally ctx.close()
  }

  test("null input yields NULL; SQL surface registered") {
    val out = Seq((1L, null: Array[Byte])).toDF("id", "b")
      .select(ZstdInflate.zstd_inflate(col("b")).as("d")).collect()
    assert(out(0).isNullAt(0))
    GraftFunctions.register(spark)
    val r = Seq(Tuple1(res("text1.hex"))).toDF("b")
      .selectExpr("octet_length(zstd_inflate(b)) AS n").collect()
    assert(r(0).getInt(0) == text.length)
    val x = Seq(Tuple1("abc".getBytes)).toDF("b")
      .selectExpr("xxh64(b) AS x").collect()
    val xx = net.jpountz.xxhash.XXHashFactory.fastestJavaInstance().hash64()
    assert(x(0).getLong(0) == xx.hash("abc".getBytes, 0, 3, 0L))
  }
}
