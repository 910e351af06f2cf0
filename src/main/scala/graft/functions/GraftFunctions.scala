package graft.functions

import org.apache.spark.sql.SparkSession

/** SQL-surface registration for the engine's custom Catalyst functions, so
  * `spark.sql("SELECT rolling_hash(text) ...")` works alongside the Column
  * API. Registered per-session (temp functions) — call once after session
  * creation.
  */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction(
      "rolling_hash", exprs => RollingHash(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "top_k",
      exprs => {
        require(exprs.length == 3, "top_k(score, tag, k)")
        val k = exprs(2).eval(null).asInstanceOf[Number].intValue()
        TopKAggregate(exprs(0), exprs(1), k)
      },
      "scala_udf")
    registry.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash64(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "scala_udf")
    registry.createOrReplaceTempFunction(
      "byte_stats", exprs => ByteStats(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "minhash_signature",
      exprs => {
        require(exprs.length == 2, "minhash_signature(hashes, numHashes)")
        val n = exprs(1).eval(null).asInstanceOf[Number].intValue()
        MinHashSignature(exprs(0), n)
      },
      "scala_udf")
    registry.createOrReplaceTempFunction(
      "image_dims", exprs => ImageDims(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "audio_meta", exprs => AudioMeta(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "video_meta", exprs => VideoMeta(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "url_normalize", exprs => UrlNormalize(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "bmp_pixels", exprs => BmpPixels(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "png_pixels", exprs => PngPixels(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "nfc_normalize", exprs => NfcNormalize(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "gzip_inflate", exprs => GzipInflate(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "warc_records", exprs => WarcRecords(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "adler32", exprs => Adler32Fn(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "tar_entries", exprs => TarEntries(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "zip_entries", exprs => ZipEntries(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "gif_pixels", exprs => GifPixels(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "gif_frames", exprs => GifFrames(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "whatwg_decode", exprs => WhatwgDecode(exprs(0), exprs(1)), "scala_udf")
    registry.createOrReplaceTempFunction(
      "pdf_text", exprs => PdfText(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "whatwg_encoding",
      exprs => WhatwgEncoding(exprs(0), exprs(1)), "scala_udf")
    registry.createOrReplaceTempFunction(
      "jpeg_pixels", exprs => JpegPixels(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "webp_pixels", exprs => WebpPixels(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "zlib_inflate", exprs => ZlibInflate(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "gzip_members", exprs => GzipMembers(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "lz4_inflate", exprs => Lz4Inflate(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "xxh32", exprs => Xxh32Fn(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "xxh64", exprs => Xxh64Fn(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "zstd_inflate", exprs => ZstdInflate(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "zstd_inflate_dict",
      exprs => ZstdInflateDict(exprs(0), exprs(1)), "scala_udf")
    registry.createOrReplaceTempFunction(
      "bz2_inflate", exprs => Bz2Inflate(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "html_text", exprs => HtmlText(exprs.head), "scala_udf")
    registry.createOrReplaceTempFunction(
      "warc_payloads", exprs => WarcPayloads(exprs.head), "scala_udf")
    // bpe_token_count(text): the shipped default merge table; pass a
    // custom vocab through the Column API (TextAnalysis.bpeTokenCountReal)
    registry.createOrReplaceTempFunction(
      "bpe_token_count",
      exprs => BpeTokenCount(exprs.head,
        graft.llm.TextAnalysis.DefaultBpeRanks), "scala_udf")
  }
}

/** Builder-time registration for library users: a session builder's
  * `.withExtensions(new GraftExtensions)`, or
  * --conf spark.sql.extensions=graft.functions.GraftExtensions.
  * Injects the same functions as GraftFunctions.register, but into every
  * session derived from the builder.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (exprs: Seq[Expression]) => RollingHash(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("top_k"),
      new ExpressionInfo(classOf[TopKAggregate].getName, "top_k"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "top_k(score, tag, k)")
        val k = exprs(2).eval(null).asInstanceOf[Number].intValue()
        TopKAggregate(exprs(0), exprs(1), k)
      }))
    e.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("byte_stats"),
      new ExpressionInfo(classOf[ByteStats].getName, "byte_stats"),
      (exprs: Seq[Expression]) => ByteStats(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "minhash_signature(hashes, numHashes)")
        val n = exprs(1).eval(null).asInstanceOf[Number].intValue()
        MinHashSignature(exprs(0), n)
      }))
    e.injectFunction((
      FunctionIdentifier("image_dims"),
      new ExpressionInfo(classOf[ImageDims].getName, "image_dims"),
      (exprs: Seq[Expression]) => ImageDims(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("audio_meta"),
      new ExpressionInfo(classOf[AudioMeta].getName, "audio_meta"),
      (exprs: Seq[Expression]) => AudioMeta(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("video_meta"),
      new ExpressionInfo(classOf[VideoMeta].getName, "video_meta"),
      (exprs: Seq[Expression]) => VideoMeta(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("url_normalize"),
      new ExpressionInfo(classOf[UrlNormalize].getName, "url_normalize"),
      (exprs: Seq[Expression]) => UrlNormalize(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("bmp_pixels"),
      new ExpressionInfo(classOf[BmpPixels].getName, "bmp_pixels"),
      (exprs: Seq[Expression]) => BmpPixels(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("png_pixels"),
      new ExpressionInfo(classOf[PngPixels].getName, "png_pixels"),
      (exprs: Seq[Expression]) => PngPixels(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[Expression]) => NfcNormalize(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("gzip_inflate"),
      new ExpressionInfo(classOf[GzipInflate].getName, "gzip_inflate"),
      (exprs: Seq[Expression]) => GzipInflate(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("warc_records"),
      new ExpressionInfo(classOf[WarcRecords].getName, "warc_records"),
      (exprs: Seq[Expression]) => WarcRecords(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("adler32"),
      new ExpressionInfo(classOf[Adler32Fn].getName, "adler32"),
      (exprs: Seq[Expression]) => Adler32Fn(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("tar_entries"),
      new ExpressionInfo(classOf[TarEntries].getName, "tar_entries"),
      (exprs: Seq[Expression]) => TarEntries(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("zip_entries"),
      new ExpressionInfo(classOf[ZipEntries].getName, "zip_entries"),
      (exprs: Seq[Expression]) => ZipEntries(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("gif_pixels"),
      new ExpressionInfo(classOf[GifPixels].getName, "gif_pixels"),
      (exprs: Seq[Expression]) => GifPixels(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("gif_frames"),
      new ExpressionInfo(classOf[GifFrames].getName, "gif_frames"),
      (exprs: Seq[Expression]) => GifFrames(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("whatwg_decode"),
      new ExpressionInfo(classOf[WhatwgDecode].getName, "whatwg_decode"),
      (exprs: Seq[Expression]) => WhatwgDecode(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("pdf_text"),
      new ExpressionInfo(classOf[PdfText].getName, "pdf_text"),
      (exprs: Seq[Expression]) => PdfText(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("whatwg_encoding"),
      new ExpressionInfo(classOf[WhatwgEncoding].getName, "whatwg_encoding"),
      (exprs: Seq[Expression]) => WhatwgEncoding(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("jpeg_pixels"),
      new ExpressionInfo(classOf[JpegPixels].getName, "jpeg_pixels"),
      (exprs: Seq[Expression]) => JpegPixels(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("webp_pixels"),
      new ExpressionInfo(classOf[WebpPixels].getName, "webp_pixels"),
      (exprs: Seq[Expression]) => WebpPixels(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("zlib_inflate"),
      new ExpressionInfo(classOf[ZlibInflate].getName, "zlib_inflate"),
      (exprs: Seq[Expression]) => ZlibInflate(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("gzip_members"),
      new ExpressionInfo(classOf[GzipMembers].getName, "gzip_members"),
      (exprs: Seq[Expression]) => GzipMembers(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("lz4_inflate"),
      new ExpressionInfo(classOf[Lz4Inflate].getName, "lz4_inflate"),
      (exprs: Seq[Expression]) => Lz4Inflate(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("xxh32"),
      new ExpressionInfo(classOf[Xxh32Fn].getName, "xxh32"),
      (exprs: Seq[Expression]) => Xxh32Fn(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("xxh64"),
      new ExpressionInfo(classOf[Xxh64Fn].getName, "xxh64"),
      (exprs: Seq[Expression]) => Xxh64Fn(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("zstd_inflate"),
      new ExpressionInfo(classOf[ZstdInflate].getName, "zstd_inflate"),
      (exprs: Seq[Expression]) => ZstdInflate(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("zstd_inflate_dict"),
      new ExpressionInfo(classOf[ZstdInflateDict].getName,
        "zstd_inflate_dict"),
      (exprs: Seq[Expression]) => ZstdInflateDict(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("bz2_inflate"),
      new ExpressionInfo(classOf[Bz2Inflate].getName, "bz2_inflate"),
      (exprs: Seq[Expression]) => Bz2Inflate(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("html_text"),
      new ExpressionInfo(classOf[HtmlText].getName, "html_text"),
      (exprs: Seq[Expression]) => HtmlText(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("warc_payloads"),
      new ExpressionInfo(classOf[WarcPayloads].getName, "warc_payloads"),
      (exprs: Seq[Expression]) => WarcPayloads(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("bpe_token_count"),
      new ExpressionInfo(classOf[BpeTokenCount].getName, "bpe_token_count"),
      (exprs: Seq[Expression]) => BpeTokenCount(exprs.head,
        graft.llm.TextAnalysis.DefaultBpeRanks)))
  }
}
