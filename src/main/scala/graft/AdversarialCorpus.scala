package graft

import org.apache.spark.sql.SparkSession

/** Deterministic adversarial documents/embeddings corpus — the data shapes
  * the generated testdata never contains, where Spark↔DuckDB semantics
  * have silently diverged before (split-of-empty-string, short-doc shingle
  * NULLs dropped by list_distinct, ANSI divide-by-zero on zero-norm
  * vectors). Mirrors the `docs` and `vecs` blocks of
  * tools/make_adversarial.py (byte-identical parquet, re-verified on every
  * corpus change) so the same corpus drives BOTH gates: the manual
  * cross-engine oracle run (the py tool) and the CI pin
  * (AdversarialCorpusSpec) that keeps the guard class from rotting when
  * only `sbt test` runs.
  */
object AdversarialCorpus {

  /** (doc_id, text, lang, source); n_chars derives as the code-point count
    * (= Python len, incl. the astral-plane emoji).
    */
  val Docs: Seq[(Long, String, String, String)] = Seq(
    (0L, "", "en", "web"),                          // empty
    (1L, "   ", "en", "web"),                       // whitespace only
    (2L, "one", "en", "web"),                       // 1 token
    (3L, "two words", "de", "web"),                 // 2 tokens
    (4L, "two words", "de", "web"),                 // exact dup of 3
    (5L, "three little words", "fr", "book"),       // exactly 3 tokens
    (6L, "  padded   with   runs  ", "en", "web"),  // ws runs + pad
    (7L, "é ø 中文 emoji 🙂 mixed", "es", "web"),    // unicode
    (8L, "the the the the the the", "en", "web"),   // repeated token
    (9L, "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 4,
      "en", "book"),                                // long
    (10L, "three little words", "fr", "web"),       // dup, diff metadata
    (11L, "12345 67890 a1b2", "en", "web"),         // digits
    (12L, "contact jane.doe@example.com or 10.0.0.1 call 555-123-4567",
      "en", "web"),                                 // PII (email/ip/phone)
    // near-dup pair (trigram Jaccard 9/11 ≈ 0.82) where the HIGHER doc id
    // has the HIGHER quality ('the' is a stopword, 'The' is not): the
    // min-id and argmax-quality survivor policies must pick DIFFERENT
    // keepers here, so their adversarial pins cannot silently coincide
    (13L, "the rapid brown vulpes leaps across nine calm silver rivers " +
      "daily always", "en", "web"),
    (14L, "The rapid brown vulpes leaps across nine calm silver rivers " +
      "daily always", "en", "web"),
    // vertical tab INSIDE words: Java regex \s includes \x0B, RE2's
    // does not — every tokenizing oracle must use the widened [\s\x0b]
    // class or it sees 3 tokens where Spark sees 5 (the r5 contract hole)
    (15L, "vertical\u000Btab\u000Bdelimited tokens appear", "en", "web"),
    // symbol-rule shapes: '#', one-code-point ellipsis, dot-run '....'
    // (one '...' occurrence + a leftover '.'), a bullet-start line and an
    // ellipsis-end line -- without this doc the gopher symbol/line
    // expressions are exercised by ZERO corpus rows (second review pass)
    (16L, "# heading line\n- bullet item \u2026\nthe plain line trails off...\n" +
      "symbols ## here and dots .... done", "en", "web"),
    // filler docs 17-21 push the en stratum to 17 docs: floor(4*sqrt(17))
    // = 16 < 17, so the temperature-sampling quota BINDS on this corpus \u2014
    // without them llm_sample_temperature's pin was byte-identical to
    // llm_sample_stratified (every stratum's quota >= its count) and the
    // pin suite never exercised the one behavior that distinguishes the
    // query (r6 advice)
    (17L, "ordinary filler sentence number seventeen for the stratum count",
      "en", "web"),
    (18L, "another plain document that only exists to raise the count",
      "en", "web"),
    (19L, "quota pressure arrives once seventeen english documents exist",
      "en", "web"),
    (20L, "temperature flattening keeps sixteen of these seventeen rows",
      "en", "web"),
    (21L, "the last filler line completes the seventeen document stratum",
      "en", "web"),
    // retrieval probes: docs containing the tfidf/bm25 probe terms
    // ("spark", "window", "merge") — without these both rankers return
    // ZERO rows on this corpus and their adversarial pins pin an empty
    // table (round-8 finding: llm_tfidf_topk and llm_bm25_topk carried
    // IDENTICAL pin hashes). 22 is short and term-dense, 23 long with
    // single occurrences: BM25's length normalization and tf saturation
    // score them differently than raw-tf TF-IDF, so the two pins now
    // diverge — drift in either scoring path flips a pin.
    (22L, "spark spark spark window merge", "en", "web"),
    (23L, "a long engine discussion mentions spark once then window once " +
      "then merge once among many many other ordinary filler words that " +
      "stretch the document length well past the dense probe document",
      "en", "web"),
    // separator control codes INSIDE text: U+001F is the engine's BPE
    // token-sequence separator, U+001E the DuckDB oracles' chr(30)
    // reduce separator. Both are EXCLUDED from the BPE pre-token
    // alphabet by contract (BpeAlgo.isAsciiSpace + the oracles'
    // [^...\x1e\x1f] class, r12 advice) -- this doc proves both
    // engines skip them identically instead of emitting ambiguous
    // joined sequences. Other tokenizers (\s-based) see them as
    // ordinary non-space chars -- also exercised here.
    (24L, "unit\u001fseparated\u001erecord controls embedded mid word",
      "en", "web"))

  /** One shared definition with the query layer's testdata-dim constant:
    * if the generator's dim ever drifts, every ANN oracle literal drifts
    * WITH it instead of silently probing wrong-length hyperplanes
    * (round-5 advice). The testdata side is guarded by a spec asserting
    * the probed dim of the parquet corpus equals this.
    */
  val Dim: Int = graft.queries.LlmQueries.EmbeddingDim

  /** zero / unit / duplicate-unit / constant / linspace vectors. */
  def Vecs: Seq[Array[Float]] = Seq(
    Array.fill(Dim)(0.0f),                          // zero (undefined cosine)
    1.0f +: Array.fill(Dim - 1)(0.0f),
    1.0f +: Array.fill(Dim - 1)(0.0f),              // duplicate
    Array.fill(Dim)(0.5f),
    Array.tabulate(Dim)(i => (-1.0 + 2.0 * i / (Dim - 1)).toFloat))

  def writeTo(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    Docs.map { case (id, text, lang, src) =>
      (id, text, lang, src, text.codePointCount(0, text.length).toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    Vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, i) }
      .toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "cast(embedding as array<float>) as embedding",
        "cast(label as int) as label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
  }

  /** Every llm_* driver-contract query runs on this corpus (they read only
    * documents/embeddings; the events-side shapes live in the py tool).
    */
  def pinnedQueries: Seq[String] =
    SparkEntry.queries.keySet.filter(_.startsWith("llm_")).toSeq.sorted
}

/** Regenerates the adversarial-corpus pins in
  * src/test/resources/golden/adversarial.txt. Usage:
  *   runMain graft.AdversarialGoldenGen
  * Review the diff before copying — a surprise hash change here means an
  * edge-case semantics change, not a refresh.
  */
object AdversarialGoldenGen {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val dir =
      if (args.nonEmpty) args(0)
      else java.nio.file.Files.createTempDirectory("graft_adv").toString
    AdversarialCorpus.writeTo(spark, dir)
    AdversarialCorpus.pinnedQueries.foreach { name =>
      val h = GoldenHash.tableHash(SparkEntry.queries(name)(spark, dir))
      println(s"GOLDEN $name=$h")
    }
    spark.stop()
  }
}
