package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.llm.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}

/** LLM-training-data pipeline operators as driver-contract queries over the
  * `documents` and `embeddings` testdata tables. SQL-expressible ops carry a
  * DuckDB oracle — including the MinHash/SimHash signature rows, which use
  * Dedup's portable md5-fold variants so the oracle replays signatures
  * end-to-end. Since r13 every registered query carries an oracle (the
  * last HLL row moved to the portable-register HllDistinct).
  */
object LlmQueries {

  /** documents() with the r16 compute fanout (Tables.fanout): used by the
    * builders whose next stage is per-row CPU (codec decode, hashing,
    * text scoring, multimodal pixels) — single-row-group input otherwise
    * pins them to one core. Iterative/many-small-job consumers
    * (wordpiece/bpe training, incremental dedup, sampling ranks) keep the
    * plain accessor: for them the added 32-task stages cost more than the
    * parallelism wins (measured both ways this round).
    */
  private def docsPar(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.Tables.fanoutBy(s, documents(s, dir), col("doc_id"))

  /** Exact dedup: hash-groupBy on content, deterministic survivor. */
  val dedupExact = QueryDef(
    "llm_dedup_exact",
    (s, dir) => Dedup.exactDuplicates(documents(s, dir))
      .orderBy("keeper_id"),
    Some("""
      SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies, fp_md5
      FROM (SELECT doc_id, md5(text) AS fp_md5, length(text) AS len
            FROM documents)
      GROUP BY fp_md5, len ORDER BY keeper_id"""))

  /** MinHash+LSH near-dup: per-doc candidate profile (stable 1-row-per-doc
    * output regardless of how many band collisions occur) plus the doc's
    * best signature-agreement estimate. Candidate join is band-key equi —
    * never all-pairs.
    *
    * CROSS-ENGINE by construction (r10 verdict #2): every hash is the
    * KmvDistinct md5 fold over [0, 2^48) and band keys carry raw
    * signature rows (Dedup portable variants), so the DuckDB oracle
    * replays shingles → hashes → 64 permutation minima → bands →
    * hot-band cap → candidate pairs → per-doc profile value-for-value;
    * sig_hash = md5 of the comma-joined signature pins all 64 longs of
    * every signature, not a sample.
    */
  val dedupMinhash = QueryDef(
    "llm_dedup_minhash",
    (s, dir) => {
      val docs = docsPar(s, dir)
      // the signature stage feeds BOTH the candidate join and the per-doc
      // profile — materialize it once (localCheckpoint truncates lineage;
      // (doc_id, 64 longs) per row is the standard LSH index size) rather
      // than re-running shingling+hashing per consumer
      val sigs = Dedup.portableDocSignatures(docs).localCheckpoint(true)
      // explode both pair sides from ONE pass over the candidate join — a
      // union of two projections would execute the LSH join twice
      val perDoc = Dedup.portableMinhashCandidatesFromSigs(sigs)
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"),
          col("est_jaccard"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"),
          max(col("est_jaccard")).as("max_est_jaccard"))
      sigs
        .select(col("doc_id"),
          md5(array_join(transform(col("sig"), v => v.cast(StringType)), ",")
            .cast(BinaryType)).as("sig_hash"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("sig_hash"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("max_est_jaccard"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS MATERIALIZED (
        SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0b]+') AS t
        FROM documents),
      sh AS MATERIALIZED (
        SELECT doc_id,
          list_distinct(CASE WHEN len(t) >= 3 THEN
              list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
            ELSE [array_to_string(t, ' ')] END) AS sh
        FROM toks),
      hs AS MATERIALIZED (
        SELECT doc_id, list_transform(sh, s ->
          list_reduce(list_transform(generate_series(1, 12),
            i -> CAST(strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1
                   AS BIGINT)),
            (a, b) -> a * 16 + b)) AS hs
        FROM sh),
      sig AS MATERIALIZED (
        SELECT doc_id, list_transform(generate_series(0, 63), j ->
            list_min(list_transform(hs, h ->
              (h * (2*j + 1) + (40503 * (j + 1)) % 281474976710677)
                % 281474976710677))) AS sig
        FROM hs),
      bands AS MATERIALIZED (
        SELECT doc_id, CAST(b AS VARCHAR) || ':' ||
            CAST(sig[2*b+1] AS VARCHAR) || '_' ||
            CAST(sig[2*b+2] AS VARCHAR) AS band
        FROM sig, generate_series(0, 31) AS g(b)),
      small AS MATERIALIZED (
        SELECT doc_id, band FROM bands
        WHERE band NOT IN (SELECT band FROM bands
                           GROUP BY band HAVING COUNT(*) > 100)),
      pairs AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM small a JOIN small b USING (band) WHERE a.doc_id < b.doc_id),
      est AS MATERIALIZED (
        SELECT doc_a, doc_b,
          CAST(list_sum(list_transform(generate_series(1, 64),
            k -> CASE WHEN sa.sig[k] = sb.sig[k] THEN 1 ELSE 0 END))
            AS DOUBLE) / 64.0 AS est_jaccard
        FROM pairs JOIN sig sa ON sa.doc_id = pairs.doc_a
                   JOIN sig sb ON sb.doc_id = pairs.doc_b),
      perdoc AS MATERIALIZED (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_candidates,
               MAX(est_jaccard) AS max_est_jaccard
        FROM (SELECT doc_a AS doc_id, est_jaccard FROM est
              UNION ALL SELECT doc_b AS doc_id, est_jaccard FROM est)
        GROUP BY doc_id)
      SELECT s.doc_id, md5(array_to_string(s.sig, ',')) AS sig_hash,
        COALESCE(p.n_candidates, CAST(0 AS BIGINT)) AS n_candidates,
        p.max_est_jaccard AS max_est_jaccard
      FROM sig s LEFT JOIN perdoc p USING (doc_id) ORDER BY doc_id"""))

  /** SimHash near-dup: per-doc signature + Hamming-LSH candidate count.
    *
    * CROSS-ENGINE by construction (r10 verdict #2): token hashes are the
    * portable md5 fold, so the bit-majority signature lives in [0, 2^48)
    * (4×12-bit chunk buckets) and the DuckDB oracle replays every bit of
    * every signature, the chunk buckets, the hot-chunk cap, and the
    * per-doc candidate/min-Hamming profile from md5 arithmetic alone.
    */
  val dedupSimhash = QueryDef(
    "llm_dedup_simhash",
    (s, dir) => {
      val docs = documents(s, dir)
      // one materialized signature pass for both consumers — see
      // llm_dedup_minhash
      val sigs = Dedup.portableDocSimhashes(docs).localCheckpoint(true)
      val perDoc = Dedup.portableSimhashCandidatesFromSigs(sigs)
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"),
          col("hamming"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_candidates"), min(col("hamming")).as("min_hamming"))
      sigs.join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("simhash"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("min_hamming"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS MATERIALIZED (
        SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN ['']
                 ELSE regexp_split_to_array(trim(text), '[\s\x0b]+') END AS t
        FROM documents),
      hs AS MATERIALIZED (
        SELECT doc_id, list_transform(t, s ->
          list_reduce(list_transform(generate_series(1, 12),
            i -> CAST(strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1
                   AS BIGINT)),
            (a, b) -> a * 16 + b)) AS hs
        FROM toks),
      sig AS MATERIALIZED (
        SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 47),
            j -> CASE WHEN list_sum(list_transform(hs, h ->
                CASE WHEN (h // (CAST(1 AS BIGINT) << j)) % 2 = 1
                     THEN 1 ELSE -1 END)) > 0
              THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS simhash
        FROM hs),
      chunks AS MATERIALIZED (
        SELECT doc_id, simhash, CAST(c AS VARCHAR) || ':' ||
            CAST((simhash // (CAST(1 AS BIGINT) << (12*c))) % 4096
              AS VARCHAR) AS chunk
        FROM sig, generate_series(0, 3) AS g(c)),
      small AS MATERIALIZED (
        SELECT doc_id, simhash, chunk FROM chunks
        WHERE chunk NOT IN (SELECT chunk FROM chunks
                            GROUP BY chunk HAVING COUNT(*) > 100)),
      pairs AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM small a JOIN small b USING (chunk) WHERE a.doc_id < b.doc_id),
      perdoc AS MATERIALIZED (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_candidates,
               MIN(hamming) AS min_hamming
        FROM (SELECT doc_a AS doc_id, hamming FROM pairs
              UNION ALL SELECT doc_b AS doc_id, hamming FROM pairs)
        GROUP BY doc_id)
      SELECT s.doc_id, s.simhash,
        COALESCE(p.n_candidates, CAST(0 AS BIGINT)) AS n_candidates,
        p.min_hamming AS min_hamming
      FROM sig s LEFT JOIN perdoc p USING (doc_id) ORDER BY doc_id"""))

  /** n-gram Jaccard profile: per-doc distinct word-3-gram counts — the
    * shingle layer of the dedup stack, oracle-checkable end-to-end.
    */
  val ngramProfile = QueryDef(
    "llm_ngram_profile",
    (s, dir) => documents(s, dir)
      .select(col("doc_id"), col("text"),
        split(trim(col("text")), "\\s+").as("__toks"))
      .select(col("doc_id"),
        // empty-doc guard: Spark's split(trim('')) yields [""] (size 1)
        // while DuckDB's regexp_split_to_array('') yields [] — count
        // through the guarded tokenCount, same as llm_text_tokens
        // (adversarial-corpus finding)
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        size(Dedup.shinglesFromTokens(col("__toks"))).as("n_distinct_3grams"))
      .orderBy("doc_id"),
    Some("""
      WITH toks AS (
        SELECT doc_id, text, regexp_split_to_array(trim(text), '[\s\x0b]+') AS t
        FROM documents)
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE CAST(len(t) AS INTEGER) END AS n_tokens,
             -- short-doc branch mirrors Spark's shinglesFromTokens (the
             -- whole token sequence as ONE shingle) — the bare trigram
             -- expression would go NULL and list_distinct DROPS nulls,
             -- silently zeroing the count (adversarial-corpus finding)
             CAST(len(CASE WHEN len(t) >= 3 THEN
                 list_distinct(list_transform(
                   generate_series(1, len(t) - 2),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
               ELSE [array_to_string(t, ' ')] END) AS INTEGER)
               AS n_distinct_3grams
      FROM toks ORDER BY doc_id"""))

  /** Token counting — whitespace tokenizer plus a BPE-ish regex tokenizer
    * (letter runs / digit runs / single punctuation, the pre-tokenization
    * shape BPE vocabularies split on) — both fused into the scan.
    */
  val textTokens = QueryDef(
    "llm_text_tokens",
    (s, dir) => documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        length(col("text")).as("n_chars"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE CAST(len(regexp_split_to_array(trim(text), '[\s\x0b]+')) AS INTEGER)
             END AS n_tokens,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s\x0b]')) AS INTEGER) AS n_bpe_tokens,
             CAST(length(text) AS INTEGER) AS n_chars
      FROM documents ORDER BY doc_id"""))

  /** DuckDB replay of the FIXED-merge-table BPE encode (BpeAlgo.count):
    * one `list_reduce` merge pass per merge, chained in ASCENDING rank
    * order over the char-split word. Exact because the encode loop's
    * "merge the globally best-ranked pair present, repeat" collapses to
    * a single ascending-rank pass whenever every table pair that
    * references a compound symbol has HIGHER rank than the merge creating
    * that compound — true of any well-formed learned merge list (a
    * symbol must exist before a pair containing it is learned) and
    * verified for the shipped fixture (e.g. `th e`@1 > `t h`@0,
    * `wi th`@27 > `wi`@26/`th`@0): a merge can only CREATE pairs
    * involving its output symbol, so nothing with rank ≤ the current
    * pass ever (re)appears. The per-pass reduce is bpeBatchRoundCte's
    * proven accumulator (merge left-to-right, compound never re-matches
    * as left element because `acc LIKE '%'||chr(30)||l` pins the LAST
    * SYMBOL to equal l). Generated from [[TextAnalysis.DefaultBpeRanks]]
    * itself — oracle and engine share one fixture by construction.
    */
  private def bpeEncodeChainSql(tokExpr: String): String = {
    // the merge symbols are spliced verbatim into SQL string literals and
    // LIKE patterns below: assert the SQL/LIKE-safe alphabet at generation
    // time so a future vocab containing quotes or LIKE metacharacters
    // (%, _) fails HERE, not as a silently corrupted oracle (r12 advice)
    TextAnalysis.DefaultBpeRanks.keys.foreach { pair =>
      require(pair.matches("[a-z0-9]+ [a-z0-9]+"),
        s"BPE merge symbols must be [a-z0-9]+ to splice into oracle SQL: '$pair'")
    }
    TextAnalysis.DefaultBpeRanks.toSeq.sortBy(_._2)
      .foldLeft(s"array_to_string(list_transform(range(1, length($tokExpr) + 1), i -> substr($tokExpr, i, 1)), chr(30))") {
        case (prev, (pair, _)) =>
          val Array(l, r) = pair.split(" ", 2)
          s"""list_reduce(string_split(
             $prev, chr(30)), (acc, x) ->
             CASE WHEN (acc = '$l' OR acc LIKE '%' || chr(30) || '$l')
                    AND x = '$r'
                  THEN acc || '$r' ELSE acc || chr(30) || x END)"""
      }
  }

  private def bpeEncodeCountSql(tokExpr: String): String =
    s"CAST(len(string_split(${bpeEncodeChainSql(tokExpr)}, chr(30))) AS INTEGER)"

  /** Shared CTE block: per-doc REAL BPE token count via [[bpeEncodeCountSql]]
    * on the DISTINCT multi-char pre-tokens (marks and single chars count 1
    * without entering the merge loop — BpeAlgo.countWord(len 1) = 1).
    */
  private def bpeRealCountCtes: String = raw"""
      pre AS MATERIALIZED (
        SELECT doc_id, unnest(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s\x0b\x1e\x1f]')) AS tok
        FROM documents),
      bwords AS (SELECT DISTINCT tok FROM pre WHERE length(tok) >= 2),
      benc AS MATERIALIZED (SELECT tok, ${bpeEncodeCountSql("tok")} AS cnt FROM bwords),
      bcnt AS MATERIALIZED (
        SELECT p.doc_id,
               CAST(SUM(CASE WHEN length(p.tok) = 1 THEN 1 ELSE e.cnt END)
                 AS INTEGER) AS n
        FROM pre p LEFT JOIN benc e ON p.tok = e.tok
        GROUP BY p.doc_id)"""

  /** REAL vocab-driven BPE token counting (graft.functions.BpeTokenCount
    * — the merge-table encode loop, not the regex proxy): per-doc token
    * count under the shipped merges fixture, with the regex-proxy count
    * alongside so the compression the merges buy is visible. Cross-engine
    * oracled since r12: under a FIXED merge table the encode loop is a
    * rank-ordered chain of list_reduce passes ([[bpeEncodeCountSql]]),
    * the same discipline that oracled llm_bpe_train_batched.
    */
  val textTokensBpeReal = QueryDef(
    "llm_text_tokens_bpe_real",
    (s, dir) => documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.bpeTokenCountReal(col("text")).as("n_bpe_real"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_regex"))
      .orderBy("doc_id"),
    Some(raw"""
      WITH $bpeRealCountCtes
      SELECT d.doc_id,
             CAST(coalesce(c.n, 0) AS INTEGER) AS n_bpe_real,
             CAST(len(regexp_extract_all(d.text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s\x0b]')) AS INTEGER)
               AS n_bpe_regex
      FROM documents d LEFT JOIN bcnt c ON d.doc_id = c.doc_id
      ORDER BY d.doc_id"""))

  /** FULL tokenization — the actual BPE token SEQUENCE, not just the
    * count (functions/BpeTokens, sharing BpeAlgo's merge loop): the
    * training-pipeline step that turns text into model input. Output
    * pins the per-doc token count AND the first-40-token head (joined
    * '|'), so the sequence itself is cross-engine proven: the oracle
    * replays the fixed-merge-list chain per DISTINCT pre-token
    * ([[bpeEncodeChainSql]] — the llm_text_tokens_bpe_real discipline,
    * keeping the SYMBOLS instead of their count) and reassembles each
    * document in pre-token order via string_agg(... ORDER BY position).
    */
  val textBpeSequence = QueryDef(
    "llm_text_bpe_sequence",
    (s, dir) => {
      val seq = graft.functions.BpeTokens
        .bpe_tokens(col("text"), TextAnalysis.DefaultBpeRanks)
      val toks = split(seq, "")
      docsPar(s, dir)
        .select(col("doc_id"),
          TextAnalysis.bpeTokenCountReal(col("text")).as("n_bpe_real"),
          concat_ws("|", slice(toks, 1, 40)).as("head_tokens"))
        .orderBy("doc_id")
    },
    Some(raw"""
      WITH pre AS MATERIALIZED (
        SELECT doc_id,
               regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s\x0b\x1e\x1f]') AS toks
        FROM documents),
      pos AS (
        SELECT doc_id, p.i AS i, p.tok AS tok FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
            i -> struct_pack(i := i, tok := toks[i]))) AS p
          FROM pre)),
      words AS (SELECT DISTINCT tok FROM pos WHERE length(tok) >= 2),
      enc AS MATERIALIZED (
        SELECT tok, ${bpeEncodeChainSql("tok")} AS s FROM words),
      seq AS (
        SELECT p.doc_id, p.i,
               CASE WHEN length(p.tok) = 1 THEN p.tok ELSE e.s END AS s
        FROM pos p LEFT JOIN enc e ON p.tok = e.tok),
      agg AS (
        SELECT doc_id, string_agg(s, chr(30) ORDER BY i) AS allsym,
               CAST(SUM(len(string_split(s, chr(30)))) AS INTEGER) AS n
        FROM seq GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(coalesce(a.n, 0) AS INTEGER) AS n_bpe_real,
             coalesce(array_to_string(
               list_slice(string_split(a.allsym, chr(30)), 1, 40), '|'),
               '') AS head_tokens
      FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      ORDER BY d.doc_id"""))

  /** Quality scoring: integer-count-derived ratios in IEEE double —
    * bit-stable, oracle-checked.
    */
  val textQuality = QueryDef(
    "llm_text_quality",
    (s, dir) => documents(s, dir)
      // one staged tokenization feeds every metric — a text-based compose
      // would re-split the document once per metric
      .select(col("doc_id"), TextAnalysis.tokenArray(col("text")).as("__toks"))
      .select(col("doc_id"),
        TextAnalysis.tokenCountFromTokens(col("__toks")).as("n_tokens"),
        TextAnalysis.avgTokenLenFromTokens(col("__toks")).as("avg_token_len"),
        TextAnalysis.stopwordRatioFromTokens(col("__toks")).as("stopword_ratio"),
        TextAnalysis.qualityScoreFromTokens(col("__toks")).as("quality_score"))
      .orderBy("doc_id"),
    Some("""
      WITH t AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(trim(text), '[\s\x0b]+')) END AS n,
          length(regexp_replace(trim(text), '[\s\x0b]+', '', 'g')) AS letters,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(list_filter(regexp_split_to_array(trim(text), '[\s\x0b]+'),
                 x -> x IN ('the','a','an','and','of','to','in'))) END AS stops
        FROM documents)
      SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
        CASE WHEN n = 0 THEN 0.0
             ELSE CAST(letters AS DOUBLE) / CAST(n AS DOUBLE) END AS avg_token_len,
        CASE WHEN n = 0 THEN 0.0
             ELSE CAST(stops AS DOUBLE) / CAST(n AS DOUBLE) END AS stopword_ratio,
        least(1.0, CAST(n AS DOUBLE) / 100.0) * 0.4
          + least(1.0, (CASE WHEN n = 0 THEN 0.0
              ELSE CAST(letters AS DOUBLE) / CAST(n AS DOUBLE) END) / 8.0) * 0.3
          + (1.0 - CASE WHEN n = 0 THEN 0.0
              ELSE CAST(stops AS DOUBLE) / CAST(n AS DOUBLE) END) * 0.3
          AS quality_score
      FROM t ORDER BY doc_id"""))

  /** Language-ID heuristic: stopword voting with deterministic ties. */
  val textLangId = QueryDef(
    "llm_text_langid",
    (s, dir) => documents(s, dir)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokenArray(col("text")).as("__toks"))
      .select(col("doc_id"), col("lang"),
        TextAnalysis.langIdFromTokens(col("__toks")).as("lang_pred"))
      .orderBy("doc_id"),
    Some("""
      WITH t AS (
        SELECT doc_id, lang,
          regexp_split_to_array(trim(text), '[\s\x0b]+') AS toks
        FROM documents),
      scored AS (
        SELECT doc_id, lang,
          len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS s_en,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','nicht'))) AS s_de,
          len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une'))) AS s_fr,
          len(list_filter(toks, x -> x IN ('el','los','las','que','es','un','una'))) AS s_es
        FROM t)
      SELECT doc_id, lang,
        CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
             WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
             WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
             WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
             WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
             ELSE 'und' END AS lang_pred
      FROM scored ORDER BY doc_id"""))

  /** The full one-pass per-document profile (TextAnalysis.profile) as a
    * driver query: every metric a curation pipeline reads per doc, from
    * ONE staged tokenization — the API surface a user actually calls
    * (the component queries above each prove one metric; this proves the
    * fused scan computes them all identically). n_chars here is computed
    * from the text (code points), independent of the table's own column.
    */
  val textProfile = QueryDef(
    "llm_text_profile",
    (s, dir) => TextAnalysis.profile(docsPar(s, dir))
      .orderBy("doc_id"),
    Some("""
      WITH t AS (
        SELECT doc_id, text, length(text) AS n_chars,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(trim(text), '[\s\x0b]+')) END AS n,
          length(regexp_replace(trim(text), '[\s\x0b]+', '', 'g')) AS letters,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(list_filter(regexp_split_to_array(trim(text), '[\s\x0b]+'),
                 x -> x IN ('the','a','an','and','of','to','in'))) END AS stops,
          CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE regexp_split_to_array(trim(text), '[\s\x0b]+') END AS toks
        FROM documents),
      m AS (
        SELECT doc_id, text, n_chars, n, letters, stops,
          len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS s_en,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','nicht'))) AS s_de,
          len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une'))) AS s_fr,
          len(list_filter(toks, x -> x IN ('el','los','las','que','es','un','una'))) AS s_es
        FROM t)
      SELECT doc_id,
        CAST(n AS INTEGER) AS n_tokens,
        CAST(n_chars AS INTEGER) AS n_chars,
        CASE WHEN n = 0 THEN 0.0
             ELSE CAST(letters AS DOUBLE) / CAST(n AS DOUBLE) END AS avg_token_len,
        CASE WHEN n = 0 THEN 0.0
             ELSE CAST(stops AS DOUBLE) / CAST(n AS DOUBLE) END AS stopword_ratio,
        least(1.0, CAST(n AS DOUBLE) / 100.0) * 0.4
          + least(1.0, (CASE WHEN n = 0 THEN 0.0
              ELSE CAST(letters AS DOUBLE) / CAST(n AS DOUBLE) END) / 8.0) * 0.3
          + (1.0 - CASE WHEN n = 0 THEN 0.0
              ELSE CAST(stops AS DOUBLE) / CAST(n AS DOUBLE) END) * 0.3
          AS quality_score,
        CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
             WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
             WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
             WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
             WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
             ELSE 'und' END AS lang_pred,
        md5(text) AS fp_md5
      FROM m ORDER BY doc_id"""))

  /** Document fingerprinting, oracle-stable MD5 flavor. */
  val textFingerprint = QueryDef(
    "llm_text_fingerprint",
    (s, dir) => documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.md5Fingerprint(col("text")).as("fp_md5"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id, md5(text) AS fp_md5
      FROM documents ORDER BY doc_id"""))

  /** Winnowing fingerprints (TextAnalysis.winnowFingerprints — the MOSS
    * local-fingerprinting scheme): min-hash-per-window selection over
    * 4-token-gram md5-fold hashes, rightmost-min tie-break via the packed
    * (hash, pos) BIGINT. Unlike the whole-doc fingerprints above, shared
    * PASSAGES of ≥ gram+window−1 tokens are guaranteed a shared
    * fingerprint at ~1/window the index density of the full gram set —
    * the plagiarism/near-dup index a curation stack actually builds. The
    * md5-fold and the packing are engine-portable integer arithmetic, so
    * this is a full cross-engine row (every selected position and hash
    * hash-matched), not a self-pin. Oracle mirrors the leading-partial-
    * window variant: windows are `ROWS 4 PRECEDING`, all positions.
    */
  val winnowFingerprint = {
    val k = TextAnalysis.WinnowGram
    val w = TextAnalysis.WinnowWindow
    val posF = TextAnalysis.WinnowPosField
    val gramSql = (1 to k).map(j => s"t[i+${j - 1}]").mkString(" || ' ' || ")
    val foldSql = (1 to TextAnalysis.WinnowFoldChars)
      .map(i => s"CAST(ascii(substr(md5(gram), $i, 1)) AS BIGINT) * " +
        s"${math.pow(128, i - 1).toLong}")
      .mkString("\n               + ")
    QueryDef(
      "llm_winnow_fingerprint",
      (s, dir) => TextAnalysis.winnowFingerprints(docsPar(s, dir))
        .orderBy("doc_id", "pos"),
      Some(s"""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '[\\s\\x0b]+') AS t
        FROM documents),
      g AS (
        SELECT doc_id,
               unnest(generate_series(0, len(t) - $k)) AS pos,
               unnest(list_transform(generate_series(1, len(t) - ${k - 1}),
                 i -> $gramSql)) AS gram
        FROM toks WHERE len(t) >= $k),
      h AS (
        SELECT doc_id, pos,
               ($foldSql) AS hv
        FROM g),
      sel AS (
        SELECT doc_id,
               min(hv * $posF + (${posF - 1} - pos)) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS m
        FROM h),
      f AS (SELECT DISTINCT doc_id, m FROM sel)
      SELECT doc_id,
             CAST(${posF - 1} - (m % $posF) AS INTEGER) AS pos,
             m // $posF AS fp
      FROM f ORDER BY doc_id, pos"""))
  }

  /** Rolling-hash fingerprint via the custom Catalyst expression
    * (graft.functions.RollingHash, whole-stage-codegen'd):
    * h = fold over UTF-8 bytes of h·1000003 + byte, wrapping mod 2^64,
    * returned as the signed 64-bit reinterpretation. Long a no-oracle
    * row (the wraparound seemed inexpressible) — but DuckDB's HUGEINT
    * list_reduce expresses the EXACT same fold: bytes come from
    * `lower(to_hex(encode(text)))` two hex chars at a time (to_hex is
    * UPPERCASE — the lowercase lookup silently produced byte 95s until
    * lower()ed, caught by the cross-engine compare during conversion),
    * each step mods by 2^64 in 128-bit arithmetic, and the final value
    * re-biases to signed. A true cross-engine row now; the BigInt
    * differential in `DifferentialOracleSpec` remains as the in-repo
    * third implementation.
    */
  val textRollhash = QueryDef(
    "llm_text_rollhash",
    (s, dir) => documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.rollingFingerprint(col("text")).as("fp_roll"))
      .orderBy("doc_id"),
    Some("""
      WITH h AS (
        SELECT doc_id, list_reduce(
          list_prepend(CAST(0 AS HUGEINT),
            list_transform(generate_series(1, octet_length(encode(text))),
              i -> CAST(strpos('0123456789abcdef',
                     substr(lower(to_hex(encode(text))), 2*i-1, 1)) - 1
                     AS HUGEINT) * 16
                 + CAST(strpos('0123456789abcdef',
                     substr(lower(to_hex(encode(text))), 2*i, 1)) - 1
                     AS HUGEINT))),
          (acc, b) -> (acc * 1000003 + b)
            % CAST('18446744073709551616' AS HUGEINT)) AS hv
        FROM documents)
      SELECT doc_id,
             CASE WHEN hv >= CAST('9223372036854775808' AS HUGEINT)
                  THEN CAST(hv - CAST('18446744073709551616' AS HUGEINT)
                            AS BIGINT)
                  ELSE CAST(hv AS BIGINT) END AS fp_roll
      FROM h ORDER BY doc_id"""))

  /** Multimodal plumbing: binary payload + metadata struct + deterministic
    * feature columns. The decode stub is exercised in unit tests; this
    * query checks the oracle-stable binary path (octet length + MD5 of the
    * payload bytes).
    */
  val multimodalBinary = QueryDef(
    "llm_multimodal_binary",
    (s, dir) => {
      val media = Multimodal.toMediaTable(documents(s, dir))
      media.select(
        col("media_id"),
        octet_length(col("media")).as("media_len"),
        md5(col("media")).as("media_md5"),
        col("meta.format").as("format"),
        col("meta.width").as("width"),
        col("meta.height").as("height"))
        .orderBy("media_id")
    },
    Some("""
      SELECT doc_id AS media_id,
             CAST(octet_length(encode(text)) AS INTEGER) AS media_len,
             md5(text) AS media_md5,
             source AS format,
             CAST(n_chars % 640 AS INTEGER) AS width,
             CAST((n_chars * 7) % 480 AS INTEGER) AS height
      FROM documents ORDER BY media_id"""))

  /** REAL header decode over the binary media column
    * (functions/ImageDims — PNG IHDR, JPEG SOFn marker walk, GIF
    * Logical Screen Descriptor, and all three WebP chunk flavors;
    * public byte-level specs, codegen'd): the honest multimodal rung
    * the declared-fake codec decode left open (r9 verdict #8). The
    * query CONSTRUCTS spec-conformant image headers from document
    * fields (eight shapes per doc_id mod: PNG with IHDR; JPEG with the
    * standard 16-byte JFIF APP0 before SOF0; JPEG with a
    * VARIABLE-length COM segment before a progressive SOF2 — the
    * marker walk actually has to walk; GIF89a with LE u16 screen dims;
    * WebP `VP8 ` lossy whose dims sit behind the RFC 6386 9D 01 2A
    * sync; WebP `VP8L` lossless whose dims are the 14+14-bit
    * minus-one PACKED field — the bit unpack is load-bearing; WebP
    * `VP8X` extended with the u24le canvas pair; and two corrupt
    * shapes — raw text bytes and a WEBP whose first chunk is ALPH, a
    * recognized container with undecodable dims — that must yield
    * NULLs) and parses them back with the expression. The oracle never
    * parses: it computes the expected dimensions ARITHMETICALLY from
    * n_chars, so any endianness/offset/bit-packing slip between
    * construction and parse mismatches immediately; known real-file
    * header bytes are additionally pinned in ImageDimsSpec.
    */
  val multimodalDims = QueryDef(
    "llm_multimodal_dims",
    (s, dir) => {
      import org.apache.spark.sql.Column
      val w = (pmod(col("n_chars"), lit(1000)) + 1).cast(IntegerType)
      val h = (pmod(col("n_chars") * 7, lit(800)) + 1).cast(IntegerType)
      def hx(x: String): Column = unhex(lit(x))
      def be32(c: Column): Column = unhex(lpad(hex(c), 8, "0"))
      def be16(c: Column): Column = unhex(lpad(hex(c), 4, "0"))
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        unhex(concat(substring(x, 3, 2), substring(x, 1, 2)))
      }
      def le24(c: Column): Column = {
        val x = lpad(hex(c), 6, "0")
        unhex(concat(substring(x, 5, 2), substring(x, 3, 2),
          substring(x, 1, 2)))
      }
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        unhex(concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2)))
      }
      val png = concat(hx("89504E470D0A1A0A0000000D49484452"),
        be32(w), be32(h), hx("0806000000"))
      def sof(marker: String): Column =
        concat(hx(marker + "000B08"), be16(h), be16(w), hx("01011100"))
      val jfif = concat(hx("FFD8FFE000104A46494600010100000100010000"),
        sof("FFC0"), hx("FFD9"))
      val com = concat(hx("FFD8FFFE"),
        be16(pmod(col("doc_id"), lit(7)).cast(IntegerType) + 3),
        expr("cast(repeat('x', cast(pmod(doc_id, 7) + 1 as int)) as binary)"),
        sof("FFC2"), hx("FFD9"))
      // GIF89a Logical Screen Descriptor: LE u16 dims + packed/bg/ratio
      val gif = concat(hx("474946383961"), le16(w), le16(h), hx("910000"))
      // VP8 lossy keyframe: 3-byte frame tag, 9D 01 2A sync, 14-bit dims
      val vp8 = concat(hx("52494646"), le32(lit(22)), hx("57454250"),
        hx("56503820"), le32(lit(10)), hx("501600"), hx("9D012A"),
        le16(w), le16(h))
      // VP8L lossless: 0x2F signature, (w-1) | (h-1)<<14 packed LE
      val vp8l = concat(hx("52494646"), le32(lit(17)), hx("57454250"),
        hx("5650384C"), le32(lit(5)), hx("2F"),
        le32((w - 1) + (h - 1) * 16384))
      // VP8X extended: flags + reserved, canvas-minus-one u24le pair
      val vp8x = concat(hx("52494646"), le32(lit(22)), hx("57454250"),
        hx("56503858"), le32(lit(10)), hx("00000000"),
        le24(w - 1), le24(h - 1))
      val media = when(pmod(col("doc_id"), lit(8)) === 0, png)
        .when(pmod(col("doc_id"), lit(8)) === 1, jfif)
        .when(pmod(col("doc_id"), lit(8)) === 2, com)
        .when(pmod(col("doc_id"), lit(8)) === 3, gif)
        .when(pmod(col("doc_id"), lit(8)) === 4, vp8)
        .when(pmod(col("doc_id"), lit(8)) === 5, vp8l)
        .when(pmod(col("doc_id"), lit(8)) === 6, vp8x)
        .when(pmod(col("doc_id"), lit(16)) === 7,
          substring(col("text"), 1, 16).cast(BinaryType))
        // a WEBP whose first chunk is not a VP8 flavor: recognized
        // container, undecodable dims → NULL
        .otherwise(concat(hx("52494646"), le32(lit(16)), hx("57454250"),
          hx("414C5048"), le32(lit(4)), hx("00000000")))
      documents(s, dir)
        .select(col("doc_id").as("media_id"),
          graft.functions.ImageDims.image_dims(media).as("__d"))
        .select(col("media_id"), col("__d.format").as("format"),
          col("__d.width").as("width"), col("__d.height").as("height"))
        .orderBy("media_id")
    },
    Some("""
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 16 IN (7, 15) THEN NULL
                  WHEN doc_id % 8 = 0 THEN 'png'
                  WHEN doc_id % 8 IN (1, 2) THEN 'jpeg'
                  WHEN doc_id % 8 = 3 THEN 'gif'
                  ELSE 'webp' END AS format,
             CASE WHEN doc_id % 16 IN (7, 15) THEN NULL
                  ELSE CAST(n_chars % 1000 + 1 AS INTEGER) END AS width,
             CASE WHEN doc_id % 16 IN (7, 15) THEN NULL
                  ELSE CAST((n_chars * 7) % 800 + 1 AS INTEGER) END AS height
      FROM documents ORDER BY media_id"""))

  /** REAL audio-header decode over the binary media column
    * (functions/AudioMeta — RIFF/WAVE chunk walk per the public 1991
    * Microsoft/IBM spec + RFC 2361, codegen'd): the audio sibling of
    * llm_multimodal_dims under the same discipline; round 11 added the
    * FLAC arm (`fLaC` magic + mandatory-first STREAMINFO per RFC 9639,
    * its 20/3/5/36-bit big-endian packing constructed as one 64-bit
    * value in column arithmetic). The query CONSTRUCTS spec-conformant
    * headers from document fields (shapes per
    * doc_id mod: canonical 44-byte PCM alternating with FLAC
    * STREAMINFO; IEEE-float with an 18-byte fmt
    * body and a JUNK chunk before it — the walk must walk; a compressed
    * codec tag behind an ODD-sized chunk — the walk must apply RIFF even
    * padding, and frames must come back NULL because block align is a
    * codec block size there; and two corrupt shapes — raw text bytes and
    * a RIFF whose form type is AVI — that must yield whole-struct NULLs)
    * and parses them back with the expression. Headers only, no payload:
    * the parser derives frames from the DECLARED data size, the
    * ffprobe-style prefix read that makes this viable at 100 TB. The
    * oracle never parses — it recomputes every field ARITHMETICALLY from
    * doc_id/n_chars, so any endianness/offset slip between construction
    * and parse mismatches immediately; hand-written real WAV header
    * bytes are additionally pinned in AudioMetaSpec.
    */
  val multimodalAudio = QueryDef(
    "llm_multimodal_audio",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def hx(x: String): Column = unhex(lit(x))
      def le16(c: Column): Column = {
        val h = lpad(hex(c), 4, "0")
        unhex(concat(substring(h, 3, 2), substring(h, 1, 2)))
      }
      def le32(c: Column): Column = {
        val h = lpad(hex(c), 8, "0")
        unhex(concat(substring(h, 7, 2), substring(h, 5, 2),
          substring(h, 3, 2), substring(h, 1, 2)))
      }
      val ch0 = pmod(col("doc_id"), lit(2)) + 1
      val rate0 = pmod(col("n_chars"), lit(40000)) + 8000
      val align0 = ch0 * 2
      val data0 = (pmod(col("n_chars"), lit(500)) + 1) * align0
      val pcm = concat(hx("52494646"), le32(data0 + 36), hx("57415645"),
        hx("666D742010000000" + "0100"), le16(ch0), le32(rate0),
        le32(rate0 * align0), le16(align0), hx("1000"),
        hx("64617461"), le32(data0))
      val rate1 = pmod(col("n_chars"), lit(60000)) + 8000
      val data1 = (pmod(col("n_chars"), lit(300)) + 1) * 8
      val flt = concat(hx("52494646"), le32(data1 + 50), hx("57415645"),
        hx("4A554E4B04000000DEADBEEF"),
        hx("666D742012000000" + "0300" + "0200"), le32(rate1),
        le32(rate1 * 8), hx("0800" + "2000" + "0000"),
        hx("64617461"), le32(data1))
      val rate2 = pmod(col("n_chars"), lit(20000)) + 4000
      val data2 = pmod(col("n_chars"), lit(1000)) + 1
      val adpcm = concat(hx("52494646"), le32(data2 + 40), hx("57415645"),
        hx("434F4D4D030000004142430A"), // 3-byte chunk + RIFF even pad
        hx("666D742010000000" + "1100" + "0100"), le32(rate2),
        le32(rate2), hx("0001" + "0400"),
        hx("64617461"), le32(data2))
      // FLAC STREAMINFO: rate(20b) | ch-1(3b) | bits-1(5b) | total(36b)
      // packed big-endian as one 64-bit value -> 16 hex digits
      val chF = pmod(col("doc_id"), lit(3)) + 1
      val rateF = pmod(col("n_chars"), lit(40000)) + 8000
      val bitsF = pmod(col("n_chars"), lit(2)) * 8 + 16
      val totalF = pmod(col("n_chars") * 7 + col("doc_id"), lit(100000)) + 1
      val flacPacked = lpad(hex(
        rateF.cast(LongType) * lit(17592186044416L) +
          (chF - 1).cast(LongType) * lit(2199023255552L) +
          (bitsF - 1).cast(LongType) * lit(68719476736L) +
          totalF.cast(LongType)), 16, "0")
      val flac = concat(hx("664C6143"), hx("80000022"),
        hx("10001000" + "000000" + "000000"), unhex(flacPacked),
        hx("00" * 16))
      val media = when(pmod(col("doc_id"), lit(8)) === 0, pcm)
        .when(pmod(col("doc_id"), lit(8)) === 4, flac)
        .when(pmod(col("doc_id"), lit(4)) === 1, flt)
        .when(pmod(col("doc_id"), lit(4)) === 2, adpcm)
        .when(pmod(col("doc_id"), lit(8)) === 3,
          substring(col("text"), 1, 16).cast(BinaryType))
        .otherwise(concat(hx("52494646"), le32(lit(36)), hx("41564920")))
      documents(s, dir)
        .select(col("doc_id").as("media_id"),
          graft.functions.AudioMeta.audio_meta(media).as("__m"))
        .select(col("media_id"), col("__m.codec").as("codec"),
          col("__m.channels").as("channels"),
          col("__m.sample_rate").as("sample_rate"),
          col("__m.bits").as("bits"), col("__m.n_frames").as("n_frames"))
        .orderBy("media_id")
    },
    Some("""
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 8 IN (3, 7) THEN NULL
                  WHEN doc_id % 8 = 0 THEN 'pcm'
                  WHEN doc_id % 8 = 4 THEN 'flac'
                  WHEN doc_id % 4 = 1 THEN 'float'
                  ELSE 'other' END AS codec,
             CASE WHEN doc_id % 8 IN (3, 7) THEN NULL
                  WHEN doc_id % 8 = 0 THEN CAST(doc_id % 2 + 1 AS INTEGER)
                  WHEN doc_id % 8 = 4 THEN CAST(doc_id % 3 + 1 AS INTEGER)
                  WHEN doc_id % 4 = 1 THEN CAST(2 AS INTEGER)
                  ELSE CAST(1 AS INTEGER) END AS channels,
             CASE WHEN doc_id % 8 IN (3, 7) THEN NULL
                  WHEN doc_id % 4 = 0
                    THEN CAST(n_chars % 40000 + 8000 AS INTEGER)
                  WHEN doc_id % 4 = 1
                    THEN CAST(n_chars % 60000 + 8000 AS INTEGER)
                  ELSE CAST(n_chars % 20000 + 4000 AS INTEGER)
                  END AS sample_rate,
             CASE WHEN doc_id % 8 IN (3, 7) THEN NULL
                  WHEN doc_id % 8 = 0 THEN CAST(16 AS INTEGER)
                  WHEN doc_id % 8 = 4
                    THEN CAST(n_chars % 2 * 8 + 16 AS INTEGER)
                  WHEN doc_id % 4 = 1 THEN CAST(32 AS INTEGER)
                  ELSE CAST(4 AS INTEGER) END AS bits,
             CASE WHEN doc_id % 8 IN (3, 7) OR doc_id % 4 = 2 THEN NULL
                  WHEN doc_id % 8 = 0 THEN CAST(n_chars % 500 + 1 AS BIGINT)
                  WHEN doc_id % 8 = 4
                    THEN CAST((n_chars * 7 + doc_id) % 100000 + 1 AS BIGINT)
                  ELSE CAST(n_chars % 300 + 1 AS BIGINT) END AS n_frames
      FROM documents ORDER BY media_id"""))

  /** REAL video-container header decode over the binary media column
    * (functions/VideoMeta — ISO/IEC 14496-12 box walk, codegen'd): the
    * video rung completing the dims/audio triad under the same
    * discipline. The query CONSTRUCTS spec-conformant MP4 headers from
    * document fields (four shapes per doc_id mod: ftyp + moov with a
    * version-0 mvhd; ftyp + free + a moov carried in a 64-bit LARGESIZE
    * header whose version-1 mvhd holds a duration above 2^32 — the u64
    * read is load-bearing — with mvhd NOT the first child; a size==0
    * to-end-of-file moov whose mvhd carries the all-ones UNKNOWN-duration
    * sentinel that must surface as NULL duration beside non-NULL
    * timescale/tracks; and two corrupt shapes — raw text bytes and moov
    * before any ftyp — that must yield whole-struct NULLs) and parses
    * them back with the expression. Headers only: mdat never exists, the
    * ffprobe-style prefix read that makes this viable at 100 TB. The
    * oracle never parses — it recomputes every field ARITHMETICALLY from
    * doc_id/n_chars; hand-written real ISO-BMFF bytes are additionally
    * pinned in VideoMetaSpec.
    */
  val multimodalVideo = QueryDef(
    "llm_multimodal_video",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def hx(x: String): Column = unhex(lit(x))
      def be32(c: Column): Column = unhex(lpad(hex(c), 8, "0"))
      def be64(c: Column): Column = unhex(lpad(hex(c), 16, "0"))
      // rate/volume/reserved/unity-matrix/next-track tail shared by both
      // mvhd versions (80 bytes; the parser reads none of it, but the
      // declared box sizes must be REAL for the sibling walk to land on
      // the trak boxes)
      val tail80 = "0001000001000000" + "00" * 8 +
        "000100000000000000000000" + "000000000001000000000000" +
        "000000000000000040000000" + "00" * 24 + "00000002"
      val trak = "000000107472616B" + "00" * 8
      val ts0 = pmod(col("n_chars"), lit(48000)) + 600
      val dur0 = pmod(col("n_chars"), lit(100000)) + 1
      val mp4v0 = concat(
        hx("0000001466747970" + "69736F6D" + "00000000" + "69736F6D"),
        hx("000000846D6F6F76"), // moov: 8 + mvhd 108 + trak 16
        hx("0000006C6D766864" + "00" * 12), be32(ts0), be32(dur0),
        hx(tail80 + trak))
      val dur1 = pmod(col("n_chars") * 7, lit(1000000)).cast(LongType) +
        4294967296L // above 2^32: the v1 u64 duration field is load-bearing
      val mp4v1 = concat(
        hx("0000001466747970" + "6D703432" + "00000001" + "6D703432"),
        hx("0000000C66726565DEADBEEF"),
        // moov via 64-bit largesize: hdr 16 + udta 12 + mvhd 120 + 2 traks
        hx("000000016D6F6F76" + "00000000000000B4"),
        hx("0000000C75647461" + "00" * 4),
        hx("000000786D766864" + "01000000" + "00" * 16 + "00015F90"),
        be64(dur1), hx(tail80 + trak + trak))
      val ts2 = pmod(col("n_chars"), lit(1000)) + 1
      val mp4unk = concat(
        hx("0000001466747970" + "33677034" + "00000000" + "33677034"),
        hx("000000006D6F6F76"), // size==0: moov extends to end of file
        hx("0000006C6D766864" + "00" * 12), be32(ts2),
        hx("FFFFFFFF" + tail80 + trak + trak + trak))
      val media = when(pmod(col("doc_id"), lit(4)) === 0, mp4v0)
        .when(pmod(col("doc_id"), lit(4)) === 1, mp4v1)
        .when(pmod(col("doc_id"), lit(4)) === 2, mp4unk)
        .when(pmod(col("doc_id"), lit(8)) === 3,
          substring(col("text"), 1, 16).cast(BinaryType))
        .otherwise(hx("000000086D6F6F76" +
          "0000001466747970" + "69736F6D" + "00000000" + "69736F6D"))
      documents(s, dir)
        .select(col("doc_id").as("media_id"),
          graft.functions.VideoMeta.video_meta(media).as("__m"))
        .select(col("media_id"), col("__m.brand").as("brand"),
          col("__m.timescale").as("timescale"),
          col("__m.duration").as("duration"),
          col("__m.n_tracks").as("n_tracks"))
        .orderBy("media_id")
    },
    Some("""
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 8 IN (3, 7) THEN NULL
                  WHEN doc_id % 4 = 0 THEN 'isom'
                  WHEN doc_id % 4 = 1 THEN 'mp42'
                  ELSE '3gp4' END AS brand,
             CASE WHEN doc_id % 8 IN (3, 7) THEN NULL
                  WHEN doc_id % 4 = 0
                    THEN CAST(n_chars % 48000 + 600 AS INTEGER)
                  WHEN doc_id % 4 = 1 THEN CAST(90000 AS INTEGER)
                  ELSE CAST(n_chars % 1000 + 1 AS INTEGER)
                  END AS timescale,
             CASE WHEN doc_id % 8 IN (3, 7) OR doc_id % 4 = 2 THEN NULL
                  WHEN doc_id % 4 = 0 THEN CAST(n_chars % 100000 + 1 AS BIGINT)
                  ELSE CAST((n_chars * 7) % 1000000 + 4294967296 AS BIGINT)
                  END AS duration,
             CASE WHEN doc_id % 8 IN (3, 7) THEN NULL
                  WHEN doc_id % 4 = 0 THEN CAST(1 AS INTEGER)
                  WHEN doc_id % 4 = 1 THEN CAST(2 AS INTEGER)
                  ELSE CAST(3 AS INTEGER) END AS n_tracks
      FROM documents ORDER BY media_id"""))

  /** WebM/Matroska (EBML) header decode over the binary media column
    * (functions/VideoMeta's RFC 8794 branch, round 16): the streaming-era
    * container joining the MP4 rung under the same discipline. The query
    * CONSTRUCTS spec-conformant EBML from document fields (lanes per
    * doc_id mod: a webm with an explicit 1e6 TimestampScale, a FLOAT32
    * Duration built by column arithmetic on the IEEE 754 bit layout
    * (values pinned to [2^16, 2^17) so the exponent is constant and the
    * mantissa is a shift — exact by construction), and doc_id%3+1
    * TrackEntries; a matroska with an UNKNOWN-SIZE Segment, the default
    * TimestampScale (element absent), a FLOAT64 Duration, a Void element
    * the walk must skip, and an unknown-size Cluster + garbage the walk
    * must stop at; a webm at a 1 ns scale with Duration/Tracks absent
    * (NULL duration, 0 tracks beside live fields); a TimestampScale of 3
    * — outside the integer ticks-per-second contract — and raw text that
    * must yield whole-struct NULLs). The oracle never parses — it
    * recomputes every field ARITHMETICALLY from doc_id/n_chars;
    * hand-written EBML bytes are additionally pinned in VideoMetaSpec.
    */
  val multimodalVideoWebm = QueryDef(
    "llm_multimodal_video_webm",
    (s, dir) => {
      import org.apache.spark.sql.Column
      val hdrWebm = "1A45DFA387" + "4282847765626D"
      val hdrMkv = "1A45DFA38B" + "4282886D6174726F736B61"
      val trackE = "AE83D78101"
      val d = pmod(col("n_chars"), lit(60000)) + 65536
      // IEEE 754 by column arithmetic: exponent fixed at 2^16, mantissa
      // is (d - 65536) shifted into place — exact for integers < 2^17
      val f32 = lpad(hex(lit(0x47800000L) + (d - 65536) * 128L), 8, "0")
      val f64 = lpad(hex(lit(0x40F0000000000000L) +
        (d - 65536).cast(LongType) * lit(68719476736L)), 16, "0")
      val k = pmod(col("doc_id"), lit(3)) + 1
      val lane0 = concat(lit(hdrWebm + "18538067"),
        lpad(hex(lit(128 + 24) + k * 5), 2, "0"),
        lit("1549A9668E" + "2AD7B1830F4240" + "448984"), f32,
        lit("1654AE6B"), lpad(hex(lit(128) + k * 5), 2, "0"),
        expr(s"repeat('$trackE', __k)"))
      val lane1 = concat(lit(hdrMkv + "18538067" + "01FFFFFFFFFFFFFF" +
        "EC820000" + "1549A9668B" + "448988"), f64,
        lit("1654AE6B8A" + trackE + trackE +
          "1F43B675" + "01FFFFFFFFFFFFFF" + "DEADBEEF"))
      val lane2 = lit(hdrWebm + "185380678D" + "1549A96688" +
        "2AD7B1843B9ACA00")
      val lane6 = lit(hdrWebm + "185380678A" + "1549A96685" + "2AD7B18103")
      val m = pmod(col("doc_id"), lit(4))
      val blob = when(m === 0, unhex(lane0))
        .when(m === 1, unhex(lane1))
        .when(pmod(col("doc_id"), lit(8)) === 2, unhex(lane2))
        .when(pmod(col("doc_id"), lit(8)) === 6, unhex(lane6))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      documents(s, dir)
        .withColumn("__k", k)
        .select(col("doc_id").as("media_id"),
          graft.functions.VideoMeta.video_meta(blob).as("__m"))
        .select(col("media_id"), col("__m.brand").as("brand"),
          col("__m.timescale").as("timescale"),
          col("__m.duration").as("duration"),
          col("__m.n_tracks").as("n_tracks"))
        .orderBy("media_id")
    },
    Some("""
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 8 IN (3, 6, 7) THEN NULL
                  WHEN doc_id % 4 = 1 THEN 'matroska'
                  ELSE 'webm' END AS brand,
             CASE WHEN doc_id % 8 IN (3, 6, 7) THEN NULL
                  WHEN doc_id % 8 = 2 THEN CAST(1 AS INTEGER)
                  ELSE CAST(1000 AS INTEGER) END AS timescale,
             CASE WHEN doc_id % 4 IN (0, 1) AND doc_id % 8 NOT IN (3, 7)
                    THEN CAST(n_chars % 60000 + 65536 AS BIGINT)
                  ELSE NULL END AS duration,
             CASE WHEN doc_id % 8 IN (3, 6, 7) THEN NULL
                  WHEN doc_id % 4 = 0 THEN CAST(doc_id % 3 + 1 AS INTEGER)
                  WHEN doc_id % 4 = 1 THEN CAST(2 AS INTEGER)
                  ELSE CAST(0 AS INTEGER) END AS n_tracks
      FROM documents ORDER BY media_id"""))

  /** MP3 header decode over the binary media column (functions/AudioMeta's
    * MPEG-1/2/2.5 Layer III branch, round 16 — ISO/IEC 11172-3 / 13818-3
    * frame headers, ID3v2 syncsafe skip, Xing/Info VBR tags): the
    * dominant real-world audio format joining the WAV/FLAC rung under
    * the same discipline. The query CONSTRUCTS spec-conformant MP3 files
    * from document fields (lanes per doc_id mod: a CBR MPEG-1 stereo
    * 128 kbps file of N whole 417-byte frames plus trailing junk — the
    * fixed-frame-size estimate must floor through the junk like ffprobe;
    * an ID3v2-prefixed MPEG-2 mono file whose Xing tag carries the VBR
    * frame count — the syncsafe skip, the 9-byte MPEG-2-mono side-info
    * offset and the big-endian FRAMES field are all load-bearing; a
    * free-format header where metadata parses but frames must be NULL;
    * a reserved sample-rate index and raw text that must yield
    * whole-struct NULLs) and parses them back with the expression.
    * Headers + zero-fill payloads only. The oracle never parses — it
    * recomputes every field ARITHMETICALLY from doc_id/n_chars;
    * hand-computed real frame math is additionally pinned in
    * AudioMetaSpec.
    */
  val multimodalAudioMp3 = QueryDef(
    "llm_multimodal_audio_mp3",
    (s, dir) => {
      import org.apache.spark.sql.Column
      // CBR MPEG-1 Layer III 44.1 kHz stereo 128 kbps: frame size
      // floor(144*128000/44100) = 417 bytes (header + 413 pad bytes)
      val cbrFrameHex = "FFFB9000" + "55" * 413
      // ID3v2.4 header, no footer, syncsafe size 10 + 10-byte body
      val id3Hex = "49443304" + "0000" + "0000000A" + "00" * 10
      val base = documents(s, dir)
        .withColumn("__nf", pmod(col("n_chars"), lit(20)) + 1)
        .withColumn("__vbr", pmod(col("n_chars"), lit(90000)) + 1)
      val cbr = concat(expr(s"repeat('$cbrFrameHex', __nf)"), lit("202020"))
      // MPEG-2 mono 22.05 kHz 64 kbps: frame size floor(72*64000/22050)
      // = 208; side info 9 bytes; Xing flags=1 + BE32 frame count
      val xing = concat(lit(id3Hex),
        lit("FFF380C0" + "00" * 9 + "58696E67" + "00000001"),
        lpad(hex(col("__vbr")), 8, "0"),
        lit("00" * (208 - 4 - 9 - 12)))
      val freeFmt = lit("FFFB0000" + "00" * 16)
      val badRate = lit("FFFB9C00" + "00" * 500)
      val m = pmod(col("doc_id"), lit(4))
      val media = when(m === 0, unhex(cbr))
        .when(m === 1, unhex(xing))
        .when(pmod(col("doc_id"), lit(8)) === 2, unhex(freeFmt))
        .when(pmod(col("doc_id"), lit(8)) === 6, unhex(badRate))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      base
        .select(col("doc_id").as("media_id"),
          graft.functions.AudioMeta.audio_meta(media).as("__m"))
        .select(col("media_id"), col("__m.codec").as("codec"),
          col("__m.channels").as("channels"),
          col("__m.sample_rate").as("sample_rate"),
          col("__m.bits").as("bits"), col("__m.n_frames").as("n_frames"))
        .orderBy("media_id")
    },
    Some("""
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 8 IN (3, 6, 7) THEN NULL
                  ELSE 'mp3' END AS codec,
             CASE WHEN doc_id % 8 IN (3, 6, 7) THEN NULL
                  WHEN doc_id % 4 = 1 THEN CAST(1 AS INTEGER)
                  ELSE CAST(2 AS INTEGER) END AS channels,
             CASE WHEN doc_id % 8 IN (3, 6, 7) THEN NULL
                  WHEN doc_id % 4 = 1 THEN CAST(22050 AS INTEGER)
                  ELSE CAST(44100 AS INTEGER) END AS sample_rate,
             CAST(NULL AS INTEGER) AS bits,
             CASE WHEN doc_id % 4 = 0
                    THEN CAST((n_chars % 20 + 1) * 1152 AS BIGINT)
                  WHEN doc_id % 4 = 1
                    THEN CAST((n_chars % 90000 + 1) * 576 AS BIGINT)
                  ELSE NULL END AS n_frames
      FROM documents ORDER BY media_id"""))

  /** RFC 3986 URL normalization over a synthetic crawl column
    * (functions/UrlNormalize — syntax-based §6.2.2 + http scheme-based
    * §6.2.3 rules, codegen'd): the crawl-curation rung of the header-
    * parser family. The query CONSTRUCTS six URL shapes from document
    * fields (upper-case scheme/host with default port, dot-segments and
    * a fragment; a non-default port with unreserved escapes %7E/%41
    * that must DECODE; a no-path URL whose query carries a reserved
    * escape %2c that must case-fold to %2C and an unreserved %7e that
    * must decode; and three out-of-scope/corrupt shapes — an ftp
    * scheme, a non-digit port, and a userinfo + empty-port + above-root
    * "/a/../..//x" traversal that must clamp at root while PRESERVING
    * the empty segment) and parses them back with the expression. The
    * oracle never parses — it recomputes every field arithmetically
    * from doc_id/n_chars; hand-written RFC-example URLs are additionally
    * pinned in UrlNormalizeSpec.
    */
  val urlNormalize = QueryDef(
    "llm_url_normalize",
    (s, dir) => {
      val d50 = pmod(col("doc_id"), lit(50)).cast(StringType)
      val d20 = pmod(col("doc_id"), lit(20)).cast(StringType)
      val d5 = pmod(col("doc_id"), lit(5)).cast(StringType)
      val d7 = pmod(col("doc_id"), lit(7)).cast(StringType)
      val n = col("n_chars").cast(StringType)
      val raw = when(pmod(col("doc_id"), lit(6)) === 0,
          concat(lit("HTTP://WWW.Site"), d50, lit(".Example.COM:80/a/b/../c/./page"),
            n, lit(".html?id="), n, lit("#sec")))
        .when(pmod(col("doc_id"), lit(6)) === 1,
          concat(lit("https://cdn"), d20, lit(".example.org:8443/%7Edocs/%41sset/"), n))
        .when(pmod(col("doc_id"), lit(6)) === 2,
          concat(lit("HTTPS://MIRROR.Example.NET?q=%2c"), n, lit("&x=%7e")))
        .when(pmod(col("doc_id"), lit(6)) === 3,
          concat(lit("ftp://files.example.com/"), n))
        .when(pmod(col("doc_id"), lit(6)) === 4,
          concat(lit("http://h"), d5, lit(".example.com:9x"), n))
        .otherwise(
          concat(lit("http://user"), d5, lit("@site.example.io:/a/../..//x?from="), d7))
      documents(s, dir)
        .select(col("doc_id").as("url_id"),
          graft.functions.UrlNormalize.url_normalize(raw).as("__u"))
        .select(col("url_id"), col("__u.scheme").as("scheme"),
          col("__u.host").as("host"), col("__u.port").as("port"),
          col("__u.path").as("path"), col("__u.query").as("url_query"),
          col("__u.url").as("url"))
        .orderBy("url_id")
    },
    Some("""
      SELECT doc_id AS url_id,
             CASE WHEN doc_id % 6 IN (3, 4) THEN NULL
                  WHEN doc_id % 6 IN (1, 2) THEN 'https'
                  ELSE 'http' END AS scheme,
             CASE WHEN doc_id % 6 IN (3, 4) THEN NULL
                  WHEN doc_id % 6 = 0
                    THEN 'www.site' || CAST(doc_id % 50 AS VARCHAR) || '.example.com'
                  WHEN doc_id % 6 = 1
                    THEN 'cdn' || CAST(doc_id % 20 AS VARCHAR) || '.example.org'
                  WHEN doc_id % 6 = 2 THEN 'mirror.example.net'
                  ELSE 'site.example.io' END AS host,
             CASE WHEN doc_id % 6 IN (3, 4) THEN NULL
                  WHEN doc_id % 6 = 1 THEN CAST(8443 AS INTEGER)
                  WHEN doc_id % 6 = 2 THEN CAST(443 AS INTEGER)
                  ELSE CAST(80 AS INTEGER) END AS port,
             CASE WHEN doc_id % 6 IN (3, 4) THEN NULL
                  WHEN doc_id % 6 = 0
                    THEN '/a/c/page' || CAST(n_chars AS VARCHAR) || '.html'
                  WHEN doc_id % 6 = 1
                    THEN '/~docs/Asset/' || CAST(n_chars AS VARCHAR)
                  WHEN doc_id % 6 = 2 THEN '/'
                  ELSE '//x' END AS path,
             CASE WHEN doc_id % 6 = 0 THEN 'id=' || CAST(n_chars AS VARCHAR)
                  WHEN doc_id % 6 = 2
                    THEN 'q=%2C' || CAST(n_chars AS VARCHAR) || '&x=~'
                  WHEN doc_id % 6 = 5 THEN 'from=' || CAST(doc_id % 7 AS VARCHAR)
                  ELSE NULL END AS url_query,
             CASE WHEN doc_id % 6 IN (3, 4) THEN NULL
                  WHEN doc_id % 6 = 0
                    THEN 'http://www.site' || CAST(doc_id % 50 AS VARCHAR) ||
                         '.example.com/a/c/page' || CAST(n_chars AS VARCHAR) ||
                         '.html?id=' || CAST(n_chars AS VARCHAR)
                  WHEN doc_id % 6 = 1
                    THEN 'https://cdn' || CAST(doc_id % 20 AS VARCHAR) ||
                         '.example.org:8443/~docs/Asset/' || CAST(n_chars AS VARCHAR)
                  WHEN doc_id % 6 = 2
                    THEN 'https://mirror.example.net/?q=%2C' ||
                         CAST(n_chars AS VARCHAR) || '&x=~'
                  ELSE 'http://user' || CAST(doc_id % 5 AS VARCHAR) ||
                       '@site.example.io//x?from=' || CAST(doc_id % 7 AS VARCHAR)
                  END AS url
      FROM documents ORDER BY url_id"""))

  /** Crawl dedup BY CANONICAL URL — the operation UrlNormalize exists
    * for. Three raw spellings of the same logical resource (mixed-case
    * host with an explicit default port and a "/./" segment; a
    * "extra/../" detour plus a fragment; the clean form) collapse to one
    * canonical key, and the dedup shuffles ONLY that key: at 100 TB the
    * parse fuses into the scan (map-only codegen) and the groupBy is an
    * ordinary hash aggregate on the canonical string — partial map-side
    * combine applies, no pairwise comparison anywhere. The oracle
    * recomputes the canonical URL arithmetically per doc and groups the
    * same way.
    */
  val crawlDedup = QueryDef(
    "llm_crawl_dedup",
    (s, dir) => {
      val g = pmod(col("doc_id"), lit(211)).cast(StringType)
      val m = pmod(pmod(col("doc_id"), lit(211)) * 7, lit(1000)).cast(StringType)
      val raw = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("http://www.archive"), g, lit(".example.com/items/"), m, lit("/")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("HTTP://WWW.ARCHIVE"), g, lit(".EXAMPLE.COM:80/items/./"), m, lit("/")))
        .otherwise(
          concat(lit("http://www.archive"), g, lit(".example.com/items/extra/../"), m, lit("/#top")))
      documents(s, dir)
        .select(col("doc_id"),
          graft.functions.UrlNormalize.url_normalize(raw).getField("url").as("url"))
        .groupBy("url")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .orderBy("url")
    },
    Some("""
      SELECT 'http://www.archive' || CAST(doc_id % 211 AS VARCHAR) ||
             '.example.com/items/' || CAST((doc_id % 211) * 7 % 1000 AS VARCHAR) ||
             '/' AS url,
             COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
      FROM documents GROUP BY 1 ORDER BY url"""))

  /** REAL pixel decode over the binary media column
    * (functions/BmpPixels — uncompressed 24-bit BMP per the public
    * BITMAPFILEHEADER/BITMAPINFOHEADER layout, codegen'd): the rung
    * PAST the header-parse triad — this one decodes the payload,
    * returning exact per-channel pixel sums. BMP is the mainstream
    * format whose pixels need no codec, so the declared-fake line
    * retreats to genuinely codec-bound formats only. The query
    * CONSTRUCTS five shapes from document fields (valid bottom-up;
    * valid TOP-DOWN via a negative two's-complement height — sums are
    * orientation-free so both must agree with the same arithmetic; an
    * 8-bpp and an RLE-compressed header that must yield NULL; and a
    * truncated pixel array / raw text). Width runs 1..3 so every row
    * exercises a DIFFERENT 4-byte padding width (pad = w bytes exactly
    * when w ≤ 3, making stride = 4w); a stride slip reads 0x00 padding
    * into some channel and the sums diverge. The oracle recomputes
    * sums arithmetically (uniform pixels: sum = n_px · channel);
    * non-uniform hand-written BMPs are pinned in BmpPixelsSpec.
    */
  val multimodalPixels = QueryDef(
    "llm_multimodal_pixels",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def hx(x: String): Column = unhex(lit(x))
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        unhex(concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2)))
      }
      val w = (pmod(col("doc_id"), lit(3)) + 1).cast(IntegerType)
      val h = (pmod(col("n_chars"), lit(4)) + 1).cast(IntegerType)
      val pxHex = concat(
        lpad(hex(pmod(col("n_chars"), lit(256))), 2, "0"),   // B
        lpad(hex(pmod(col("doc_id"), lit(256))), 2, "0"),    // G
        lpad(hex(pmod(col("n_chars") * 7, lit(256))), 2, "0")) // R
      val base = documents(s, dir)
        .withColumn("__w", w).withColumn("__h", h)
        .withColumn("__px", pxHex)
        .withColumn("__rowhex",
          concat(expr("repeat(__px, __w)"), expr("repeat('00', __w)")))
      def bmp(heightField: Column, bpp: String, comp: String,
          pixRows: Column): Column = concat(
        hx("424D"), le32(col("__w") * 4 * col("__h") + 54), hx("00000000"),
        hx("36000000"), hx("28000000"), le32(col("__w")), heightField,
        hx("0100"), hx(bpp), hx(comp), le32(col("__w") * 4 * col("__h")),
        hx("00" * 16), unhex(pixRows))
      val rowsAll = expr("repeat(__rowhex, __h)")
      val rowsTrunc = expr("repeat(__rowhex, __h - 1)")
      val media = when(pmod(col("doc_id"), lit(5)) === 0,
          bmp(le32(col("__h")), "1800", "00000000", rowsAll))
        .when(pmod(col("doc_id"), lit(5)) === 1, // top-down: negative height
          bmp(le32(lit(4294967296L) - col("__h")), "1800", "00000000", rowsAll))
        .when(pmod(col("doc_id"), lit(5)) === 2,
          bmp(le32(col("__h")), "0800", "00000000", rowsAll))
        .when(pmod(col("doc_id"), lit(5)) === 3,
          bmp(le32(col("__h")), "1800", "01000000", rowsAll))
        .when(pmod(col("doc_id"), lit(10)) === 4,
          bmp(le32(col("__h")), "1800", "00000000", rowsTrunc))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      base
        .select(col("doc_id").as("media_id"),
          graft.functions.BmpPixels.bmp_pixels(media).as("__p"))
        .select(col("media_id"), col("__p.width").as("width"),
          col("__p.height").as("height"), col("__p.n_px").as("n_px"),
          col("__p.sum_r").as("sum_r"), col("__p.sum_g").as("sum_g"),
          col("__p.sum_b").as("sum_b"))
        .orderBy("media_id")
    },
    Some("""
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 5 >= 2 THEN NULL
                  ELSE CAST(doc_id % 3 + 1 AS INTEGER) END AS width,
             CASE WHEN doc_id % 5 >= 2 THEN NULL
                  ELSE CAST(n_chars % 4 + 1 AS INTEGER) END AS height,
             CASE WHEN doc_id % 5 >= 2 THEN NULL
                  ELSE CAST((doc_id % 3 + 1) * (n_chars % 4 + 1) AS BIGINT)
                  END AS n_px,
             CASE WHEN doc_id % 5 >= 2 THEN NULL
                  ELSE CAST((doc_id % 3 + 1) * (n_chars % 4 + 1)
                            * ((n_chars * 7) % 256) AS BIGINT) END AS sum_r,
             CASE WHEN doc_id % 5 >= 2 THEN NULL
                  ELSE CAST((doc_id % 3 + 1) * (n_chars % 4 + 1)
                            * (doc_id % 256) AS BIGINT) END AS sum_g,
             CASE WHEN doc_id % 5 >= 2 THEN NULL
                  ELSE CAST((doc_id % 3 + 1) * (n_chars % 4 + 1)
                            * (n_chars % 256) AS BIGINT) END AS sum_b
      FROM documents ORDER BY media_id"""))

  /** PNG stored-deflate pixel decode (functions/PngPixels — the codec
    * line's next retreat after BmpPixels): exact per-channel sums over
    * constructed 8-bit RGB PNGs whose zlib stream uses RFC 1951 STORED
    * blocks, so container walk + zlib framing + unfiltering + sums are
    * byte arithmetic end-to-end and the oracle is cross-engine
    * arithmetic (uniform constructed pixels: sum = n_px · channel).
    * Seven lanes: a valid single-IDAT file, the zlib stream SPLIT
    * across two IDAT chunks (the spec's consecutive-IDAT rule is
    * load-bearing, a parser that reads only the first IDAT truncates
    * and NULLs), SUB-filtered rows (pixel then zero deltas — copy-left
    * reconstructs the uniform pixel, so the oracle arithmetic is
    * unchanged while any filter-math slip diverges every sum),
    * UP-filtered rows (one real row then copy-above rows — same
    * property), a reserved-BTYPE (11) block alternating with a FLIPPED
    * IDAT chunk CRC-32 (integrity is verified — bit rot NULLs), an
    * RGBA declaration alternating with a FLIPPED zlib Adler-32, and a
    * corrupted NLEN ones-complement / raw-text lane. Valid lanes carry
    * REAL trailers: chunk CRCs from Spark's BUILTIN crc32() and the
    * Adler from the engine's adler32 — construct and verify sides are
    * independent implementations. Widths run 1..3 and heights 1..4,
    * so stored LEN spans 4..40 bytes. All five RFC 2083 filter types
    * are implemented (non-uniform reconstructions hand-pinned in
    * PngPixelsSpec). Map-only, codegen'd, payload bounds checked
    * before any loop.
    */
  val multimodalPixelsPng = QueryDef(
    "llm_multimodal_pixels_png",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def be32(c: Column): Column = lpad(hex(c), 8, "0")
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      val w = (pmod(col("doc_id"), lit(3)) + 1).cast(IntegerType)
      val h = (pmod(col("n_chars"), lit(4)) + 1).cast(IntegerType)
      val rCh = pmod(col("doc_id") * 3, lit(256))
      val gCh = pmod(col("n_chars") * 5, lit(256))
      val bCh = pmod(col("doc_id") + col("n_chars"), lit(256))
      val base = documents(s, dir)
        .withColumn("__w", w).withColumn("__h", h)
        .withColumn("__px", concat(lpad(hex(rCh), 2, "0"),
          lpad(hex(gCh), 2, "0"), lpad(hex(bCh), 2, "0")))
        .withColumn("__rowhex", concat(lit("00"), expr("repeat(__px, __w)")))
        .withColumn("__rawhex", expr("repeat(__rowhex, __h)"))
        .withColumn("__rlen", (col("__h") * (col("__w") * 3 + 1)))
      // filtered lanes whose reconstruction is STILL the uniform pixel
      // (so the oracle stays pure arithmetic): Sub rows carry the pixel
      // then zero deltas (copy-left), Up carries one real row then
      // zero-delta rows (copy-above) — a filter-math slip of any kind
      // diverges every sum
      val base2 = base
        .withColumn("__rowsub",
          concat(lit("01"), col("__px"), expr("repeat('000000', __w - 1)")))
        .withColumn("__rawsub", expr("repeat(__rowsub, __h)"))
        .withColumn("__rawup", concat(
          lit("02"), expr("repeat(__px, __w)"),
          expr("repeat('02' || repeat('000000', __w), __h - 1)")))
      val sig = lit("89504E470D0A1A0A")
      // real integrity trailers, from INDEPENDENT implementations of
      // the specs the decoder verifies with: chunk CRC-32s come from
      // Spark's builtin crc32(), the zlib Adler-32 from the engine's
      // adler32 (itself pinned against java.util.zip in ChecksumsSpec)
      def crcHex(typeHex: String, dataHex: Column): Column =
        lpad(hex(crc32(unhex(concat(lit(typeHex), dataHex)))), 8, "0")
      def adlerHex(raw: Column): Column =
        lpad(hex(graft.functions.Checksums.adler32_fn(unhex(raw))), 8, "0")
      def ihdr(colorType: String): Column = {
        val data = concat(be32(col("__w")), be32(col("__h")),
          lit("08"), lit(colorType), lit("000000"))
        concat(lit("0000000D49484452"), data, crcHex("49484452", data))
      }
      def chunkOf(dataHex: Column): Column = concat(
        be32(length(dataHex) / 2), lit("49444154"), dataHex,
        crcHex("49444154", dataHex))
      def chunkBadCrc(dataHex: Column): Column = concat(
        be32(length(dataHex) / 2), lit("49444154"), dataHex,
        lpad(hex(pmod(crc32(unhex(concat(lit("49444154"), dataHex))) + 1,
          lit(4294967296L))), 8, "0"))
      val iend = lit("0000000049454E44AE426082")
      def zlib(blockHdr: String, nlen: Column,
          raw: Column = col("__rawhex")): Column = concat(
        lit("7801"), lit(blockHdr), le16(col("__rlen")), nlen,
        raw, adlerHex(raw))
      def zlibBadAdler(raw: Column): Column = concat(
        lit("780101"), le16(col("__rlen")), le16(lit(65535) - col("__rlen")),
        raw, lpad(hex(pmod(
          graft.functions.Checksums.adler32_fn(unhex(raw)) + 1,
          lit(4294967296L))), 8, "0"))
      val goodNlen = le16(lit(65535) - col("__rlen"))
      val media = when(pmod(col("doc_id"), lit(7)) === 0,
          unhex(concat(sig, ihdr("02"), chunkOf(zlib("01", goodNlen)), iend)))
        .when(pmod(col("doc_id"), lit(7)) === 1, // zlib split across 2 IDATs
          unhex(concat(sig, ihdr("02"),
            chunkOf(concat(lit("780101"), le16(col("__rlen")), goodNlen)),
            chunkOf(concat(col("__rawhex"), adlerHex(col("__rawhex")))),
            iend)))
        .when(pmod(col("doc_id"), lit(7)) === 2, // Sub-filtered rows
          unhex(concat(sig, ihdr("02"),
            chunkOf(zlib("01", goodNlen, col("__rawsub"))), iend)))
        .when(pmod(col("doc_id"), lit(7)) === 3, // Up-filtered rows
          unhex(concat(sig, ihdr("02"),
            chunkOf(zlib("01", goodNlen, col("__rawup"))), iend)))
        .when(pmod(col("doc_id"), lit(14)) === 4, // reserved BTYPE=11: corrupt
          unhex(concat(sig, ihdr("02"), chunkOf(zlib("07", goodNlen)), iend)))
        .when(pmod(col("doc_id"), lit(14)) === 11, // flipped IDAT chunk CRC
          unhex(concat(sig, ihdr("02"), chunkBadCrc(zlib("01", goodNlen)),
            iend)))
        .when(pmod(col("doc_id"), lit(14)) === 5, // RGBA declared
          unhex(concat(sig, ihdr("06"), chunkOf(zlib("01", goodNlen)), iend)))
        .when(pmod(col("doc_id"), lit(14)) === 12, // flipped zlib Adler-32
          unhex(concat(sig, ihdr("02"),
            chunkOf(zlibBadAdler(col("__rawhex"))), iend)))
        .when(pmod(col("doc_id"), lit(14)) === 6, // NLEN ones-complement broken
          unhex(concat(sig, ihdr("02"),
            chunkOf(zlib("01", le16(lit(65534) - col("__rlen")))), iend)))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      base2
        .select(col("doc_id").as("media_id"),
          graft.functions.PngPixels.png_pixels(media).as("__p"))
        .select(col("media_id"), col("__p.width").as("width"),
          col("__p.height").as("height"), col("__p.n_px").as("n_px"),
          col("__p.sum_r").as("sum_r"), col("__p.sum_g").as("sum_g"),
          col("__p.sum_b").as("sum_b"))
        .orderBy("media_id")
    },
    Some("""
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 7 >= 4 THEN NULL
                  ELSE CAST(doc_id % 3 + 1 AS INTEGER) END AS width,
             CASE WHEN doc_id % 7 >= 4 THEN NULL
                  ELSE CAST(n_chars % 4 + 1 AS INTEGER) END AS height,
             CASE WHEN doc_id % 7 >= 4 THEN NULL
                  ELSE CAST((doc_id % 3 + 1) * (n_chars % 4 + 1) AS BIGINT)
                  END AS n_px,
             CASE WHEN doc_id % 7 >= 4 THEN NULL
                  ELSE CAST((doc_id % 3 + 1) * (n_chars % 4 + 1)
                            * ((doc_id * 3) % 256) AS BIGINT) END AS sum_r,
             CASE WHEN doc_id % 7 >= 4 THEN NULL
                  ELSE CAST((doc_id % 3 + 1) * (n_chars % 4 + 1)
                            * ((n_chars * 5) % 256) AS BIGINT) END AS sum_g,
             CASE WHEN doc_id % 7 >= 4 THEN NULL
                  ELSE CAST((doc_id % 3 + 1) * (n_chars % 4 + 1)
                            * ((doc_id + n_chars) % 256) AS BIGINT)
                  END AS sum_b
      FROM documents ORDER BY media_id"""))

  /** Unicode NFC normalization over the corpus (functions/NfcNormalize —
    * UAX #15 canonical decomposition + composition via the JDK's
    * Normalizer): the curation rung BEFORE any content hash, since two
    * byte-distinct spellings of the same text split dedup groups
    * silently. The corpus is ASCII, so the query plants the three
    * classic non-NFC shapes on a doc_id rotation — decomposed
    * e + COMBINING ACUTE (composes to U+00E9), the ANGSTROM SIGN
    * singleton U+212B (→ U+00C5), decomposed Hangul jamo
    * U+1100 U+1161 (→ 가) — plus an untouched lane. The oracle replays
    * with DuckDB's utf8proc-backed nfc_normalize: two INDEPENDENT
    * implementations of the same Unicode algorithm must agree
    * byte-for-byte (the normalization stability policy is what makes
    * the exact cross-engine row possible); fp_nfc = md5 of the
    * normalized text pins the full output, not just lengths. Map-only,
    * codegen'd, NFC quick-check fast path for the already-normalized
    * bulk.
    */
  val textNfc = QueryDef(
    "llm_text_nfc",
    (s, dir) => {
      val raw = when(pmod(col("doc_id"), lit(4)) === 0,
          concat(col("text"), lit(" e\u0301tude")))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(col("text"), lit(" 10 \u212B")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(col("text"), lit(" \u1100\u1161")))
        .otherwise(col("text"))
      documents(s, dir)
        .select(col("doc_id"), raw.as("__raw"))
        .select(col("doc_id"),
          graft.functions.NfcNormalize.nfc_normalize(col("__raw")).as("__n"),
          col("__raw"))
        .select(col("doc_id"),
          (col("__raw") =!= col("__n")).as("changed"),
          length(col("__raw")).as("len_raw"),
          length(col("__n")).as("len_nfc"),
          md5(col("__n").cast(BinaryType)).as("fp_nfc"))
        .orderBy("doc_id")
    },
    Some("""
      WITH raw AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN text || ' e' || chr(769) || 'tude'
                    WHEN doc_id % 4 = 1 THEN text || ' 10 ' || chr(8491)
                    WHEN doc_id % 4 = 2 THEN text || ' ' || chr(4352) || chr(4449)
                    ELSE text END AS r
        FROM documents),
      n AS (SELECT doc_id, r, nfc_normalize(r) AS nf FROM raw)
      SELECT doc_id, r <> nf AS changed,
             CAST(length(r) AS INTEGER) AS len_raw,
             CAST(length(nf) AS INTEGER) AS len_nfc,
             md5(nf) AS fp_nfc
      FROM n ORDER BY doc_id"""))

  /** The driver vocab for llm_unigram_tokens: a single-char floor over
    * [a-z0-9] (uppercase deliberately ABSENT, so capitalized words
    * exercise the [UNK] path on real corpus text) plus multi-char
    * pieces priced below their char spans with genuine overlaps
    * ("the"/"th"/"he"/"her", "tion"/"tio"/"ion") — the DP has real
    * choices, a greedy longest-match would get several of these wrong.
    */
  private val UnigramVocab: Seq[(String, Int)] =
    (('a' to 'z') ++ ('0' to '9')).map(c => c.toString -> 6) ++ Seq(
      "th" -> 7, "he" -> 7, "in" -> 7, "er" -> 8, "an" -> 8, "re" -> 8,
      "on" -> 7, "at" -> 7, "en" -> 7, "es" -> 7, "ed" -> 7, "or" -> 8,
      "the" -> 9, "ing" -> 10, "and" -> 10, "ion" -> 11, "ent" -> 11,
      "her" -> 10, "for" -> 11, "tio" -> 11, "ter" -> 10, "est" -> 10,
      "tion" -> 12, "atio" -> 12, "ment" -> 13)

  /** The oracle's 16-step DP, GENERATED from the same vocab constant
    * the Spark expression receives (one source of truth; the SQL text
    * is deterministic). Packed value = cost·64 + tokens; a missing
    * piece costs the 99999 sentinel, so any packed value ≥ 99999·64
    * means "no feasible segmentation" (every feasible path is
    * ≤ 16·1000·64+16, provably below the threshold).
    *
    * Each DP step is its own MATERIALIZED CTE appending one position
    * to a dp LIST — NOT lateral alias references, which DuckDB INLINES
    * per reference so a 16-deep chain of ≤4-ary references explodes
    * the expression tree exponentially (first cut: minutes for 500
    * docs; this form: milliseconds).
    */
  private def unigramOracleSql: String = {
    val maxP = UnigramVocab.map(_._1.length).max
    val mapLit = UnigramVocab.map { case (p, c) => s"'$p':$c" }
      .mkString("MAP {", ",", "}")
    val steps = (1 to 16).map { i =>
      val terms = (1 to math.min(maxP, i)).map { p =>
        s"dp[${i - p + 1}] + coalesce(m[substr(w,${i - p + 1},$p)][1], 99999)*64 + 1"
      }.mkString(",\n          ")
      s"""      u$i AS MATERIALIZED (
        SELECT doc_id, w, n, m, list_append(dp, least(
          $terms)) AS dp
        FROM u${i - 1})"""
    }.mkString(",\n")
    s"""
      WITH words AS (
        SELECT doc_id,
               unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS w
        FROM documents),
      u0 AS MATERIALIZED (
        SELECT doc_id, w, len(w) AS n, $mapLit AS m,
               [CAST(0 AS BIGINT)] AS dp
        FROM words),
$steps,
      dp AS (
        SELECT doc_id, w, n,
               dp[CASE WHEN n > 16 THEN 17 ELSE n + 1 END] AS dfin
        FROM u16),
      per AS (
        SELECT doc_id,
               (n > 16 OR dfin >= 6399936) AS is_unk,
               CASE WHEN n > 16 OR dfin >= 6399936 THEN 1
                    ELSE CAST(dfin % 64 AS INTEGER) END AS toks,
               CASE WHEN n > 16 OR dfin >= 6399936 THEN 99
                    ELSE dfin // 64 END AS cost
        FROM dp),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_words,
               CAST(SUM(toks) AS INTEGER) AS n_tokens,
               CAST(COUNT(*) FILTER (WHERE is_unk) AS INTEGER) AS n_unk,
               CAST(SUM(cost) AS BIGINT) AS total_cost
        FROM per GROUP BY doc_id)
      SELECT d.doc_id,
             COALESCE(a.n_words, 0) AS n_words,
             COALESCE(a.n_tokens, 0) AS n_tokens,
             COALESCE(a.n_unk, 0) AS n_unk,
             COALESCE(a.total_cost, CAST(0 AS BIGINT)) AS total_cost
      FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id"""
  }

  /** Unigram-LM (SentencePiece-family) Viterbi tokenization stats
    * (functions/UnigramMeta) — the third tokenizer family beside BPE
    * and WordPiece, as a CROSS-ENGINE row: integer piece costs make
    * the Viterbi DP exact in any engine (the quantized-log-prob form;
    * float log-probs could never hash-match), the token count rides
    * the packed value's low 6 bits so tie segmentations cannot make
    * the stats nondeterministic, and the oracle REPLAYS the DP as a
    * 16-step lateral-alias unroll generated from the same vocab
    * constant (the k-core fixed-unroll precedent: MaxWordLen caps the
    * steps, longer words are [UNK] by contract on both sides).
    */
  val textUnigram = QueryDef(
    "llm_unigram_tokens",
    (s, dir) => documents(s, dir)
      .select(col("doc_id"),
        graft.functions.UnigramMeta
          .unigram_meta(col("text"), UnigramVocab, 99).as("__m"))
      .select(col("doc_id"),
        col("__m.n_words").as("n_words"),
        col("__m.n_tokens").as("n_tokens"),
        col("__m.n_unk").as("n_unk"),
        col("__m.total_cost").as("total_cost"))
      .orderBy("doc_id"),
    Some(unigramOracleSql))

  /** In-engine gzip source decode (functions/GzipInflate over the
    * Inflate DEFLATE decoder): the compressed-corpus rung — crawl and
    * training archives ship as .gz blobs, and the engine decodes them
    * INSIDE the scan, map-only. The query wraps each doc's bytes in an
    * RFC 1952 member (stored-deflate, so construction stays column
    * arithmetic; the trailer CRC-32 comes from Spark's BUILTIN crc32()
    * — an implementation independent of the Checksums table the
    * decoder verifies with, so a construct/verify slip cannot cancel)
    * on four lanes: a plain member, a member with FNAME set (the
    * common filename shape — the skip logic is load-bearing), a
    * corrupt-trailer sublane pair — LYING ISIZE (+1: the trailer-
    * declared size is Inflate's exact-output contract, so the mismatch
    * must NULL, not truncate) alternating with a FLIPPED CRC-32 (the
    * integrity contract: correct size, bit-rotted content claim) — and
    * a raw-text lane. Output pins the full round-trip: byte count, md5
    * of the decompressed payload, and decompressed == original. Real
    * compressed members (python gzip incl. FEXTRA/FHCRC) are pinned in
    * GzipInflateSpec; the in-query stored framing is what SQL can
    * construct — the decoder path is identical.
    */
  val sourceGzip = QueryDef(
    "llm_source_gzip",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      val len = octet_length(col("text"))
      val crc = crc32(col("text").cast(BinaryType)) // Spark builtin
      val deflateHex = concat(lit("01"), le16(len), le16(lit(65535) - len),
        hex(col("text").cast(BinaryType)))
      def member(hdrHex: String, crcV: Column, isize: Column): Column =
        unhex(concat(lit(hdrHex), deflateHex, le32(crcV), le32(isize)))
      val blob = when(pmod(col("doc_id"), lit(4)) === 0,
          member("1F8B08000000000000" + "03", crc, len))
        .when(pmod(col("doc_id"), lit(4)) === 1, // FNAME 'a\0'
          member("1F8B08080000000000" + "03" + "6100", crc, len))
        .when(pmod(col("doc_id"), lit(8)) === 2, // lying ISIZE, true CRC
          member("1F8B08000000000000" + "03", crc, len + 1))
        .when(pmod(col("doc_id"), lit(8)) === 6, // true ISIZE, flipped CRC
          member("1F8B08000000000000" + "03",
            pmod(crc + 1, lit(4294967296L)), len))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      documents(s, dir)
        .select(col("doc_id"),
          graft.functions.GzipInflate.gzip_inflate(blob).as("__d"),
          col("text"))
        .select(col("doc_id"),
          octet_length(col("__d")).as("n_bytes"),
          md5(col("__d")).as("fp"),
          (col("__d").cast(StringType) === col("text")).as("roundtrip"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 4 <= 1
                  THEN CAST(strlen(text) AS INTEGER) END AS n_bytes,
             CASE WHEN doc_id % 4 <= 1 THEN md5(text) END AS fp,
             CASE WHEN doc_id % 4 <= 1 THEN TRUE END AS roundtrip
      FROM documents ORDER BY doc_id"""))

  /** WARC crawl-segment parsing (functions/WarcRecords — ISO 28500, the
    * container CommonCrawl ships): per-doc two-record segments parsed
    * to (rec_idx, rec_type, target_uri, content_length, payload_md5) —
    * beside llm_source_gzip this completes the crawl SOURCE story
    * (segments are records-inside-gzip). Four lanes: a plain
    * response+metadata pair, the same with the WARC/1.0 angle-bracket
    * URI spelling, LOWERCASE header names and an extra header
    * (case-insensitivity and pass-through are load-bearing), a record
    * with no Content-Length (mandatory per spec — strict NULL), and a
    * Content-Length overrunning the input (strict NULL). The payload
    * md5 makes content round-trips oracle-checkable (md5(text)
    * cross-engine) without shipping payloads out of the expression;
    * payloads containing CRLF are framed by length, never by line
    * scanning. Map-only, codegen'd; the oracle is pure arithmetic.
    */
  val sourceWarc = QueryDef(
    "llm_source_warc",
    (s, dir) => {
      import org.apache.spark.sql.Column
      val crlf = "\r\n"
      val uri = concat(lit("http://example.com/doc/"), col("doc_id"))
      val len = octet_length(col("text"))
      val rec2 = lit("WARC/1.0" + crlf + "WARC-Type: metadata" + crlf +
        "Content-Length: 2" + crlf + crlf + "ok" + crlf + crlf)
      def rec1(uriLine: Column, typeName: String, clName: String,
          cl: Column): Column = concat(
        lit("WARC/1.0" + crlf), lit(typeName + ": response" + crlf),
        uriLine, lit(clName + ": "), cl, lit(crlf + crlf),
        col("text"), lit(crlf + crlf))
      val blob = when(pmod(col("doc_id"), lit(4)) === 0,
          concat(rec1(concat(lit("WARC-Target-URI: "), uri, lit(crlf)),
            "WARC-Type", "Content-Length", len), rec2))
        .when(pmod(col("doc_id"), lit(4)) === 1, // <uri>, lowercase, extra
          concat(rec1(concat(lit("warc-target-uri: <"), uri, lit(">" + crlf),
            lit("X-Extra: z" + crlf)),
            "warc-type", "content-length", len), rec2))
        .when(pmod(col("doc_id"), lit(4)) === 2, // Content-Length missing
          concat(lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf + crlf),
            col("text"), lit(crlf + crlf)))
        .otherwise( // Content-Length overruns the input
          rec1(lit(""), "WARC-Type", "Content-Length", len + 5))
      documents(s, dir)
        .select(col("doc_id"),
          posexplode_outer(graft.functions.WarcRecords
            .warc_records(blob.cast(BinaryType))))
        .select(col("doc_id"), col("pos").cast(IntegerType).as("rec_idx"),
          col("col.rec_type").as("rec_type"),
          col("col.target_uri").as("target_uri"),
          col("col.content_length").as("content_length"),
          col("col.payload_md5").as("payload_md5"))
        .orderBy("doc_id", "rec_idx")
    },
    Some("""
      WITH valid AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <= 1),
      r AS (
        SELECT doc_id, 0 AS rec_idx, 'response' AS rec_type,
               'http://example.com/doc/' || CAST(doc_id AS VARCHAR)
                 AS target_uri,
               CAST(strlen(text) AS BIGINT) AS content_length,
               md5(text) AS payload_md5
        FROM valid
        UNION ALL
        SELECT doc_id, 1, 'metadata', NULL, CAST(2 AS BIGINT), md5('ok')
        FROM valid
        UNION ALL
        SELECT doc_id, NULL, NULL, NULL, NULL, NULL
        FROM documents WHERE doc_id % 4 >= 2)
      SELECT doc_id, CAST(rec_idx AS INTEGER) AS rec_idx, rec_type,
             target_uri, content_length, payload_md5
      FROM r ORDER BY doc_id, rec_idx NULLS FIRST"""))

  /** The member-per-record crawl segment (functions/GzipMembers): the
    * layout CommonCrawl ACTUALLY ships is one gzip member PER WARC
    * RECORD, concatenated — seekable decompression per record — which
    * the single-member gzip_inflate deliberately rejects as trailing
    * garbage. Here gzip_members walks the member chain (each member's
    * deflate EXTENT found by the decoder itself — DEFLATE has no
    * length field — with per-member CRC-32 + ISIZE verified), and each
    * decompressed member parses as a one-record WARC. Lanes replicate
    * llm_source_warc's records exactly — two plain members; the
    * angle-bracket/lowercase spelling with an FNAME header on the
    * SECOND member (per-member header variety) — plus a corrupt
    * SECOND-member magic (the all-or-nothing contract: one bad member
    * NULLs the whole segment) and raw text. The oracle is
    * llm_source_warc's verbatim, so the adversarial pin hash is
    * SHARED — three routes (record concatenation, segment-in-gzip,
    * member-per-record) provably land on identical rows.
    */
  val crawlMembers = QueryDef(
    "llm_crawl_members",
    (s, dir) => {
      import org.apache.spark.sql.Column
      val crlf = "\r\n"
      val uri = concat(lit("http://example.com/doc/"), col("doc_id"))
      val len = octet_length(col("text"))
      val rec2 = lit("WARC/1.0" + crlf + "WARC-Type: metadata" + crlf +
        "Content-Length: 2" + crlf + crlf + "ok" + crlf + crlf)
      def rec1(uriLine: Column, typeName: String, clName: String,
          cl: Column): Column = concat(
        lit("WARC/1.0" + crlf), lit(typeName + ": response" + crlf),
        uriLine, lit(clName + ": "), cl, lit(crlf + crlf),
        col("text"), lit(crlf + crlf))
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      def memberHex(seg: Column, hdrHex: String): Column = {
        val sl = octet_length(seg)
        concat(lit(hdrHex), lit("01"), le16(sl), le16(lit(65535) - sl),
          hex(seg.cast(BinaryType)), le32(crc32(seg.cast(BinaryType))),
          le32(sl))
      }
      val plainHdr = "1F8B080000000000" + "0003"
      val fnameHdr = "1F8B080800000000" + "0003" + "7200" // FNAME "r\0"
      val plain1 = rec1(concat(lit("WARC-Target-URI: "), uri, lit(crlf)),
        "WARC-Type", "Content-Length", len)
      val alt1 = rec1(concat(lit("warc-target-uri: <"), uri, lit(">" + crlf),
        lit("X-Extra: z" + crlf)), "warc-type", "content-length", len)
      val blob = when(pmod(col("doc_id"), lit(4)) === 0,
          unhex(concat(memberHex(plain1, plainHdr),
            memberHex(rec2, plainHdr))))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          unhex(concat(memberHex(alt1, plainHdr),
            memberHex(rec2, fnameHdr))))
        .when(pmod(col("doc_id"), lit(4)) === 2, // 2nd member magic corrupt
          unhex(concat(memberHex(plain1, plainHdr),
            memberHex(rec2, "1E8B080000000000" + "0003"))))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      documents(s, dir)
        .select(col("doc_id"),
          posexplode_outer(graft.functions.GzipMembers.gzip_members(blob)))
        .select(col("doc_id"), col("pos").cast(IntegerType).as("rec_idx"),
          element_at(graft.functions.WarcRecords.warc_records(col("col")),
            1).as("__r"))
        .select(col("doc_id"), col("rec_idx"),
          col("__r.rec_type").as("rec_type"),
          col("__r.target_uri").as("target_uri"),
          col("__r.content_length").as("content_length"),
          col("__r.payload_md5").as("payload_md5"))
        .orderBy("doc_id", "rec_idx")
    },
    Some("""
      WITH valid AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <= 1),
      r AS (
        SELECT doc_id, 0 AS rec_idx, 'response' AS rec_type,
               'http://example.com/doc/' || CAST(doc_id AS VARCHAR)
                 AS target_uri,
               CAST(strlen(text) AS BIGINT) AS content_length,
               md5(text) AS payload_md5
        FROM valid
        UNION ALL
        SELECT doc_id, 1, 'metadata', NULL, CAST(2 AS BIGINT), md5('ok')
        FROM valid
        UNION ALL
        SELECT doc_id, NULL, NULL, NULL, NULL, NULL
        FROM documents WHERE doc_id % 4 >= 2)
      SELECT doc_id, CAST(rec_idx AS INTEGER) AS rec_idx, rec_type,
             target_uri, content_length, payload_md5
      FROM r ORDER BY doc_id, rec_idx NULLS FIRST"""))

  /** The composed crawl-source pipeline: WARC segments INSIDE gzip
    * members — the literal CommonCrawl layout — decoded by
    * warc_records(gzip_inflate(blob)) in one map-only plan (both
    * expressions codegen'd, the whole chain fuses into the scan; this
    * is the rung that proves the source family COMPOSES, not just that
    * each piece works alone). Lanes: a valid .warc.gz member; a valid
    * member whose WARC uses the angle-bracket/lowercase spelling; a
    * corrupt GZIP layer (bad magic — the outer decode NULLs before the
    * inner parser ever runs); a valid gzip whose INNER WARC is corrupt
    * (missing Content-Length — the outer decode succeeds, the inner
    * strict probe NULLs). Oracle = the same pure arithmetic as
    * llm_source_warc's valid rows.
    */
  val crawlPipeline = QueryDef(
    "llm_crawl_pipeline",
    (s, dir) => {
      import org.apache.spark.sql.Column
      val crlf = "\r\n"
      val uri = concat(lit("http://example.com/doc/"), col("doc_id"))
      val rec2 = lit("WARC/1.0" + crlf + "WARC-Type: metadata" + crlf +
        "Content-Length: 2" + crlf + crlf + "ok" + crlf + crlf)
      def seg(uriHdr: Column, typeName: String, clLine: Column): Column =
        concat(lit("WARC/1.0" + crlf), lit(typeName + ": response" + crlf),
          uriHdr, clLine, lit(crlf + crlf), col("text"), lit(crlf + crlf),
          rec2)
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      def gz(segment: Column, magic: String): Column = {
        val sl = octet_length(segment)
        unhex(concat(lit(magic + "08000000000000" + "03"),
          lit("01"), le16(sl), le16(lit(65535) - sl),
          hex(segment.cast(BinaryType)),
          le32(crc32(segment.cast(BinaryType))), le32(sl)))
      }
      val textLen = octet_length(col("text"))
      val clLine = concat(lit("Content-Length: "), textLen)
      val plainSeg = seg(concat(lit("WARC-Target-URI: "), uri, lit(crlf)),
        "WARC-Type", clLine)
      val altSeg = seg(concat(lit("warc-target-uri: <"), uri, lit(">" + crlf)),
        "warc-type", clLine)
      val badWarcSeg = seg(lit(""), "WARC-Type", lit("X-Note: no-length"))
      val blob = when(pmod(col("doc_id"), lit(4)) === 0, gz(plainSeg, "1F8B"))
        .when(pmod(col("doc_id"), lit(4)) === 1, gz(altSeg, "1F8B"))
        .when(pmod(col("doc_id"), lit(4)) === 2, gz(plainSeg, "1E8B"))
        .otherwise(gz(badWarcSeg, "1F8B"))
      documents(s, dir)
        .select(col("doc_id"),
          posexplode_outer(graft.functions.WarcRecords.warc_records(
            graft.functions.GzipInflate.gzip_inflate(blob))))
        .select(col("doc_id"), col("pos").cast(IntegerType).as("rec_idx"),
          col("col.rec_type").as("rec_type"),
          col("col.target_uri").as("target_uri"),
          col("col.content_length").as("content_length"),
          col("col.payload_md5").as("payload_md5"))
        .orderBy("doc_id", "rec_idx")
    },
    Some("""
      WITH valid AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <= 1),
      r AS (
        SELECT doc_id, 0 AS rec_idx, 'response' AS rec_type,
               'http://example.com/doc/' || CAST(doc_id AS VARCHAR)
                 AS target_uri,
               CAST(strlen(text) AS BIGINT) AS content_length,
               md5(text) AS payload_md5
        FROM valid
        UNION ALL
        SELECT doc_id, 1, 'metadata', NULL, CAST(2 AS BIGINT), md5('ok')
        FROM valid
        UNION ALL
        SELECT doc_id, NULL, NULL, NULL, NULL, NULL
        FROM documents WHERE doc_id % 4 >= 2)
      SELECT doc_id, CAST(rec_idx AS INTEGER) AS rec_idx, rec_type,
             target_uri, content_length, payload_md5
      FROM r ORDER BY doc_id, rec_idx NULLS FIRST"""))

  // ---- column-space XZ stream construction (llm_source_xz /
  // llm_source_tarxz) — uncompressed LZMA2 chunks, every CRC computed
  // in column space; validated byte-for-byte against CPython lzma ----

  private def xzB2(c: Column): Column = lpad(hex(c), 2, "0")

  private def xzLe32(c: Column): Column = {
    val x = lpad(hex(c), 8, "0")
    concat(substring(x, 7, 2), substring(x, 5, 2),
      substring(x, 3, 2), substring(x, 1, 2))
  }

  /** Little-endian base-128 varint, values < 2^28 (covers sizes up to
    * the 64 MB family cap plus framing).
    */
  private def xzVint(v: Column): Column = when(v < 128, xzB2(v))
    .when(v < 16384, concat(xzB2(pmod(v, lit(128)) + 128),
      xzB2(floor(v / 128).cast(LongType))))
    .when(v < 2097152, concat(xzB2(pmod(v, lit(128)) + 128),
      xzB2(pmod(floor(v / 128).cast(LongType), lit(128)) + 128),
      xzB2(floor(v / 16384).cast(LongType))))
    .otherwise(concat(xzB2(pmod(v, lit(128)) + 128),
      xzB2(pmod(floor(v / 128).cast(LongType), lit(128)) + 128),
      xzB2(pmod(floor(v / 16384).cast(LongType), lit(128)) + 128),
      xzB2(floor(v / 2097152).cast(LongType))))

  private def xzVlen(v: Column): Column =
    when(v < 128, 1).when(v < 16384, 2).when(v < 2097152, 3)
      .otherwise(lit(4))

  /** Uncompressed-LZMA2 chunk chain over `payloadHex` (≥ 1 byte):
    * control 0x01 (dict reset) for the first ≤ 64 KiB chunk, 0x02 for
    * the rest, then the end marker — single-chunk fast path for every
    * payload ≤ 64 KiB (the zstRawBlocksHex discipline: the chained
    * branch is a higher-order function, paid only when needed).
    */
  private[queries] def xzChunksHex(payloadHex: Column): Column = {
    val C = 65536L
    val len = (length(payloadHex) / 2).cast(LongType)
    def be16(c: Column): Column = lpad(hex(c), 4, "0")
    val nChunks = floor((len + lit(C - 1)) / lit(C)).cast(LongType)
    when(len <= C,
      concat(lit("01"), be16(len - 1), payloadHex, lit("00")))
      .otherwise(concat(
        array_join(transform(sequence(lit(0L), nChunks - 1), i => {
          val off = i * lit(C)
          val size = least(len - off, lit(C))
          val ctrl = when(i === 0, lit("01")).otherwise(lit("02"))
          concat(ctrl, be16(size - 1),
            payloadHex.substr((off * 2 + 1).cast(IntegerType),
              (size * 2).cast(IntegerType)))
        }), ""), lit("00")))
  }

  // (the un-staged xzStreamHex builder was removed in r14: it re-inlined
  // its payload subtree ~200× — see xzStreamStaged, the staged twin that
  // produces the identical bytes with every intermediate a real column)

  /** HTML → text extraction (functions/HtmlText: tag/script/style
    * strip, entity decode, whitespace canon) — the stage between the
    * crawl family's WARC payloads and the gopher/langid quality
    * filters, which a real crawl corpus hits on 100 % of documents
    * (r12 verdict #3). Five lanes by doc_id % 5, each with a CLOSED-FORM
    * expected extraction so the DuckDB oracle predicts the text without
    * an HTML parser (the llm_source_* construction discipline — the
    * document text rides through escape → markup → extract and must
    * come back whitespace-canonical):
    *  (0) full page: DOCTYPE, script WITH a `<` inside its body, style,
    *      comment — all stripped; the h1/body text survives;
    *  (1) entity battery: numeric dec/hex, nbsp, amp, an UNKNOWN named
    *      entity and a SURROGATE numeric ref (both must stay VERBATIM —
    *      decoding never invents characters);
    *  (2) CDATA kept raw (its `<b>` and `&` are character data) plus
    *      quoted attribute values containing `>` and `<`;
    *  (3) broken markup: an unterminated `<script>` drops to end of
    *      input — deterministic degrade, not failure;
    *  (4) the COMPOSED crawl line: html_text(warc_payloads(
    *      gzip_inflate(blob))[1]) over a .warc.gz member wrapping the
    *      lane-0 page — payload bytes flow decode → record → extract in
    *      one map-only codegen'd chain, the end-to-end rung the r12
    *      verdict named as the missing stage.
    */
  val crawlText = QueryDef(
    "llm_crawl_text",
    (s, dir) => {
      val esc = replace(replace(replace(col("text"),
        lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;"))
      val page0 = concat(
        lit("<!DOCTYPE html><html><head><script>var x=1<2;</script>" +
          "<style>p{}</style></head><body><h1>H</h1><p>"),
        esc, lit("</p><!-- c --></body></html>"))
      val page1 = concat(lit("<p>"), esc,
        lit(" &#65;&#x42;!&nbsp;&amp;&unknown;&#xD800;</p>"))
      val page2 = concat(
        lit("<div class=\"a>b\" title='c<d'>X<![CDATA[ raw <b> & ]]>" +
          "Y</div><p>"), esc, lit("</p>"))
      val page3 = concat(lit("<p>"), esc, lit("</p><script>var broken = \""))
      val crlf = "\r\n"
      val seg = concat(lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
        "Content-Length: "), octet_length(page0), lit(crlf + crlf),
        page0, lit(crlf + crlf))
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      val sl = octet_length(seg)
      val gz = unhex(concat(lit("1F8B" + "08000000000000" + "03"),
        lit("01"), le16(sl), le16(lit(65535) - sl),
        hex(seg.cast(BinaryType)),
        le32(crc32(seg.cast(BinaryType))), le32(sl)))
      val m = pmod(col("doc_id"), lit(5))
      val extracted = when(m === 4,
        graft.functions.HtmlText.html_text(element_at(
          graft.functions.WarcRecords.warc_payloads(
            graft.functions.GzipInflate.gzip_inflate(gz)), 1)))
        .otherwise(graft.functions.HtmlText.html_text(
          when(m === 0, page0).when(m === 1, page1)
            .when(m === 2, page2).otherwise(page3)))
      documents(s, dir)
        .select(col("doc_id"), extracted.as("__t"))
        .select(col("doc_id"),
          length(col("__t")).cast(IntegerType).as("n_chars"),
          md5(col("__t").cast(BinaryType)).as("fp"),
          substring(col("__t"), 1, 40).as("head"))
        .orderBy("doc_id")
    },
    Some(raw"""
      WITH t AS (
        SELECT doc_id,
               trim(regexp_replace(text, '[\s\x0b]+', ' ', 'g')) AS c
        FROM documents),
      x AS (
        SELECT doc_id,
          CASE CAST(doc_id % 5 AS INTEGER)
            WHEN 1 THEN CASE WHEN c = '' THEN 'AB! &&unknown;&#xD800;'
                             ELSE c || ' AB! &&unknown;&#xD800;' END
            WHEN 2 THEN CASE WHEN c = '' THEN 'X raw <b> & Y'
                             ELSE 'X raw <b> & Y ' || c END
            WHEN 3 THEN c
            ELSE CASE WHEN c = '' THEN 'H' ELSE 'H ' || c END
          END AS e
        FROM t)
      SELECT doc_id, CAST(length(e) AS INTEGER) AS n_chars,
             md5(e) AS fp, substr(e, 1, 40) AS head
      FROM x ORDER BY doc_id"""))

  /** The COMPLETE crawl line, end to end: .warc.gz member → WARC
    * payload → HTML→text extraction → the gopher-style quality metrics
    * every curation stack runs next (token count, avg token length,
    * stopword ratio, composite score) — the hand-off llm_crawl_text
    * opened, now driven all the way into TextAnalysis (r12 verdict #3's
    * "missing stage" closed on BOTH ends). One map-only codegen'd
    * plan: gzip_inflate → warc_payloads → html_text → token metrics.
    * The page is the crawl_text lane-0 shape, so the extraction is
    * closed-form ('H' ⊕ the whitespace-canonical document text) and the
    * oracle replays the PROVEN llm_text_quality metric SQL over that
    * derived string — extraction and scoring cross-checked together.
    */
  /** Column-built Brotli stream over `payloadHex` (≥ 1 byte): a chain
    * of ≤ 64 KiB UNCOMPRESSED meta-blocks (wbits16 header bit on the
    * first, ISLAST=0 / MNIBBLES=4 / MLEN-1 / ISUNCOMPRESSED=1, byte-
    * aligned raw bytes) closed by the empty last block 0x03 — the
    * layout a CDN's pre-compressed static `.br` asset or a
    * `Content-Encoding: br` body decodes as. Validated byte-for-byte
    * against libbrotli at fixture-generation time (BrotliInflateSpec's
    * hand-built-layout pins decode the same construction).
    */
  private[queries] def brotliRawHex(payloadHex: Column): Column = {
    val B = 65536L
    val len = (length(payloadHex) / 2).cast(LongType)
    def hx2(c: Column): Column = lpad(hex(c), 2, "0")
    val nBlocks = greatest(
      floor((len + lit(B - 1)) / lit(B)).cast(LongType), lit(1L))
    val blocks = array_join(transform(sequence(lit(0L), nBlocks - 1), i => {
      val off = i * lit(B)
      val size = least(len - off, lit(B))
      val lm1 = size - 1
      // first block header carries the window bit (22 bits -> 3 bytes);
      // later headers start byte-aligned after raw data (20 bits -> 3)
      val hdr = when(i === 0, concat(
          hx2(pmod(lm1, lit(16)) * 16),
          hx2(pmod(floor(lm1 / 16).cast(LongType), lit(256))),
          hx2(floor(lm1 / 4096).cast(LongType) + 16)))
        .otherwise(concat(
          hx2(pmod(lm1, lit(32)) * 8),
          hx2(pmod(floor(lm1 / 32).cast(LongType), lit(256))),
          hx2(floor(lm1 / 8192).cast(LongType) + 8)))
      concat(hdr, payloadHex.substr((off * 2 + 1).cast(IntegerType),
        (size * 2).cast(IntegerType)))
    }), "")
    concat(blocks, lit("03"))
  }

  /** Brotli source with the ENTROPY-CODED path on the DuckDB oracle —
    * the zstd-compressed-lanes discipline extended to the newest codec:
    * a COMPRESSED meta-block built entirely in column space, so
    * brotli_inflate's prefix-code/command machinery itself (not just
    * the uncompressed framing) is cross-engine-checked on VARIABLE
    * data at every SF. Construction (libbrotli-validated byte-for-byte
    * at design time; the frozen golden vector is pinned in
    * BrotliInflateSpec):
    *
    *  - byte 0 = 0x0C: window bits 16 + an EMPTY METADATA block, which
    *    byte-aligns the compressed block so its 128-bit header lands on
    *    bytes 1..16 and every literal on its own byte;
    *  - the compressed block: a complex literal prefix code giving all
    *    256 symbols length 8 (code-length code {8:len1, 16:len1}, then
    *    sym-16 repeat chain 5→17→65→255 closing the 32768-unit space
    *    exactly), a single-symbol command code (504: insert code 23,
    *    copy code 0), a 2-symbol distance code (never read — the single
    *    insert ends the block), NPOSTFIX/NDIRECT 0, LSB6 context, one
    *    tree per category;
    *  - ONE insert-and-copy command: insert code 22 (14-bit extra,
    *    text padded with spaces to 6210 when shorter) for N ≤ 22593,
    *    insert code 23 (24-bit extra, padding-free) above — two
    *    templates whose header bit-counts are both byte-exact, so the
    *    extra field sits at a constant hex position in each;
    *  - literals under the all-len-8 canonical code are the IDENTITY
    *    mapping read MSB-first, so each output byte is the BIT-REVERSED
    *    input byte: the whole literal section is two builtin calls —
    *    regexp pair-swap + a 16-char translate (rev4 nibble table) —
    *    no per-byte loop, no transform.
    *
    * Lanes by doc_id % 4: (0) the compressed block above; (1) the same
    * with one trailing garbage byte — NULL, the family contract;
    * (2) the UNCOMPRESSED chain ([[brotliRawHex]]) over the same text —
    * two framings provably landing on the same payload; (3) raw text.
    */
  val sourceBr = QueryDef(
    "llm_source_br",
    (s, dir) => {
      def hx2(c: Column): Column = lpad(hex(c), 2, "0")
      // block bytes 3.. : the constant header/tree sections (every bit
      // between MLEN and the insert extra) of the two libbrotli-
      // validated templates: A = insert code 22 (14-bit extra, pad to
      // 6210, dist tree NSYM=1 so the 112-bit header stays byte-exact),
      // B = insert code 23 (24-bit extra, no padding needed at
      // N ≥ 22594, dist tree NSYM=2 → 128 bits)
      val constMidA = "000000384EDB047C01"
      val constMidB = "000000384EDB047E0504"
      val base = docsPar(s, dir)
        .withColumn("__n", octet_length(col("text")).cast(LongType))
        .withColumn("__texthex", hex(col("text").cast(BinaryType)))
        .withColumn("__L",
          when(col("__n") <= 22593L, greatest(col("__n"), lit(6210L)))
            .otherwise(col("__n")))
        .withColumn("__lit", concat(
          translate(regexp_replace(col("__texthex"), "(.)(.)", "$2$1"),
            "0123456789ABCDEF", "084C2A6E195D3B7F"),
          repeat(lit("04"), (col("__L") - col("__n")).cast(IntegerType))))
        .withColumn("__hdr", {
          val lm1 = col("__L") - 1
          val mlen3 = concat(
            hx2(pmod(lm1, lit(16)) * 16 + 1),
            hx2(pmod(floor(lm1 / 16).cast(LongType), lit(256))),
            hx2(floor(lm1 / 4096).cast(LongType)))
          val eA = col("__L") - 6210
          val eB = col("__L") - 22594
          when(col("__n") <= 22593L, concat(lit("0C"), mlen3,
            lit(constMidA),
            hx2(pmod(eA, lit(64)) * 4),
            hx2(floor(eA / 64).cast(LongType))))
            .otherwise(concat(lit("0C"), mlen3,
              lit(constMidB),
              hx2(pmod(eB, lit(256))),
              hx2(pmod(floor(eB / 256).cast(LongType), lit(256))),
              hx2(floor(eB / 65536).cast(LongType))))
        })
        .withColumn("__brc", concat(col("__hdr"), col("__lit")))
        .withColumn("__bru", brotliRawHex(col("__texthex")))
      val m = pmod(col("doc_id"), lit(4))
      val fitsC = col("__n") <= 65536
      val blob = when(m === 0 && fitsC, unhex(col("__brc")))
        .when(m === 1 && fitsC, // trailing garbage: outer frame valid,
          // the family contract NULLs the WHOLE row
          unhex(concat(col("__brc"), lit("55"))))
        .when(m === 2 && col("__n") >= 1, unhex(col("__bru")))
        // malformed lane: 0x11 decodes as the RESERVED window-bits form
        // (WBITS long-long form value 1), so the stream is invalid no
        // matter what text follows — without the prefix, a document
        // whose text is exactly one byte in {'1','3','5','7'} would be
        // a VALID empty brotli stream and break the oracle's NULL pin
        .otherwise(concat(unhex(lit("11")),
          substring(col("text"), 1, 16).cast(BinaryType)))
      base
        .select(col("doc_id"),
          graft.functions.BrotliInflate.brotli_inflate(blob).as("__d"))
        .select(col("doc_id"),
          octet_length(col("__d")).as("n_bytes"),
          md5(col("__d")).as("fp"))
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (
        SELECT doc_id, text, strlen(text) AS n,
               CASE WHEN strlen(text) <= 22593
                    THEN greatest(strlen(text), 6210)
                    ELSE strlen(text) END AS l
        FROM documents)
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 0 AND n <= 65536
             THEN CAST(l AS INTEGER)
             WHEN doc_id % 4 = 2 AND n >= 1
             THEN CAST(n AS INTEGER) END AS n_bytes,
        CASE WHEN doc_id % 4 = 0 AND n <= 65536
             THEN md5(text || repeat(' ', CAST(l - n AS INTEGER)))
             WHEN doc_id % 4 = 2 AND n >= 1
             THEN md5(text) END AS fp
      FROM p ORDER BY doc_id"""))

  /** The `Content-Encoding: br` crawl lane (r13 verdict #5): real WARC
    * response bodies are frequently Brotli — until r14 those bytes
    * NULLed before HtmlText ran. One map-only codegen'd chain:
    * gzip_inflate(.warc.gz) → warc_payloads → brotli_inflate(body) →
    * html_text → token metrics; the brotli layer is the column-built
    * uncompressed-meta-block stream of [[brotliRawHex]] (headers +
    * framing live, entropy-coded shapes pinned against libbrotli in
    * BrotliInflateSpec). Lanes by doc_id % 3: (0) the full line;
    * (1) the same warc/gzip envelope around a brotli body with ONE
    * TRAILING GARBAGE BYTE — the outer layers are valid, the brotli
    * family contract NULLs, nothing partial reaches html_text;
    * (2) raw text (NULLs at the gzip layer). Oracle is the same
    * closed-form extraction arithmetic as llm_crawl_quality's.
    */
  val crawlBr = QueryDef(
    "llm_crawl_br",
    (s, dir) => {
      import org.apache.spark.sql.Column
      val esc = replace(replace(replace(col("text"),
        lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;"))
      val crlf = "\r\n"
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      // staged construction (the tarxz discipline): page -> brotli
      // chain -> warc segment -> gzip member, each a real column
      val staged = docsPar(s, dir)
        .withColumn("__pagehex", hex(concat(
          lit("<!DOCTYPE html><html><head><script>var x=1<2;</script>" +
            "<style>p{}</style></head><body><h1>H</h1><p>"),
          esc, lit("</p><!-- c --></body></html>")).cast(BinaryType)))
        .withColumn("__br", brotliRawHex(col("__pagehex")))
        .withColumn("__brlane", when(pmod(col("doc_id"), lit(3)) === 1,
          concat(col("__br"), lit("55"))).otherwise(col("__br")))
        .withColumn("__seg", concat(
          hex(concat(lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
            "Content-Encoding: br" + crlf + "Content-Length: "),
            (length(col("__brlane")) / 2).cast(LongType),
            lit(crlf + crlf)).cast(BinaryType)),
          col("__brlane"), lit("0D0A0D0A")))
      val sl = (length(col("__seg")) / 2).cast(IntegerType)
      val gz = unhex(concat(lit("1F8B" + "08000000000000" + "03"),
        lit("01"), le16(sl), le16(lit(65535) - sl),
        col("__seg"),
        le32(crc32(unhex(col("__seg")))), le32(sl)))
      val blob = when(pmod(col("doc_id"), lit(3)) === 2,
        substring(col("text"), 1, 16).cast(BinaryType)).otherwise(gz)
      val extracted = graft.functions.HtmlText.html_text(
        graft.functions.BrotliInflate.brotli_inflate(element_at(
          graft.functions.WarcRecords.warc_payloads(
            graft.functions.GzipInflate.gzip_inflate(blob)), 1)))
      staged
        .select(col("doc_id"), extracted.as("__t"))
        .select(col("doc_id"),
          TextAnalysis.tokenCountFromTokens(
            TextAnalysis.tokenArray(col("__t"))).as("n_tokens"),
          md5(col("__t").cast(BinaryType)).as("fp"))
        .orderBy("doc_id")
    },
    Some(raw"""
      WITH t0 AS (
        SELECT doc_id,
               trim(regexp_replace(text, '[\s\x0b]+', ' ', 'g')) AS c
        FROM documents),
      e AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN
                 CASE WHEN c = '' THEN 'H' ELSE 'H ' || c END
               END AS e
        FROM t0)
      SELECT doc_id,
        CAST(len(regexp_split_to_array(e, '[\s\x0b]+')) AS INTEGER) AS n_tokens,
        md5(e) AS fp
      FROM e ORDER BY doc_id"""))

  /** The COMPLETE realistic crawl line (r14): real WARC response
    * records hold full HTTP MESSAGES — status line, headers, a body
    * that rides `Transfer-Encoding: chunked` and/or `Content-Encoding:
    * gzip|br` — and a consumer must parse the HTTP layer before any
    * content decoder runs. One map-only codegen'd chain:
    * gzip_inflate(.warc.gz) → warc_payloads → http_body (functions/
    * HttpBody: RFC 9112 framing, pinned vs CPython http.client) →
    * encoding DISPATCH (brotli_inflate / gzip_inflate / zlib_inflate /
    * identity on the header value) → html_text → fingerprint. Lanes by
    * doc_id % 6:
    *  (0) `Content-Length` + `Content-Encoding: br` (column-built
    *      brotli chain);
    *  (1) `Transfer-Encoding: chunked`, plain html body in ≤512-byte
    *      ASCII-hex-sized chunks with a trailer;
    *  (2) `Content-Length` + `Content-Encoding: gzip` (stored-deflate
    *      member);
    *  (3) chunked with a LYING chunk size — the warc/gzip layers are
    *      valid, the HTTP layer NULLs, nothing reaches the decoders;
    *  (4) raw text (NULLs at the outer gzip);
    *  (5) `Content-Length` + `Content-Encoding: deflate` (RFC 9110's
    *      third registered content coding = ZLIB framing, RFC 1950:
    *      0x78 0x01 header, stored-deflate block, big-endian Adler-32).
    * All four valid lanes land on the SAME extracted text, so one
    * closed-form oracle expression covers them; status/encoding pin the
    * header parse.
    */
  val crawlHttp = QueryDef(
    "llm_crawl_http",
    (s, dir) => {
      import org.apache.spark.sql.Column
      val esc = replace(replace(replace(col("text"),
        lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;"))
      val crlfH = "0D0A"
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      def asciiHex(c: Column): Column = hex(c.cast(BinaryType))
      // chunked framing: ≤512-byte chunks, ASCII-hex size lines, a
      // chunk extension on the first chunk, terminator + trailer
      def chunkedHex(payloadHex: Column, lie: Column): Column = {
        val C = 512L
        val len = (length(payloadHex) / 2).cast(LongType)
        val nChunks = greatest(
          floor((len + lit(C - 1)) / lit(C)).cast(LongType), lit(1L))
        concat(
          array_join(transform(sequence(lit(0L), nChunks - 1), i => {
            val off = i * lit(C)
            val size = least(len - off, lit(C)) + when(i === 0, lie)
              .otherwise(lit(0L))
            val ext = when(i === 0, asciiHex(lit(";x=1"))).otherwise(lit(""))
            concat(asciiHex(hex(size)), ext, lit(crlfH),
              payloadHex.substr((off * 2 + 1).cast(IntegerType),
                (least(len - off, lit(C)) * 2).cast(IntegerType)),
              lit(crlfH))
          }), ""),
          lit("30"), lit(crlfH),
          asciiHex(lit("X-Meta: done")), lit(crlfH), lit(crlfH))
      }
      val staged = docsPar(s, dir)
        .withColumn("__pagehex", hex(concat(
          lit("<!DOCTYPE html><html><head><script>var x=1<2;</script>" +
            "<style>p{}</style></head><body><h1>H</h1><p>"),
          esc, lit("</p><!-- c --></body></html>")).cast(BinaryType)))
        .withColumn("__br", brotliRawHex(col("__pagehex")))
        .withColumn("__gz", {
          val sl = (length(col("__pagehex")) / 2).cast(IntegerType)
          concat(lit("1F8B" + "08000000000000" + "03"),
            lit("01"), le16(sl), le16(lit(65535) - sl), col("__pagehex"),
            le32(crc32(unhex(col("__pagehex")))), le32(sl))
        })
        .withColumn("__zl", {
          // RFC 1950 zlib frame: CMF/FLG 0x7801 ((0x78*256+1) % 31 == 0),
          // one stored-deflate block, big-endian Adler-32 of the page
          val sl = (length(col("__pagehex")) / 2).cast(IntegerType)
          concat(lit("7801"), lit("01"), le16(sl), le16(lit(65535) - sl),
            col("__pagehex"),
            lpad(hex(graft.functions.Checksums.adler32_fn(
              unhex(col("__pagehex")))), 8, "0"))
        })
        .withColumn("__http", {
          val m = pmod(col("doc_id"), lit(6))
          val brLen = (length(col("__br")) / 2).cast(LongType)
          val gzLen = (length(col("__gz")) / 2).cast(LongType)
          val zlLen = (length(col("__zl")) / 2).cast(LongType)
          when(m === 5, concat(
            asciiHex(concat(lit("HTTP/1.1 200 OK\r\n" +
              "Content-Encoding: Deflate\r\ncontent-length: "), zlLen,
              lit("\r\n\r\n"))), col("__zl")))
            .when(m === 0, concat(
            asciiHex(concat(lit("HTTP/1.1 200 OK\r\nServer: g\r\n" +
              "Content-Encoding: BR\r\nContent-Length: "), brLen,
              lit("\r\n\r\n"))), col("__br")))
            .when(m === 1, concat(
              asciiHex(lit("HTTP/1.1 200 OK\r\n" +
                "transfer-encoding: chunked\r\n\r\n")),
              chunkedHex(col("__pagehex"), lit(0L))))
            .when(m === 2, concat(
              asciiHex(concat(lit("HTTP/1.1 200 OK\r\n" +
                "content-encoding: gzip\r\ncontent-length: "), gzLen,
                lit("\r\n\r\n"))), col("__gz")))
            .otherwise(concat( // lane 3: the first chunk size lies 16 MB
              // past the input — the overrun is deterministic at any
              // document size (a small lie can re-align into valid
              // framing when the content happens to contain CRLFs)
              asciiHex(lit("HTTP/1.1 200 OK\r\n" +
                "Transfer-Encoding: chunked\r\n\r\n")),
              chunkedHex(col("__pagehex"), lit(16777216L))))
        })
        .withColumn("__seg", concat(
          asciiHex(concat(lit("WARC/1.0\r\nWARC-Type: response\r\n" +
            "Content-Length: "), (length(col("__http")) / 2).cast(LongType),
            lit("\r\n\r\n"))),
          col("__http"), lit(crlfH), lit(crlfH)))
      val sl = (length(col("__seg")) / 2).cast(IntegerType)
      val gz = unhex(concat(lit("1F8B" + "08000000000000" + "03"),
        lit("01"), le16(sl), le16(lit(65535) - sl),
        col("__seg"),
        le32(crc32(unhex(col("__seg")))), le32(sl)))
      val blob = when(pmod(col("doc_id"), lit(6)) === 4,
        substring(col("text"), 1, 16).cast(BinaryType)).otherwise(gz)
      val h = graft.functions.HttpBody.http_body(element_at(
        graft.functions.WarcRecords.warc_payloads(
          graft.functions.GzipInflate.gzip_inflate(blob)), 1))
      val enc = h.getField("content_encoding")
      val body = h.getField("body")
      val decoded = when(enc === "br",
        graft.functions.BrotliInflate.brotli_inflate(body))
        .when(enc === "gzip", graft.functions.GzipInflate.gzip_inflate(body))
        .when(enc === "deflate", graft.functions.ZlibInflate.zlib_inflate(body))
        .otherwise(body)
      val txt = graft.functions.HtmlText.html_text(decoded)
      staged
        .select(col("doc_id"), h.getField("status").as("__st"),
          enc.as("__enc"), txt.as("__t"))
        .select(col("doc_id"),
          col("__st").as("status"),
          col("__enc").as("content_encoding"),
          md5(col("__t").cast(BinaryType)).as("fp"))
        .orderBy("doc_id")
    },
    Some(raw"""
      WITH t0 AS (
        SELECT doc_id,
               trim(regexp_replace(text, '[\s\x0b]+', ' ', 'g')) AS c
        FROM documents),
      e AS (
        SELECT doc_id,
               CASE WHEN doc_id % 6 <= 2 OR doc_id % 6 = 5 THEN
                 CASE WHEN c = '' THEN 'H' ELSE 'H ' || c END
               END AS e
        FROM t0)
      SELECT doc_id,
        CASE WHEN doc_id % 6 <= 2 OR doc_id % 6 = 5 THEN 200 END AS status,
        CASE WHEN doc_id % 6 = 0 THEN 'br'
             WHEN doc_id % 6 = 2 THEN 'gzip'
             WHEN doc_id % 6 = 5 THEN 'deflate' END AS content_encoding,
        md5(e) AS fp
      FROM e ORDER BY doc_id"""))


  /** CHARSET dispatch on the crawl line (r15): real HTTP bodies carry
    * their text encoding in `Content-Type` (`charset=`), and a crawl
    * consumer must TRANSCODE to UTF-8 before extraction — latin-1 and
    * UTF-16 bodies fed to a UTF-8 extractor silently mangle every
    * non-ASCII byte. One map-only chain: gzip_inflate(.warc.gz) →
    * warc_payloads → http_body (which now surfaces `content_type`,
    * lowercased) → charset EXTRACT (`charset="?token`, quoted and
    * unquoted, case-normalized) → DISPATCH through Spark's builtin
    * decode()/encode() (ISO-8859-1 / UTF-16LE / UTF-8 / absent-header
    * UTF-8 default) → html_text → token metrics. Lanes by doc_id % 4:
    *  (0) `Charset=ISO-8859-1` (case-mixed header): the page carries a
    *      fixed latin-1 marker ("café über" as E9/FC BYTES) plus the
    *      ASCII-sanitized document text;
    *  (1) `charset=utf-16le` (no space): the same ASCII page expanded
    *      to UTF-16LE in column space (00 interleave);
    *  (2) `charset="utf-8"` (QUOTED token): the full document text;
    *  (3) no Content-Type header → NULL content_type, UTF-8 default.
    * All four lanes land on closed-form oracle text; lanes 0/1 prove
    * the transcode actually ran (the latin-1 marker bytes are invalid
    * UTF-8, and UTF-16LE doubles every byte).
    */
  /** PDF text extraction on the source line (functions/PdfText, round
    * 16 — the full ISO 32000-1 classic-xref pipeline: header, xref
    * table, trailer, catalog, page tree, content streams, text
    * operators, font encodings): the single biggest real-world document
    * format an LLM crawl pipeline ingests. The query CONSTRUCTS
    * complete spec-conformant PDFs from document fields IN COLUMN SPACE
    * — including the xref table, whose 10-digit byte offsets are
    * computed by column arithmetic over the variable-length parts (a
    * wrong offset anywhere makes the whole parse NULL, so the xref
    * math is load-bearing per row). Lanes per doc_id mod: (0) an
    * uncompressed content stream showing the PDF-escaped ASCII text via
    * Tj; (1) a FLATE content stream (stored-block zlib with the
    * engine's own Adler-32) whose TJ array carries a −250 kerning gap
    * and a T* line break — filter, indirect framing and the word-gap
    * rule all load-bearing; (2) WinAnsi octal escapes \223/\224 around
    * a marker — the curly-quote decode again, now through PDF string
    * syntax; (6) an /Encrypt trailer that must NULL; (3,7) raw text.
    * The oracle never parses — it recomputes the extracted text
    * closed-form from the documents table; hand-built operator/
    * encoding/strict-probe vectors are additionally pinned in
    * PdfTextSpec.
    */
  val sourcePdf = QueryDef(
    "llm_source_pdf",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def asciiHex(c: Column): Column = hex(c.cast(BinaryType))
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      val hdr = "%PDF-1.4\n"
      val obj1 = "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
      val obj2 = "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
      val obj3 = "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R" +
        " /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
      val obj5 = "5 0 obj\n<< /Type /Font /Subtype /Type1" +
        " /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>\nendobj\n"
      val o1 = hdr.length
      val o2 = o1 + obj1.length
      val o3 = o2 + obj2.length
      val o4 = o3 + obj3.length
      /** Whole-PDF hex: fixed scaffold + per-lane stream, xref offsets
        * by column arithmetic.
        */
      def pdfHex(filterDict: String, streamLen: Column,
          streamHex: Column, trailerExtra: String): Column = {
        val pre4 = s"4 0 obj\n<< $filterDict/Length "
        val mid4 = " >>\nstream\n"
        val post4 = "\nendstream\nendobj\n"
        val o5 = lit(o4 + pre4.length + mid4.length + post4.length) +
          length(streamLen.cast(StringType)) + streamLen
        val xr = o5 + lit(obj5.length)
        def ent(o: Column) =
          concat(lpad(o.cast(StringType), 10, "0"), lit(" 00000 n \n"))
        val xrefBlock = concat(
          lit("xref\n0 6\n0000000000 65535 f \n"),
          ent(lit(o1)), ent(lit(o2)), ent(lit(o3)), ent(lit(o4)), ent(o5),
          lit(s"trailer\n<< /Size 6 /Root 1 0 R $trailerExtra>>\n" +
            "startxref\n"),
          xr.cast(StringType), lit("\n%%EOF"))
        concat(
          asciiHex(lit(hdr + obj1 + obj2 + obj3 + pre4)),
          asciiHex(streamLen.cast(StringType)),
          asciiHex(lit(mid4)),
          streamHex,
          asciiHex(lit(post4 + obj5)),
          asciiHex(xrefBlock))
      }
      val ascii = regexp_replace(col("text"), "[^\\x20-\\x7e]", "")
      val esc = replace(replace(replace(ascii,
        lit("\\"), lit("\\\\")), lit("("), lit("\\(")),
        lit(")"), lit("\\)"))
      // lane 0: plain Tj
      val c0 = concat(lit("BT /F1 12 Tf ("), esc, lit(") Tj ET"))
      // lane 1: TJ with a word gap + T* line break, Flate-compressed
      val c1 = concat(lit("BT /F1 9 Tf [("), esc,
        lit(") -250 (tail)] TJ T* (line2) Tj ET"))
      val c1len = octet_length(c1)
      val zlibHex = concat(lit("780101"), le16(c1len),
        le16(lit(65535) - c1len), asciiHex(c1),
        lpad(hex(graft.functions.Checksums.adler32_fn(
          c1.cast(BinaryType))), 8, "0"))
      // lane 2: WinAnsi octal curly quotes around a marker
      val c2 = concat(lit("BT /F1 9 Tf (\\223marker\\224 "), esc,
        lit(") Tj ET"))
      val m = pmod(col("doc_id"), lit(4))
      val blob = when(m === 0,
          unhex(pdfHex("", octet_length(c0), asciiHex(c0), "")))
        .when(m === 1,
          unhex(pdfHex("/Filter /FlateDecode ", c1len + 11, zlibHex, "")))
        .when(pmod(col("doc_id"), lit(8)) === 2,
          unhex(pdfHex("", octet_length(c2), asciiHex(c2), "")))
        .when(pmod(col("doc_id"), lit(8)) === 6, // encrypted: strict NULL
          unhex(pdfHex("", octet_length(c0), asciiHex(c0),
            "/Encrypt 5 0 R ")))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      val txt = graft.functions.PdfText.pdf_text(blob)
      docsPar(s, dir)
        .select(col("doc_id"), txt.as("__t"))
        .select(col("doc_id"),
          length(col("__t")).as("n_chars_pdf"),
          md5(col("__t").cast(BinaryType)).as("fp"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               regexp_replace(text, '[^ -~]', '', 'g') AS a
        FROM documents),
      e AS (
        SELECT doc_id,
          CASE WHEN doc_id % 4 = 0 THEN a
               WHEN doc_id % 4 = 1 THEN a || ' tail' || chr(10) || 'line2'
               WHEN doc_id % 8 = 2 THEN '“marker” ' || a
          END AS e
        FROM d)
      SELECT doc_id,
             CAST(length(e) AS INTEGER) AS n_chars_pdf,
             md5(e) AS fp
      FROM e ORDER BY doc_id"""))

  /** WHATWG charset sniffing on the crawl line (functions/WhatwgDecode,
    * round 16): what a BROWSER does to the fetched bytes — the HTML5
    * rules the plain label-match path (llm_crawl_charset) cannot see.
    * Lanes per doc_id mod, each marker chosen so the WRONG rule
    * mismatches: (0) a page LABELED iso-8859-1 whose 0x93/0x94 bytes
    * must decode as curly quotes — only the windows-1252 PROMOTION
    * produces them (ISO-8859-1 proper maps 0x80–0x9F to control chars);
    * (1) a charset-less Content-Type whose encoding arrives ONLY via a
    * `<meta http-equiv>` pragma labeled latin1, behind a comment
    * containing a DECOY charset the prescan must skip; (2) no label and
    * a UTF-8 BOM that must be consumed; (6) a latin-1 LABEL beaten by a
    * UTF-16LE BOM — BOM outranks transport; (3,7) nothing anywhere —
    * the utf-8 default. The sniffed encoding is surfaced per row, so
    * the oracle pins WHICH rule fired, not just the decoded text.
    */
  val crawlCharsetSniff = QueryDef(
    "llm_crawl_charset_sniff",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def asciiHex(c: Column): Column = hex(c.cast(BinaryType))
      val ascii = regexp_replace(col("text"), "[^\\x20-\\x7e]", "")
      val escA = replace(replace(replace(ascii,
        lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;"))
      val escFull = replace(replace(replace(col("text"),
        lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;"))
      val pre = "<html><head><script>var x=1<2;</script></head>" +
        "<body><h1>H</h1><p>"
      val preMeta = "<html><head><!-- charset=utf-16le -->" +
        "<meta http-equiv=\"Content-Type\" " +
        "content=\"text/html; charset=latin1\"></head>" +
        "<body><h1>H</h1><p>"
      val post = "</p><!-- c --></body></html>"
      // “marker” in windows-1252: the 0x93/0x94 curly-quote bytes
      val markerHex = "936D61726B657294"
      val staged = docsPar(s, dir)
        .withColumn("__pg0", concat(asciiHex(lit(pre)), lit(markerHex),
          asciiHex(concat(lit(" "), escA, lit(post)))))
        .withColumn("__pg1", concat(asciiHex(lit(preMeta)), lit(markerHex),
          asciiHex(concat(lit(" "), escA, lit(post)))))
        .withColumn("__pg2", concat(lit("EFBBBF"),
          hex(concat(lit(pre + "marker "), escFull, lit(post))
            .cast(BinaryType))))
        .withColumn("__pgA",
          asciiHex(concat(lit(pre + "marker "), escA, lit(post))))
        .withColumn("__pg6", concat(lit("FFFE"),
          regexp_replace(col("__pgA"), "(..)", "$100")))
        .withColumn("__pg3",
          hex(concat(lit(pre + "marker "), escFull, lit(post))
            .cast(BinaryType)))
        .withColumn("__http", {
          val m = pmod(col("doc_id"), lit(4))
          def resp(ct: String, pageHex: Column): Column = concat(
            asciiHex(concat(
              lit("HTTP/1.1 200 OK\r\nServer: g\r\n" + ct +
                "Content-Length: "),
              (length(pageHex) / 2).cast(LongType), lit("\r\n\r\n"))),
            pageHex)
          when(m === 0,
            resp("Content-Type: text/html; charset=ISO-8859-1\r\n",
              col("__pg0")))
            .when(m === 1,
              resp("Content-Type: text/html\r\n", col("__pg1")))
            .when(pmod(col("doc_id"), lit(8)) === 2,
              resp("", col("__pg2")))
            .when(pmod(col("doc_id"), lit(8)) === 6,
              resp("Content-Type: text/html; charset=iso-8859-1\r\n",
                col("__pg6")))
            .otherwise(resp("", col("__pg3")))
        })
      val h = graft.functions.HttpBody.http_body(unhex(col("__http")))
      val body = h.getField("body")
      val label = coalesce(regexp_extract(h.getField("content_type"),
        "charset=\"?([a-z0-9_.:-]+)", 1), lit(""))
      val enc = graft.functions.WhatwgDecode.whatwg_encoding(body, label)
      val decoded = graft.functions.WhatwgDecode.whatwg_decode(body, label)
      val txt = graft.functions.HtmlText.html_text(
        encode(decoded, "UTF-8"))
      staged
        .select(col("doc_id"), enc.as("__e"), txt.as("__t"))
        .select(col("doc_id"),
          col("__e").as("encoding"),
          TextAnalysis.tokenCountFromTokens(
            TextAnalysis.tokenArray(col("__t"))).as("n_tokens"),
          md5(col("__t").cast(BinaryType)).as("fp"))
        .orderBy("doc_id")
    },
    Some(raw"""
      WITH t0 AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(text, '[^ -~]',
                 '', 'g'), '[\s]+', ' ', 'g')) AS a,
               trim(regexp_replace(text, '[\s]+', ' ', 'g')) AS c
        FROM documents),
      e AS (
        SELECT doc_id,
          CASE
            WHEN doc_id % 4 IN (0, 1) THEN
              CASE WHEN a = '' THEN 'H “marker”'
                   ELSE 'H “marker” ' || a END
            WHEN doc_id % 8 = 6 THEN
              CASE WHEN a = '' THEN 'H marker' ELSE 'H marker ' || a END
            ELSE CASE WHEN c = '' THEN 'H marker'
                      ELSE 'H marker ' || c END
          END AS e,
          CASE WHEN doc_id % 4 IN (0, 1) THEN 'windows-1252'
               WHEN doc_id % 8 = 6 THEN 'utf-16le'
               ELSE 'utf-8' END AS enc
        FROM t0)
      SELECT doc_id, enc AS encoding,
        CAST(len(regexp_split_to_array(e, '[\s]+')) AS INTEGER)
          AS n_tokens,
        md5(e) AS fp
      FROM e ORDER BY doc_id"""))

  val crawlCharset = QueryDef(
    "llm_crawl_charset",
    (s, dir) => {
      import org.apache.spark.sql.Column
      val crlfH = "0D0A"
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      def asciiHex(c: Column): Column = hex(c.cast(BinaryType))
      // ASCII-sanitized, html-escaped document text (lanes 0/1 need a
      // deterministic single-byte/UTF-16 expansion)
      val ascii = regexp_replace(col("text"), "[^\\x20-\\x7e]", "")
      val escA = replace(replace(replace(ascii,
        lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;"))
      val escFull = replace(replace(replace(col("text"),
        lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;"))
      // "café über" in LATIN-1: 636166E9 20 FC626572
      val markerL1 = "636166E920FC626572"
      val pre = "<html><head><script>var x=1<2;</script></head>" +
        "<body><h1>H</h1><p>"
      val post = "</p><!-- c --></body></html>"
      val staged = docsPar(s, dir)
        // lane 0 page: latin-1 bytes = ascii parts + the marker hex
        .withColumn("__pg0", concat(asciiHex(lit(pre)), lit(markerL1),
          asciiHex(concat(lit(" "), escA, lit(post)))))
        // lane 1 page: ASCII page expanded to UTF-16LE (interleave 00)
        .withColumn("__pgA", asciiHex(concat(lit(pre), lit("marker "),
          escA, lit(post))))
        .withColumn("__pg1", regexp_replace(col("__pgA"), "(..)", "$100"))
        // lane 2 page: full UTF-8 text
        .withColumn("__pg2", hex(concat(lit(pre), lit("marker "), escFull,
          lit(post)).cast(BinaryType)))
        .withColumn("__http", {
          val m = pmod(col("doc_id"), lit(4))
          def resp(ct: String, pageHex: Column): Column = concat(
            asciiHex(concat(
              lit("HTTP/1.1 200 OK\r\nServer: g\r\n" + ct +
                "Content-Length: "),
              (length(pageHex) / 2).cast(LongType), lit("\r\n\r\n"))),
            pageHex)
          when(m === 0,
            resp("Content-Type: Text/HTML; Charset=ISO-8859-1\r\n",
              col("__pg0")))
            .when(m === 1,
              resp("content-type: text/html;charset=utf-16le\r\n",
                col("__pg1")))
            .when(m === 2,
              resp("Content-Type: text/html; charset=\"utf-8\"\r\n",
                col("__pg2")))
            .otherwise(resp("", col("__pg2")))
        })
        .withColumn("__seg", concat(
          asciiHex(concat(lit("WARC/1.0\r\nWARC-Type: response\r\n" +
            "Content-Length: "), (length(col("__http")) / 2).cast(LongType),
            lit("\r\n\r\n"))),
          col("__http"), lit(crlfH), lit(crlfH)))
      val sl = (length(col("__seg")) / 2).cast(IntegerType)
      val gz = unhex(concat(lit("1F8B" + "08000000000000" + "03"),
        lit("01"), le16(sl), le16(lit(65535) - sl),
        col("__seg"),
        le32(crc32(unhex(col("__seg")))), le32(sl)))
      val h = graft.functions.HttpBody.http_body(element_at(
        graft.functions.WarcRecords.warc_payloads(
          graft.functions.GzipInflate.gzip_inflate(gz)), 1))
      val ct = h.getField("content_type")
      val body = h.getField("body")
      val cs = regexp_extract(ct, "charset=\"?([a-z0-9_-]+)", 1)
      val decoded = when(cs === "iso-8859-1", decode(body, "ISO-8859-1"))
        .when(cs === "utf-16le", decode(body, "UTF-16LE"))
        .otherwise(decode(body, "UTF-8"))
      val txt = graft.functions.HtmlText.html_text(
        encode(decoded, "UTF-8"))
      staged
        .select(col("doc_id"), ct.as("__ct"), txt.as("__t"))
        .select(col("doc_id"),
          col("__ct").as("content_type"),
          TextAnalysis.tokenCountFromTokens(
            TextAnalysis.tokenArray(col("__t"))).as("n_tokens"),
          md5(col("__t").cast(BinaryType)).as("fp"))
        .orderBy("doc_id")
    },
    Some(raw"""
      WITH t0 AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(text, '[^ -~]',
                 '', 'g'), '[\s]+', ' ', 'g')) AS a,
               trim(regexp_replace(text, '[\s]+', ' ', 'g')) AS c
        FROM documents),
      e AS (
        SELECT doc_id,
          CASE CAST(doc_id % 4 AS INTEGER)
            WHEN 0 THEN CASE WHEN a = '' THEN 'H café über'
                             ELSE 'H café über ' || a END
            WHEN 1 THEN CASE WHEN a = '' THEN 'H marker'
                             ELSE 'H marker ' || a END
            ELSE CASE WHEN c = '' THEN 'H marker'
                      ELSE 'H marker ' || c END
          END AS e,
          CASE CAST(doc_id % 4 AS INTEGER)
            WHEN 0 THEN 'text/html; charset=iso-8859-1'
            WHEN 1 THEN 'text/html;charset=utf-16le'
            WHEN 2 THEN 'text/html; charset="utf-8"'
          END AS ct
        FROM t0)
      SELECT doc_id, ct AS content_type,
        CAST(len(regexp_split_to_array(e, '[\s]+')) AS INTEGER)
          AS n_tokens,
        md5(e) AS fp
      FROM e ORDER BY doc_id"""))

  val crawlQuality = QueryDef(
    "llm_crawl_quality",
    (s, dir) => {
      import org.apache.spark.sql.Column
      val esc = replace(replace(replace(col("text"),
        lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;"))
      val page = concat(
        lit("<!DOCTYPE html><html><head><script>var x=1<2;</script>" +
          "<style>p{}</style></head><body><h1>H</h1><p>"),
        esc, lit("</p><!-- c --></body></html>"))
      val crlf = "\r\n"
      val seg = concat(lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
        "Content-Length: "), octet_length(page), lit(crlf + crlf),
        page, lit(crlf + crlf))
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      val sl = octet_length(seg)
      val gz = unhex(concat(lit("1F8B" + "08000000000000" + "03"),
        lit("01"), le16(sl), le16(lit(65535) - sl),
        hex(seg.cast(BinaryType)),
        le32(crc32(seg.cast(BinaryType))), le32(sl)))
      val extracted = graft.functions.HtmlText.html_text(element_at(
        graft.functions.WarcRecords.warc_payloads(
          graft.functions.GzipInflate.gzip_inflate(gz)), 1))
      documents(s, dir)
        .select(col("doc_id"), extracted.as("__t"))
        .select(col("doc_id"), col("__t"),
          TextAnalysis.tokenArray(col("__t")).as("__toks"))
        .select(col("doc_id"),
          TextAnalysis.tokenCountFromTokens(col("__toks")).as("n_tokens"),
          TextAnalysis.avgTokenLenFromTokens(col("__toks"))
            .as("avg_token_len"),
          TextAnalysis.stopwordRatioFromTokens(col("__toks"))
            .as("stopword_ratio"),
          TextAnalysis.qualityScoreFromTokens(col("__toks"))
            .as("quality_score"),
          md5(col("__t").cast(BinaryType)).as("fp"))
        .orderBy("doc_id")
    },
    Some(raw"""
      WITH t0 AS (
        SELECT doc_id,
               trim(regexp_replace(text, '[\s\x0b]+', ' ', 'g')) AS c
        FROM documents),
      e AS (
        SELECT doc_id,
               CASE WHEN c = '' THEN 'H' ELSE 'H ' || c END AS e
        FROM t0),
      t AS (
        SELECT doc_id, e,
          len(regexp_split_to_array(e, '[\s\x0b]+')) AS n,
          length(regexp_replace(e, '[\s\x0b]+', '', 'g')) AS letters,
          len(list_filter(regexp_split_to_array(e, '[\s\x0b]+'),
            x -> x IN ('the','a','an','and','of','to','in'))) AS stops
        FROM e)
      SELECT doc_id,
        CAST(n AS INTEGER) AS n_tokens,
        CASE WHEN n = 0 THEN 0.0
             ELSE CAST(letters AS DOUBLE) / CAST(n AS DOUBLE)
             END AS avg_token_len,
        CASE WHEN n = 0 THEN 0.0
             ELSE CAST(stops AS DOUBLE) / CAST(n AS DOUBLE)
             END AS stopword_ratio,
        least(1.0, CAST(n AS DOUBLE) / 100.0) * 0.4
          + least(1.0, (CASE WHEN n = 0 THEN 0.0
              ELSE CAST(letters AS DOUBLE) / CAST(n AS DOUBLE) END)
              / 8.0) * 0.3
          + (1.0 - CASE WHEN n = 0 THEN 0.0
              ELSE CAST(stops AS DOUBLE) / CAST(n AS DOUBLE) END) * 0.3
          AS quality_score,
        md5(e) AS fp
      FROM t ORDER BY doc_id"""))

  // --- tar construction helpers (driver-side constant arithmetic for
  // the fixed ustar fields; the VARIABLE name/size sums are column
  // arithmetic in the query) — construction only, independent of the
  // TarEntries parser, which is pinned against real `tar` output in
  // TarEntriesSpec ---
  private def tarByteSum(s: String): Int = s.getBytes("UTF-8").map(_ & 0xff).sum

  /** 3-byte little-endian hex of a block-header word (RFC 8878 §3.1.1.2). */
  private[queries] def zstLe24(c: Column): Column = {
    val x = lpad(hex(c), 6, "0")
    concat(substring(x, 5, 2), substring(x, 3, 2), substring(x, 1, 2))
  }

  /** Column-space zstd RAW-block CHAIN: splits `payloadHex` into
    * ≤ 128 KB blocks — Block_Maximum_Size for any frame whose window
    * (or single-segment content size) is ≥ 128 KB — instead of one raw
    * block of the whole payload. The single-block form silently NULLed
    * on the engine side for payloads past 128 KB while the DuckDB
    * oracle still expected rows (r12 advice): with the chain the
    * column-built frames decode at ANY document size, so the
    * engine/oracle contract holds unconditionally (up to the decoder's
    * declared 64 MB bomb cap, far past any testdata document).
    */
  private[queries] def zstRawBlocksHex(payloadHex: Column): Column = {
    val B = 131072L
    val len = (length(payloadHex) / 2).cast(LongType)
    val nBlocks = greatest(
      floor((len + lit(B - 1)) / lit(B)).cast(LongType), lit(1L))
    // fast path: one block covers it (every testdata doc) — the chain's
    // transform/sequence/substr machinery measured ~2x on the zst lanes
    // (r13 bench), so pay it only when a payload actually needs it
    when(len <= B, concat(zstLe24(len * 8 + 1), payloadHex))
      .otherwise(array_join(transform(sequence(lit(0L), nBlocks - 1), i => {
        val off = i * lit(B)
        val size = least(len - off, lit(B))
        val last = when(i === nBlocks - 1, lit(1L)).otherwise(lit(0L))
        concat(zstLe24(size * 8 + last),
          payloadHex.substr((off * 2 + 1).cast(IntegerType),
            (size * 2).cast(IntegerType)))
      }), ""))
  }

  /** RLE twin of [[zstRawBlocksHex]]: regenerates `totalLen` copies of
    * the single byte `byteHex` in ≤ 128 KB RLE blocks (type 1 header,
    * one stored byte per block) — the regenerated size of an RLE block
    * is bounded by Block_Maximum_Size exactly like a raw block's stored
    * size, so the long-document divergence class is the same.
    */
  private[queries] def zstRleBlocksHex(totalLen: Column,
      byteHex: String): Column = {
    val B = 131072L
    val len = totalLen.cast(LongType)
    val nBlocks = greatest(
      floor((len + lit(B - 1)) / lit(B)).cast(LongType), lit(1L))
    when(len <= B, concat(zstLe24(len * 8 + 2 + 1), lit(byteHex)))
      .otherwise(array_join(transform(sequence(lit(0L), nBlocks - 1), i => {
        val off = i * lit(B)
        val size = least(len - off, lit(B))
        val last = when(i === nBlocks - 1, lit(1L)).otherwise(lit(0L))
        concat(zstLe24(size * 8 + 2 + last), lit(byteHex))
      }), ""))
  }
  private def tarHexOf(s: String): String =
    s.getBytes("UTF-8").map("%02x".format(_)).mkString
  private def tarFieldHex(s: String, width: Int): String =
    tarHexOf(s) + "00" * (width - s.getBytes("UTF-8").length)
  private val TarMode = "0000644\u0000"
  private val TarUid = "0000000\u0000"
  private val TarMtime = "00000000000 "
  private def tarMagicVer(gnu: Boolean): String =
    if (gnu) "ustar " + " \u0000" else "ustar\u0000" + "00"

  /** Shared by llm_source_tar and llm_source_targz -- the composed
    * query's per-doc outputs equal the direct one's exactly.
    */
  private val tarOracleSql = """
      WITH valid AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <= 1),
      r AS (
        SELECT doc_id, 0 AS entry_idx,
               CASE WHEN doc_id % 4 = 0
                    THEN 'doc' || CAST(doc_id AS VARCHAR) || '.txt'
                    ELSE 'corpus/doc' || CAST(doc_id AS VARCHAR) || '.txt'
               END AS name,
               '0' AS typeflag, CAST(strlen(text) AS BIGINT) AS size,
               md5(text) AS payload_md5
        FROM valid
        UNION ALL
        SELECT doc_id, 1, 'meta/info', '0', CAST(2 AS BIGINT), md5('ok')
        FROM valid
        UNION ALL
        SELECT doc_id, NULL, NULL, NULL, NULL, NULL
        FROM documents WHERE doc_id % 4 >= 2)
      SELECT doc_id, CAST(entry_idx AS INTEGER) AS entry_idx, name,
             typeflag, size, payload_md5
      FROM r ORDER BY doc_id, entry_idx NULLS FIRST"""

  /** A fully constant 512+512-byte tar entry (header + padded payload)
    * as hex: name "meta/info", 2-byte payload "ok" — the second entry
    * of every valid lane, in the POSIX or GNU magic spelling.
    */
  private def tarConstEntryHex(gnu: Boolean): String = {
    val name = "meta/info"
    val szoct = "00000000002 "
    val sum = tarByteSum(name) + tarByteSum(TarMode + TarUid + TarUid) +
      tarByteSum(szoct) + tarByteSum(TarMtime) + 8 * 32 + '0'.toInt +
      tarByteSum(tarMagicVer(gnu))
    val chk = "%06o".format(sum) + "\u0000 "
    tarFieldHex(name, 100) + tarHexOf(TarMode + TarUid + TarUid) +
      tarHexOf(szoct) + tarHexOf(TarMtime) + tarHexOf(chk) + "30" +
      "00" * 100 + tarHexOf(tarMagicVer(gnu)) + "00" * 80 + "00" * 155 +
      "00" * 12 + tarFieldHex("ok", 512)
  }

  /** Column asciiSum over an ASCII column — the tar checksum's
    * variable part (header checksum = unsigned byte sum with the
    * checksum field as 8 spaces, POSIX.1-1988).
    */
  private def tarAsciiSum(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    aggregate(split(c, ""), lit(0), (a, ch) => a + ascii(ch))

  /** Shared tar-construction STAGING for the wrapped-container family
    * (llm_source_targz / tarzst / tarxz): stages `__name`/`__szoct`/
    * `__paypad` and then `__tarhex` — the complete per-row tar archive
    * as hex, lane-selected by doc_id % 4 (plain POSIX; GNU second
    * entry + PREFIX field; plain again for the corrupt-OUTER-layer
    * lane; flipped header checksum). Materializing `__tarhex` as a
    * REAL column is the r13 plan-size fix: every compression wrapper
    * then references ONE attribute instead of re-inlining the
    * ~500-node tar concat per reference — the un-staged tarxz
    * composition held ~150-200 copies of this subtree and broadcast
    * 78-107 MiB task binaries, which timed out the r13 driver bench.
    * (CollapseProject will not inline a non-cheap expression that is
    * consumed more than once, so the staged Projects survive into the
    * physical plan as single computations.)
    */
  private def tarHexStaged(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val base = docsPar(s, dir)
      .withColumn("__name", concat(lit("doc"), col("doc_id"), lit(".txt")))
      .withColumn("__sz", octet_length(col("text")))
      .withColumn("__szoct", lpad(conv(col("__sz"), 10, 8), 11, "0"))
      .withColumn("__paypad",
        expr("rpad(hex(cast(text AS BINARY)), " +
          "cast((__sz + 511) div 512 AS INT) * 1024, '0')"))
    def entry0Hdr(prefix: String, chkBump: Int): Column = {
      val constSum = tarByteSum(TarMode + TarUid + TarUid) +
        tarByteSum(TarMtime) + 8 * 32 + '0'.toInt +
        tarByteSum(tarMagicVer(gnu = false)) + tarByteSum(prefix)
      val chk = lit(constSum + 32 + chkBump) + tarAsciiSum(col("__name")) +
        tarAsciiSum(col("__szoct"))
      concat(
        rpad(hex(col("__name").cast(BinaryType)), 200, "0"),
        lit(tarHexOf(TarMode + TarUid + TarUid)),
        hex(col("__szoct").cast(BinaryType)), lit("20"),
        lit(tarHexOf(TarMtime)),
        hex(lpad(conv(chk, 10, 8), 6, "0").cast(BinaryType)), lit("0020"),
        lit("30"), lit("00" * 100),
        lit(tarHexOf(tarMagicVer(gnu = false))),
        lit("00" * 80), lit(tarFieldHex(prefix, 155)), lit("00" * 12))
    }
    def tarHexCol(prefix: String, gnuSecond: Boolean,
        chkBump: Int): Column = concat(
      entry0Hdr(prefix, chkBump), col("__paypad"),
      lit(tarConstEntryHex(gnuSecond)), lit("00" * 1024))
    base.withColumn("__tarhex",
      when(pmod(col("doc_id"), lit(4)) === 1,
        tarHexCol("corpus", gnuSecond = true, 0))
        .when(pmod(col("doc_id"), lit(4)) === 3,
          tarHexCol("", gnuSecond = false, 1))
        .otherwise(tarHexCol("", gnuSecond = false, 0)))
  }

  /** Staged xz single-block stream builder: materializes the LZMA2 chunk
    * chain, its byte length, the index, and the footer body as REAL
    * columns, then assembles `out` from attributes only. xzVint
    * references its argument 10 times and the index CRC re-references
    * the whole index — over attributes that is free; over the inlined
    * tar subtree it was the multiplicative blow-up the r13 verdict
    * root-caused (~6 min at sf0.1 for llm_source_tarxz). Byte-for-byte
    * identical output to the removed un-staged builder (same
    * sub-expressions, just staged); the magic and the flipped-check
    * delta ride per-row COLUMNS so the corrupt-outer and bad-check
    * lanes stay lanes, not extra plan copies. Validated byte-for-byte
    * against CPython lzma (XzInflateSpec pins + the adversarial hash).
    */
  private[queries] def xzStreamStaged(df: org.apache.spark.sql.DataFrame,
      payloadCol: String, magicCol: String, ckDelta: Column,
      out: String): org.apache.spark.sql.DataFrame = {
    val p = col(payloadCol)
    df.withColumn("__xz_len", (length(p) / 2).cast(LongType))
      .withColumn("__xz_data", xzChunksHex(p))
      .withColumn("__xz_csize", (length(col("__xz_data")) / 2).cast(LongType))
      .withColumn("__xz_unpadded", col("__xz_csize") + 16)
      .withColumn("__xz_idx", {
        val idxBody = concat(lit("0001"), xzVint(col("__xz_unpadded")),
          xzVint(col("__xz_len")))
        val idxBodyLen = lit(2) + xzVlen(col("__xz_unpadded")) +
          xzVlen(col("__xz_len"))
        val ipad = pmod(lit(4) - pmod(idxBodyLen, lit(4)), lit(4))
        concat(idxBody,
          when(ipad === 0, lit("")).otherwise(
            lit("000000").substr(lit(1), (ipad * 2).cast(IntegerType))))
      })
      .withColumn("__xz_ftrbody", {
        val idxSize = (length(col("__xz_idx")) / 2) + 4
        concat(xzLe32((idxSize / 4).cast(LongType) - 1), lit("0001"))
      })
      .withColumn(out, {
        val bpad = pmod(lit(4) - pmod(col("__xz_csize"), lit(4)), lit(4))
        val ck = xzLe32(pmod(crc32(unhex(p)) + ckDelta, lit(4294967296L)))
        concat(col(magicCol), lit("0001" + "6922de36"),
          lit("0200210100000000" + "372797d6"),
          col("__xz_data"),
          when(bpad === 0, lit("")).otherwise(
            lit("000000").substr(lit(1), (bpad * 2).cast(IntegerType))),
          ck,
          col("__xz_idx"), xzLe32(crc32(unhex(col("__xz_idx")))),
          xzLe32(crc32(unhex(col("__xz_ftrbody")))), col("__xz_ftrbody"),
          lit("595a"))
      })
  }

  /** In-engine TAR parsing (functions/TarEntries — POSIX ustar, the
    * container training corpora actually ship): per-doc two-entry
    * archives parsed to (entry_idx, name, typeflag, size, payload_md5),
    * constructed entirely in column space INCLUDING the verified header
    * checksum (constant field sums are Scala arithmetic, the name/size
    * sums are aggregate(split(...), ascii) columns). Four lanes: a
    * plain POSIX archive; a POSIX entry using the PREFIX field
    * ("corpus" → name joins as corpus/doc<id>.txt) followed by a
    * GNU-magic ("ustar  \0") entry — both spellings load-bearing; a
    * corrupt pair alternating a FLIPPED CHECKSUM with a size field
    * lying ~1e8 bytes past the input (strict NULL, the overrun guard);
    * and a raw-text lane. The oracle is pure arithmetic (names/sizes/
    * md5s from doc fields). Map-only, codegen'd; real `tar` binary
    * output is pinned in TarEntriesSpec.
    */
  val sourceTar = QueryDef(
    "llm_source_tar",
    (s, dir) => {
      import org.apache.spark.sql.Column
      val base = documents(s, dir)
        .withColumn("__name", concat(lit("doc"), col("doc_id"), lit(".txt")))
        .withColumn("__sz", octet_length(col("text")))
        .withColumn("__szoct", lpad(conv(col("__sz"), 10, 8), 11, "0"))
        .withColumn("__szoct_lie",
          lpad(conv(col("__sz") + 100000000, 10, 8), 11, "0"))
        .withColumn("__paypad",
          expr("rpad(hex(cast(text AS BINARY)), " +
            "cast((__sz + 511) div 512 AS INT) * 1024, '0')"))
      def entry0Hdr(prefix: String, szoct: Column, chkBump: Int): Column = {
        val constSum = tarByteSum(TarMode + TarUid + TarUid) +
          tarByteSum(TarMtime) + 8 * 32 + '0'.toInt +
          tarByteSum(tarMagicVer(gnu = false)) + tarByteSum(prefix)
        val chk = lit(constSum + 32 + chkBump) + tarAsciiSum(col("__name")) +
          tarAsciiSum(szoct)
        concat(
          rpad(hex(col("__name").cast(BinaryType)), 200, "0"),
          lit(tarHexOf(TarMode + TarUid + TarUid)),
          hex(szoct.cast(BinaryType)), lit("20"),
          lit(tarHexOf(TarMtime)),
          hex(lpad(conv(chk, 10, 8), 6, "0").cast(BinaryType)), lit("0020"),
          lit("30"), lit("00" * 100),
          lit(tarHexOf(tarMagicVer(gnu = false))),
          lit("00" * 80), lit(tarFieldHex(prefix, 155)), lit("00" * 12))
      }
      val endHex = lit("00" * 1024)
      def archive(prefix: String, gnuSecond: Boolean, szoct: Column,
          chkBump: Int): Column = concat(
        entry0Hdr(prefix, szoct, chkBump), col("__paypad"),
        lit(tarConstEntryHex(gnuSecond)), endHex)
      val blob = when(pmod(col("doc_id"), lit(4)) === 0,
          unhex(archive("", gnuSecond = false, col("__szoct"), 0)))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          unhex(archive("corpus", gnuSecond = true, col("__szoct"), 0)))
        .when(pmod(col("doc_id"), lit(8)) === 2, // flipped checksum
          unhex(archive("", gnuSecond = false, col("__szoct"), 1)))
        .when(pmod(col("doc_id"), lit(8)) === 6, // size lies past input
          unhex(archive("", gnuSecond = false, col("__szoct_lie"), 0)))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      base
        .select(col("doc_id"),
          posexplode_outer(graft.functions.TarEntries.tar_entries(blob)))
        .select(col("doc_id"), col("pos").cast(IntegerType).as("entry_idx"),
          col("col.name").as("name"),
          col("col.typeflag").as("typeflag"),
          col("col.size").as("size"),
          col("col.payload_md5").as("payload_md5"))
        .orderBy("doc_id", "entry_idx")
    },
    Some(tarOracleSql))

  /** The composed archive-source pipeline: a tarball INSIDE a gzip
    * member — the literal `.tar.gz` layout every file-based training
    * corpus ships — decoded by tar_entries(gzip_inflate(blob)) in one
    * map-only plan (both codegen'd expressions fuse into the scan; the
    * warc.gz precedent, now for the archive family). Lanes mirror
    * llm_source_tar's valid pair verbatim, then separate the failure
    * layers: a corrupt GZIP magic (outer decode NULLs before the inner
    * parser runs) and a valid gzip whose INNER tar has a flipped
    * header checksum (outer succeeds, inner strict probe NULLs). The
    * per-doc outputs equal llm_source_tar's EXACTLY, so the adversarial
    * pin hash is shared — the composed plan provably lands on
    * identical rows.
    */
  val sourceTarGz = QueryDef(
    "llm_source_targz",
    (s, dir) => {
      import org.apache.spark.sql.Column
      val base = tarHexStaged(s, dir)
        .withColumn("__magic",
          when(pmod(col("doc_id"), lit(4)) === 2, lit("1E8B"))
            .otherwise(lit("1F8B"))) // corrupt gzip layer on lane 2
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      // one stored-deflate member over the STAGED `__tarhex` attribute —
      // lane divergence (GNU prefix / flipped inner checksum / corrupt
      // outer magic) already lives in `__tarhex`/`__magic`, so the gzip
      // wrapper appears ONCE in the plan instead of once per lane
      val t = col("__tarhex")
      val bl = length(t) / 2
      val blob = unhex(concat(col("__magic"), lit("08000000000000" + "03"),
        lit("01"), le16(bl), le16(lit(65535) - bl), t,
        le32(crc32(unhex(t))), le32(bl)))
      base
        .select(col("doc_id"),
          posexplode_outer(graft.functions.TarEntries.tar_entries(
            graft.functions.GzipInflate.gzip_inflate(blob))))
        .select(col("doc_id"), col("pos").cast(IntegerType).as("entry_idx"),
          col("col.name").as("name"),
          col("col.typeflag").as("typeflag"),
          col("col.size").as("size"),
          col("col.payload_md5").as("payload_md5"))
        .orderBy("doc_id", "entry_idx")
    },
    Some(tarOracleSql))

  /** COMPRESSED-block zstd lanes — the entropy-section structures SQL
    * can assemble, putting libzstd's compressed-block path (through
    * zstd_inflate) on the driver oracle (real encoder output from the
    * zstd CLI, zstd-jni and aircompressor is pinned in ZstdInflateSpec;
    * this row proves the block grammar end-to-end cross-engine). All
    * frames use an explicit window descriptor (windowLog 17 = 128 KiB,
    * so Block_Maximum_Size is the full 128 KB); the remaining encodable
    * bound — the 12-bit RLE-literals size header — is EXPLICIT: both
    * engine and oracle condition the compressed lanes on
    * octet_length(text) <= 4000, so oversize docs agree on NULL.
    * Lanes by doc_id % 4:
    *  (0) a Compressed block holding RLE LITERALS (2-byte 12-bit size
    *      header) and zero sequences → len × 'q';
    *  (1) RLE literals plus ONE LIVE SEQUENCE under RLE-mode FSE
    *      tables (accuracy 0 ⇒ every state/extra read is 0 bits; the
    *      backward bitstream is just the sentinel byte): ll=5 literals,
    *      then a 3-byte match at offset rep1=1 — the repeat-offset and
    *      overlap-copy machinery live — then the literal tail
    *      → (len+8) × 'q';
    *  (2) RESERVED block type → NULL;
    *  (3) raw text → NULL.
    */
  val sourceZstBlocks = QueryDef(
    "llm_source_zst_blocks",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      def le24(c: Column): Column = {
        val x = lpad(hex(c), 6, "0")
        concat(substring(x, 5, 2), substring(x, 3, 2), substring(x, 1, 2))
      }
      def b2(c: Column): Column = lpad(hex(c), 2, "0")
      val len = octet_length(col("text"))
      // RLE-literals header, 2-byte 12-bit form: type=1, SF=01
      def litHdr(n: Column): Column =
        concat(b2(pmod(n, lit(16)) * 16 + 5),
          b2((n.cast(LongType) / 16).cast(LongType)))
      // FHD 0x80: 4-byte FCS; WD 0x38: windowLog 17 (128 KiB) so the
      // Block_Maximum_Size ceiling is the full 128 KB, not 1 KB — the
      // binding bound left is the 12-bit RLE-literals size header (4095),
      // made EXPLICIT below: both engine and oracle condition the
      // compressed lanes on octet_length(text) <= 4000 (r12 advice)
      val magicWd = "28B52FFD" + "80" + "38"
      // lane 0: [litHdr][0x71 'q'][nbSeq=0] -> 4-byte compressed block
      val lane0 = concat(lit(magicWd), le32(len),
        le24(lit((4 << 3) | (2 << 1) | 1)), litHdr(len), lit("71" + "00"))
      // lane 1: one RLE-mode sequence: modes 0x54, LL sym 5, OF sym 0,
      // ML sym 0, sentinel-only backward stream -> 9-byte block
      val lane1 = concat(lit(magicWd), le32(len + 8),
        le24(lit((9 << 3) | (2 << 1) | 1)), litHdr(len + 5),
        lit("71" + "01" + "54" + "05" + "00" + "00" + "01"))
      // lane 2: reserved block type 3
      val lane2 = concat(lit(magicWd), le32(len),
        le24(lit((4 << 3) | (3 << 1) | 1)), litHdr(len), lit("71" + "00"))
      val m = pmod(col("doc_id"), lit(4))
      val fits = len <= 4000 // 12-bit literals header, minus lane1's +5
      val blob = when(m === 0 && fits, unhex(lane0))
        .when(m === 1 && fits, unhex(lane1))
        .when(m === 2, unhex(lane2))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      documents(s, dir)
        .select(col("doc_id"),
          graft.functions.ZstdInflate.zstd_inflate(blob).as("__d"))
        .select(col("doc_id"),
          octet_length(col("__d")).as("n_bytes"),
          md5(col("__d")).as("fp"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 AND strlen(text) <= 4000
                  THEN CAST(strlen(text) AS INTEGER)
                  WHEN doc_id % 4 = 1 AND strlen(text) <= 4000
                  THEN CAST(strlen(text) + 8 AS INTEGER)
                  END AS n_bytes,
             CASE WHEN doc_id % 4 = 0 AND strlen(text) <= 4000
                  THEN md5(repeat('q', strlen(text)))
                  WHEN doc_id % 4 = 1 AND strlen(text) <= 4000
                  THEN md5(repeat('q', strlen(text) + 8))
                  END AS fp
      FROM documents ORDER BY doc_id"""))

  /** The literal `.jsonl.zst` ingestion path — THE format modern text
    * corpora ship in (one JSON record per line, zstd-compressed
    * shards): zstd_inflate → line split → from_json, one map-only
    * plan. Each doc's shard holds its record line (id + HEX text —
    * hex keeps the JSON construction escape-free in column space and,
    * unlike Spark's MIME-chunking base64, never inserts line breaks) plus a constant meta line,
    * framed as a ≤128 KB RAW-block CHAIN (zstRawBlocksHex — any
    * payload size) with the declared content size live. Output pins
    * the whole composition: line count, the json-extracted id
    * roundtrip, and text equality THROUGH zstd+json+base64. Corrupt
    * lane flips one frame byte under a stale checksum → all-NULL row;
    * raw-text lane NULLs at the zstd layer.
    */
  val sourceJsonlZst = QueryDef(
    "llm_source_jsonl_zst",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      def le24(c: Column): Column = {
        val x = lpad(hex(c), 6, "0")
        concat(substring(x, 5, 2), substring(x, 3, 2), substring(x, 1, 2))
      }
      val jsonl = concat(lit("{\"i\":"), col("doc_id"), lit(",\"b\":\""),
        hex(col("text").cast(BinaryType)), lit("\"}\n"),
        lit("{\"i\":-1,\"b\":\"\"}\n"))
      val jl = jsonl.cast(BinaryType)
      val len = octet_length(jl)
      def frame(payloadHex: Column, sz: Column): Column = concat(
        lit("28B52FFD" + "A0"), le32(sz), zstRawBlocksHex(payloadHex))
      val m = pmod(col("doc_id"), lit(3))
      val blob = when(m === 0, unhex(frame(hex(jl), len)))
        .when(m === 1, // lying declared content size (+1): the exact-
          // output contract trips and the WHOLE row NULLs at the zstd
          // layer — nothing partial reaches the json stage
          unhex(frame(hex(jl), len + 1)))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      val dec = graft.functions.ZstdInflate.zstd_inflate(blob)
        .cast(StringType)
      val lines = filter(split(dec, "\n"), l => length(l) > 0)
      val rec = get_json_object(element_at(lines, 1), "$.i")
      val b64 = get_json_object(element_at(lines, 1), "$.b")
      val meta = get_json_object(element_at(lines, 2), "$.i")
      documents(s, dir)
        .select(col("doc_id"), col("text"),
          size(lines).as("__n"), rec.as("__i"), b64.as("__b"),
          meta.as("__m"))
        .select(col("doc_id"),
          when(col("__n") >= 0, col("__n")).as("n_lines"),
          col("__i").cast(LongType).as("rec_id"),
          col("__m").cast(LongType).as("meta_id"),
          (unhex(col("__b")).cast(StringType) === col("text"))
            .as("roundtrip"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 2 END AS n_lines,
             CASE WHEN doc_id % 3 = 0 THEN doc_id END AS rec_id,
             CASE WHEN doc_id % 3 = 0 THEN CAST(-1 AS BIGINT) END AS meta_id,
             CASE WHEN doc_id % 3 = 0 THEN TRUE END AS roundtrip
      FROM documents ORDER BY doc_id"""))

  /** The MODERN composed shard pipeline: a tarball inside a ZSTANDARD
    * frame — the `.tar.zst` layout new training corpora ship (zstd
    * replaced gzip as the default shard compression) — decoded by
    * tar_entries(zstd_inflate(blob)) in one map-only plan. The zstd
    * layer is a single-segment frame with a declared content size, a
    * ≤128 KB RAW-block chain (zstRawBlocksHex — valid at any tar size)
    * and the CONTENT CHECKSUM live (low-4 XXH64 via
    * xxh64_fn — construction exercises the verify path end-to-end).
    * Lanes mirror llm_source_targz's: the valid pair shares
    * [[tarOracleSql]] VERBATIM, so the adversarial pin hash is
    * identical across llm_source_tar / llm_source_targz /
    * llm_source_tarzst — three container routes provably landing on
    * the same rows; then the failure layers separate: a corrupt ZSTD
    * MAGIC (outer NULLs before the tar parser runs) vs a valid frame
    * whose INNER tar has a flipped header checksum.
    */
  val sourceTarZst = QueryDef(
    "llm_source_tarzst",
    (s, dir) => {
      import org.apache.spark.sql.Column
      val base = tarHexStaged(s, dir)
        .withColumn("__magic",
          when(pmod(col("doc_id"), lit(4)) === 2, lit("28B52FFC"))
            .otherwise(lit("28B52FFD"))) // corrupt zstd layer on lane 2
        // the RAW-block chain references its payload several times
        // (length + the chunk substrs) — stage it too, so the frame
        // assembly below is attributes end-to-end
        .withColumn("__blk", zstRawBlocksHex(col("__tarhex")))
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      val t = col("__tarhex")
      val bl = length(t) / 2
      val ck = graft.functions.Checksums.xxh64_fn(unhex(t))
        .bitwiseAND(lit(4294967295L))
      val blob = unhex(concat(col("__magic"), lit("A4"), le32(bl),
        col("__blk"), le32(ck)))
      base
        .select(col("doc_id"),
          posexplode_outer(graft.functions.TarEntries.tar_entries(
            graft.functions.ZstdInflate.zstd_inflate(blob))))
        .select(col("doc_id"), col("pos").cast(IntegerType).as("entry_idx"),
          col("col.name").as("name"),
          col("col.typeflag").as("typeflag"),
          col("col.size").as("size"),
          col("col.payload_md5").as("payload_md5"))
        .orderBy("doc_id", "entry_idx")
    },
    Some(tarOracleSql))

  /** The FOURTH container route to the same rows: a tarball inside an
    * XZ stream — `.tar.xz`, the layout kernel/source and many academic
    * archives ship. tar_entries(xz_inflate(blob)) in one map-only plan;
    * the xz layer is the column-built uncompressed-chunk stream of
    * [[xzStreamStaged]] with its CRC32 block check live. Shares
    * [[tarOracleSql]] VERBATIM, so the valid lanes' pin hash is
    * IDENTICAL across llm_source_tar / targz / tarzst / tarxz — four
    * container routes provably landing on the same rows; the failure
    * layers then separate: a corrupt XZ MAGIC (outer NULLs before the
    * tar parser runs) vs a valid stream whose INNER tar has a flipped
    * header checksum.
    */
  val sourceTarXz = QueryDef(
    "llm_source_tarxz",
    (s, dir) => {
      // STAGED composition (r13 verdict #1): `__tarhex` and every xz
      // intermediate (chunk chain, index, footer) are real columns, so
      // xzVint's 10 argument references and the index/footer CRCs each
      // land on an attribute — the un-staged xzStreamHex-over-tarHexCol
      // version re-inlined the whole tar builder ~150-200× per lane ×4
      // lanes, broadcast 78-107 MiB task binaries, ran ~6 min at sf0.1
      // and timed out the r13 driver bench.
      val base = xzStreamStaged(
        tarHexStaged(s, dir)
          .withColumn("__magic",
            when(pmod(col("doc_id"), lit(4)) === 2, lit("fc377a585a00"))
              .otherwise(lit("fd377a585a00"))), // corrupt xz layer lane 2
        "__tarhex", "__magic", lit(0L), "__xz")
      val blob = unhex(col("__xz"))
      base
        .select(col("doc_id"),
          posexplode_outer(graft.functions.TarEntries.tar_entries(
            graft.functions.XzInflate.xz_inflate(blob))))
        .select(col("doc_id"), col("pos").cast(IntegerType).as("entry_idx"),
          col("col.name").as("name"),
          col("col.typeflag").as("typeflag"),
          col("col.size").as("size"),
          col("col.payload_md5").as("payload_md5"))
        .orderBy("doc_id", "entry_idx")
    },
    Some(tarOracleSql))

  /** In-engine ZIP parsing (functions/ZipEntries — PKWARE APPNOTE, read
    * the spec-correct way from the CENTRAL DIRECTORY, per-entry CRC-32
    * verified, DEFLATE entries inflated in-engine): per-doc two-entry
    * archives — a STORED entry carrying the text and a METHOD-8 entry
    * whose deflate stream wraps the same text (so both decode paths
    * run on variable data and both md5s must agree with md5(text)) —
    * constructed entirely in column space: local headers, central
    * directory with exact offsets, and the end-of-central-directory
    * record whose count/size/offset fields the parser cross-checks.
    * Four lanes: plain; with an archive COMMENT (the EOCD backward
    * scan is load-bearing) and a local EXTRA field (local-vs-central
    * length divergence is load-bearing); a corrupt pair alternating a
    * FLIPPED entry CRC with LYING EOCD counts; raw text. Oracle is
    * pure arithmetic; real streaming-encoder output (JDK
    * ZipOutputStream, flag bit 3 + data descriptors) is pinned in
    * ZipEntriesSpec. Map-only, codegen'd.
    */
  val sourceZip = QueryDef(
    "llm_source_zip",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      val sz = octet_length(col("text"))
      val crc = crc32(col("text").cast(BinaryType))
      val nameA = concat(lit("doc"), col("doc_id"), lit(".txt"))
      val nameB = concat(lit("doc"), col("doc_id"), lit(".z"))
      val lenA = length(nameA)
      val lenB = length(nameB)
      def local(name: Column, method: Int, crcV: Column, csize: Column,
          usize: Column, extraHex: Column, dataHex: Column): Column = concat(
        // sig, version 20, flags 0, method (LE), time 0, date 0
        lit("504B030414000000"), lit("%02X00".format(method)),
        lit("00000000"), le32(crcV), le32(csize), le32(usize),
        le16(length(name)),
        le16((length(extraHex) / 2).cast(IntegerType)),
        hex(name.cast(BinaryType)), extraHex, dataHex)
      def central(name: Column, method: Int, crcV: Column, csize: Column,
          usize: Column, off: Column): Column = concat(
        // sig, made-by 20, needed 20, flags 0, method (LE), time, date
        lit("504B0102140014000000"), lit("%02X00".format(method)),
        lit("00000000"), le32(crcV), le32(csize), le32(usize),
        le16(length(name)), lit("0000" + "0000" + "0000" + "0000"),
        lit("00000000"), le32(off), hex(name.cast(BinaryType)))
      val commentHex = tarHexOf("archive comment with PK bait")
      // STAGED construction (the r14 tarxz discipline, here for the
      // 64 KB codegen limit: the un-staged 4-lane inline re-generated
      // the whole archive per lane and blew whole-stage codegen's
      // method-size cap — the bench's only interpreted-fallback query).
      // Lane divergence rides parameter COLUMNS (__extraA, __comment,
      // __crcA, __count); each archive section is a real column.
      val base = documents(s, dir)
        .withColumn("__texthex", hex(col("text").cast(BinaryType)))
        .withColumn("__extraA",
          when(pmod(col("doc_id"), lit(4)) === 1,
            lit("0102030405060708")).otherwise(lit("")))
        .withColumn("__comment",
          when(pmod(col("doc_id"), lit(4)) === 1,
            lit(commentHex)).otherwise(lit("")))
        .withColumn("__crcA", pmod(crc +
          when(pmod(col("doc_id"), lit(8)) === 2, 1).otherwise(0),
          lit(4294967296L))) // flipped entry CRC on lane 8k+2
        .withColumn("__count", lit(2) +
          when(pmod(col("doc_id"), lit(8)) === 6, 1).otherwise(0))
        // method-8 payload: one stored-deflate block over the text
        .withColumn("__defl", concat(lit("01"), le16(sz),
          le16(lit(65535) - sz), col("__texthex")))
        .withColumn("__locA", local(nameA, 0, col("__crcA"), sz, sz,
          col("__extraA"), col("__texthex")))
        .withColumn("__locB", local(nameB, 8, crc, sz + lit(5), sz,
          lit(""), col("__defl")))
        .withColumn("__cenA", central(nameA, 0, col("__crcA"), sz, sz,
          lit(0)))
        .withColumn("__cenB", central(nameB, 8, crc, sz + lit(5), sz,
          (length(col("__locA")) / 2).cast(IntegerType)))
        .withColumn("__eocd", concat(
          lit("504B050600000000"), le16(col("__count")),
          le16(col("__count")), le32(lit(92) + lenA + lenB),
          le32(((length(col("__locA")) + length(col("__locB"))) / 2)
            .cast(IntegerType)),
          le16((length(col("__comment")) / 2).cast(IntegerType)),
          col("__comment")))
      val blob = when(pmod(col("doc_id"), lit(4)) <= 2,
          unhex(concat(col("__locA"), col("__locB"), col("__cenA"),
            col("__cenB"), col("__eocd"))))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      base
        .select(col("doc_id"),
          posexplode_outer(graft.functions.ZipEntries.zip_entries(blob)))
        .select(col("doc_id"), col("pos").cast(IntegerType).as("entry_idx"),
          col("col.name").as("name"),
          col("col.method").as("method"),
          col("col.size").as("size"),
          col("col.payload_md5").as("payload_md5"))
        .orderBy("doc_id", "entry_idx")
    },
    Some("""
      WITH valid AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <= 1),
      r AS (
        SELECT doc_id, 0 AS entry_idx,
               'doc' || CAST(doc_id AS VARCHAR) || '.txt' AS name,
               0 AS method, CAST(strlen(text) AS BIGINT) AS size,
               md5(text) AS payload_md5
        FROM valid
        UNION ALL
        SELECT doc_id, 1, 'doc' || CAST(doc_id AS VARCHAR) || '.z', 8,
               CAST(strlen(text) AS BIGINT), md5(text)
        FROM valid
        UNION ALL
        SELECT doc_id, NULL, NULL, NULL, NULL, NULL
        FROM documents WHERE doc_id % 4 >= 2)
      SELECT doc_id, CAST(entry_idx AS INTEGER) AS entry_idx, name,
             CAST(method AS INTEGER) AS method, size, payload_md5
      FROM r ORDER BY doc_id, entry_idx NULLS FIRST"""))

  /** GIF LZW pixel decode (functions/GifPixels — the third fully-real
    * pixel format after BMP and PNG; the declared-fake line now holds
    * only entropy-coded JPEG): exact per-channel sums over constructed
    * GIF89a files whose LZW stream uses the CLEAR-per-literal coding —
    * with min-code-size 7 every code (clear 0x80, a literal, end 0x81)
    * is exactly one byte, so construction stays column arithmetic
    * while the decoder still runs its full variable-width dictionary
    * machine (real dictionary growth, width bumps, interlacing and the
    * javax.imageio canonical encoder are pinned in GifPixelsSpec).
    * Four lanes: a plain 128-entry global-palette image (all entries
    * the doc's RGB, so any index maps to it — the oracle stays
    * n_px·channel); a deliberately-WRONG global palette overridden by
    * a LOCAL color table, with a comment extension before the image
    * (LCT precedence and extension skipping are load-bearing); a
    * corrupt pair alternating a pixel index OUTSIDE a shrunk 2-entry
    * palette with an off-by-one pixel COUNT; raw text. Map-only,
    * codegen'd.
    */
  val multimodalPixelsGif = QueryDef(
    "llm_multimodal_pixels_gif",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      val w = (pmod(col("doc_id"), lit(3)) + 1).cast(IntegerType)
      val h = (pmod(col("n_chars"), lit(4)) + 1).cast(IntegerType)
      val rCh = pmod(col("doc_id") * 5, lit(256))
      val gCh = pmod(col("n_chars") * 7, lit(256))
      val bCh = pmod(col("doc_id") + col("n_chars") * 2, lit(256))
      val base = documents(s, dir)
        .withColumn("__w", w).withColumn("__h", h)
        .withColumn("__npx", w * h)
        .withColumn("__rgb", concat(lpad(hex(rCh), 2, "0"),
          lpad(hex(gCh), 2, "0"), lpad(hex(bCh), 2, "0")))
      val sig = lit("474946383961")
      def lsd(packed: String): Column =
        concat(le16(col("__w")), le16(col("__h")), lit(packed + "0000"))
      val gct128 = expr("repeat(__rgb, 128)")
      val wrongGct = lit("FF00FF" * 128)
      val comment = lit("21FE03414243" + "00")
      def imgDesc(packed: String): Column = concat(lit("2C00000000"),
        le16(col("__w")), le16(col("__h")), lit(packed))
      val trailer = lit("3B")
      // CLEAR-per-literal LZW at mcs 7: every code is one byte
      val lzwGood = concat(lit("07"),
        lpad(hex(col("__npx") * 2 + 1), 2, "0"),
        expr("repeat('8005', __npx)"), lit("8100"))
      val lzwExtra = concat(lit("07"),
        lpad(hex(col("__npx") * 2 + 3), 2, "0"),
        expr("repeat('8005', __npx + 1)"), lit("8100"))
      val blob = when(pmod(col("doc_id"), lit(4)) === 0,
          unhex(concat(sig, lsd("86"), gct128, imgDesc("00"), lzwGood,
            trailer)))
        .when(pmod(col("doc_id"), lit(4)) === 1, // wrong GCT, LCT wins
          unhex(concat(sig, lsd("86"), wrongGct, comment, imgDesc("86"),
            gct128, lzwGood, trailer)))
        .when(pmod(col("doc_id"), lit(8)) === 2, // index 5 past a 2-entry GCT
          unhex(concat(sig, lsd("80"), expr("repeat(__rgb, 2)"),
            imgDesc("00"), lzwGood, trailer)))
        .when(pmod(col("doc_id"), lit(8)) === 6, // pixel count off by one
          unhex(concat(sig, lsd("86"), gct128, imgDesc("00"), lzwExtra,
            trailer)))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      base
        .select(col("doc_id").as("media_id"),
          graft.functions.GifPixels.gif_pixels(blob).as("__p"))
        .select(col("media_id"), col("__p.width").as("width"),
          col("__p.height").as("height"), col("__p.n_px").as("n_px"),
          col("__p.sum_r").as("sum_r"), col("__p.sum_g").as("sum_g"),
          col("__p.sum_b").as("sum_b"))
        .orderBy("media_id")
    },
    Some("""
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 4 >= 2 THEN NULL
                  ELSE CAST(doc_id % 3 + 1 AS INTEGER) END AS width,
             CASE WHEN doc_id % 4 >= 2 THEN NULL
                  ELSE CAST(n_chars % 4 + 1 AS INTEGER) END AS height,
             CASE WHEN doc_id % 4 >= 2 THEN NULL
                  ELSE CAST((doc_id % 3 + 1) * (n_chars % 4 + 1) AS BIGINT)
                  END AS n_px,
             CASE WHEN doc_id % 4 >= 2 THEN NULL
                  ELSE CAST((doc_id % 3 + 1) * (n_chars % 4 + 1)
                            * ((doc_id * 5) % 256) AS BIGINT) END AS sum_r,
             CASE WHEN doc_id % 4 >= 2 THEN NULL
                  ELSE CAST((doc_id % 3 + 1) * (n_chars % 4 + 1)
                            * ((n_chars * 7) % 256) AS BIGINT) END AS sum_g,
             CASE WHEN doc_id % 4 >= 2 THEN NULL
                  ELSE CAST((doc_id % 3 + 1) * (n_chars % 4 + 1)
                            * ((doc_id + n_chars * 2) % 256) AS BIGINT)
                  END AS sum_b
      FROM documents ORDER BY media_id"""))

  /** Animated GIF decode (round 16 — GifPixels' structural animation
    * walk + the GifFrames count expression): first-frame pixels stay
    * exact while LATER frames are walked by their sub-block framing and
    * counted, never decoded (bounded work — a 1000-frame animation
    * costs one frame's LZW plus a byte walk). Lanes per doc_id mod:
    * a still (n_frames 1); a two-frame animation with a graphic-control
    * extension between frames (the GIF89a shape every real encoder
    * emits); a three-frame animation behind a NETSCAPE looping
    * application extension whose LAST frame carries a local color
    * table (walked, never read); a corrupt animation whose second
    * frame's sub-blocks truncate (whole-struct NULL — corrupt later
    * frames must not pass on first-frame validity); raw text. The
    * oracle recomputes everything arithmetically from doc_id/n_chars;
    * javax.imageio frame counts are pinned in GifPixelsSpec.
    */
  val multimodalGifAnim = QueryDef(
    "llm_multimodal_gif_anim",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      val w = (pmod(col("doc_id"), lit(3)) + 1).cast(IntegerType)
      val h = (pmod(col("n_chars"), lit(4)) + 1).cast(IntegerType)
      val rCh = pmod(col("doc_id") * 5, lit(256))
      val gCh = pmod(col("n_chars") * 7, lit(256))
      val bCh = pmod(col("doc_id") + col("n_chars") * 2, lit(256))
      val base = documents(s, dir)
        .withColumn("__w", w).withColumn("__h", h)
        .withColumn("__npx", w * h)
        .withColumn("__rgb", concat(lpad(hex(rCh), 2, "0"),
          lpad(hex(gCh), 2, "0"), lpad(hex(bCh), 2, "0")))
      val sig = lit("474946383961")
      val lsd = concat(le16(col("__w")), le16(col("__h")), lit("860000"))
      val gct128 = expr("repeat(__rgb, 128)")
      val gce = lit("21F904040A000000")
      val netscape = lit("21FF0B4E45545343415045322E300301000000")
      def imgDesc(packed: String): Column = concat(lit("2C00000000"),
        le16(col("__w")), le16(col("__h")), lit(packed))
      // CLEAR-per-literal LZW at mcs 7: every code is one byte
      val lzwGood = concat(lit("07"),
        lpad(hex(col("__npx") * 2 + 1), 2, "0"),
        expr("repeat('8005', __npx)"), lit("8100"))
      val lzwTrunc = lit("07" + "FF" + "8005") // declared 255, bytes absent
      val frame = concat(imgDesc("00"), lzwGood)
      val frameLct = concat(imgDesc("86"), gct128, lzwGood)
      val m = pmod(col("doc_id"), lit(4))
      val blob = when(m === 0,
          unhex(concat(sig, lsd, gct128, frame, lit("3B"))))
        .when(m === 1,
          unhex(concat(sig, lsd, gct128, frame, gce, frame, lit("3B"))))
        .when(pmod(col("doc_id"), lit(8)) === 2,
          unhex(concat(sig, lsd, gct128, netscape, frame, gce, frame,
            frameLct, lit("3B"))))
        .when(pmod(col("doc_id"), lit(8)) === 6, // frame 2 truncates
          unhex(concat(sig, lsd, gct128, frame, imgDesc("00"), lzwTrunc,
            lit("3B"))))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      base
        .select(col("doc_id").as("media_id"),
          graft.functions.GifPixels.gif_frames(blob).as("n_frames"),
          graft.functions.GifPixels.gif_pixels(blob).as("__p"))
        .select(col("media_id"), col("n_frames"),
          col("__p.width").as("width"), col("__p.height").as("height"),
          col("__p.n_px").as("n_px"), col("__p.sum_r").as("sum_r"),
          col("__p.sum_g").as("sum_g"), col("__p.sum_b").as("sum_b"))
        .orderBy("media_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(doc_id % 3 + 1 AS INTEGER) AS w,
               CAST(n_chars % 4 + 1 AS INTEGER) AS h,
               (doc_id * 5) % 256 AS rv,
               (n_chars * 7) % 256 AS gv,
               (doc_id + n_chars * 2) % 256 AS bv,
               CASE WHEN doc_id % 8 IN (3, 6, 7) THEN NULL
                    WHEN doc_id % 4 = 0 THEN 1
                    WHEN doc_id % 4 = 1 THEN 2
                    ELSE 3 END AS nf
        FROM documents)
      SELECT doc_id AS media_id,
             CAST(nf AS INTEGER) AS n_frames,
             CASE WHEN nf IS NULL THEN NULL ELSE w END AS width,
             CASE WHEN nf IS NULL THEN NULL ELSE h END AS height,
             CASE WHEN nf IS NULL THEN NULL
                  ELSE CAST(w * h AS BIGINT) END AS n_px,
             CASE WHEN nf IS NULL THEN NULL
                  ELSE CAST(w * h * rv AS BIGINT) END AS sum_r,
             CASE WHEN nf IS NULL THEN NULL
                  ELSE CAST(w * h * gv AS BIGINT) END AS sum_g,
             CASE WHEN nf IS NULL THEN NULL
                  ELSE CAST(w * h * bv AS BIGINT) END AS sum_b
      FROM d ORDER BY media_id"""))

  /** Lossless-WebP (VP8L) pixel decode (functions/WebpPixels — the FULL
    * public VP8L bitstream: prefix codes incl. meta groups, color
    * cache, LZ77 plane codes, all four transforms; pixel-exact against
    * the reference libwebp encoder AND decoder in WebpPixelsSpec).
    * Closes the pixel line for the one format llm_media_catalog could
    * previously only read header-deep. The query builds VP8L in pure
    * column space using the stream shape SQL can assemble — five
    * SINGLE-SYMBOL prefix codes, under which every literal pixel costs
    * ZERO data bits, so a w×h flat-color image is just the 90-bit
    * header+trees template with (w−1, h−1, r, g, b) spliced at fixed
    * bit offsets (the construction was validated against the real
    * libwebp decoder at authoring time; the entropy-coded wild shapes
    * are the spec's 8 reference vectors). Lanes by doc_id % 4:
    * (0, 1) valid flat images at two dim/color parameterizations;
    * (2) version bit set → NULL; (3) raw text → NULL.
    */
  /** A w×h flat-color VP8L file as hex, built in pure column space:
    * five SINGLE-SYMBOL prefix codes make every literal pixel cost ZERO
    * data bits, so the whole file is the fixed RIFF/VP8L/90-bit-
    * bitstream template with (w−1, h−1, r, g, b) spliced at fixed
    * little-endian bit offsets. Validated against the real libwebp
    * decoder at authoring time. `versionBit` ≠ 0 plants a nonzero
    * stream version (the decoder's out-of-scope boundary → NULL).
    */
  private def vp8lFlatHex(w: org.apache.spark.sql.Column,
      h: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column,
      g: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      versionBit: org.apache.spark.sql.Column = lit(0L))
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.Column
    def le32h(c: Column): Column = {
      val x = lpad(hex(c), 8, "0")
      concat(substring(x, 7, 2), substring(x, 5, 2),
        substring(x, 3, 2), substring(x, 1, 2))
    }
    def b2(c: Column): Column = lpad(hex(c), 2, "0")
    concat(
      lit("52494646" + "1A000000" + "57454250" + "5650384C" +
        "0D000000" + "2F"),
      le32h(w - 1 + (h - 1) * 16384 + versionBit),
      b2(pmod(g, lit(4)) * 64 + 40),
      b2((g.cast(LongType) / 4).cast(LongType) + 64),
      b2(pmod(r, lit(128)) * 2 + 1),
      b2((r.cast(LongType) / 128).cast(LongType) + 10 +
        pmod(b, lit(16)) * 16),
      b2((b.cast(LongType) / 16).cast(LongType) + 208),
      lit("FF" + "02" + "00" + "00")) // trees tail + chunk pad byte
  }

  val multimodalPixelsWebp = QueryDef(
    "llm_multimodal_pixels_webp",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def vp8l(w: Column, h: Column, r: Column, g: Column, b: Column,
          versionBit: Column): Column = vp8lFlatHex(w, h, r, g, b, versionBit)
      val w = (pmod(col("doc_id"), lit(9)) + 1).cast(IntegerType)
      val h = (pmod(col("n_chars"), lit(7)) + 1).cast(IntegerType)
      val rv = pmod(col("doc_id") * 13, lit(256))
      val gv = pmod(col("n_chars") * 17, lit(256))
      val bv = pmod(col("doc_id") * 3 + col("n_chars"), lit(256))
      val m = pmod(col("doc_id"), lit(4))
      val blob = when(m === 0, unhex(vp8l(w, h, rv, gv, bv, lit(0L))))
        .when(m === 1, unhex(vp8l(lit(1), h + 9, bv, rv, gv, lit(0L))))
        .when(m === 2, // version != 0: the declared out-of-scope boundary
          unhex(vp8l(w, h, rv, gv, bv, lit(536870912L))))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      documents(s, dir)
        .select(col("doc_id"),
          graft.functions.WebpPixels.webp_pixels(blob).as("__p"))
        .select(col("doc_id"),
          col("__p.width").as("width"), col("__p.height").as("height"),
          col("__p.n_px").as("n_px"), col("__p.sum_r").as("sum_r"),
          col("__p.sum_g").as("sum_g"), col("__p.sum_b").as("sum_b"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(doc_id % 9 + 1 AS INTEGER) AS w,
               CAST(n_chars % 7 + 1 AS INTEGER) AS h,
               CAST(n_chars % 7 + 10 AS INTEGER) AS h1,
               (doc_id * 13) % 256 AS rv,
               (n_chars * 17) % 256 AS gv,
               (doc_id * 3 + n_chars) % 256 AS bv
        FROM documents)
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN w
                  WHEN doc_id % 4 = 1 THEN 1 END AS width,
             CASE WHEN doc_id % 4 = 0 THEN h
                  WHEN doc_id % 4 = 1 THEN h1 END AS height,
             CASE WHEN doc_id % 4 = 0 THEN CAST(w * h AS BIGINT)
                  WHEN doc_id % 4 = 1 THEN CAST(h1 AS BIGINT) END AS n_px,
             CASE WHEN doc_id % 4 = 0 THEN CAST(w * h * rv AS BIGINT)
                  WHEN doc_id % 4 = 1 THEN CAST(h1 * bv AS BIGINT)
                  END AS sum_r,
             CASE WHEN doc_id % 4 = 0 THEN CAST(w * h * gv AS BIGINT)
                  WHEN doc_id % 4 = 1 THEN CAST(h1 * rv AS BIGINT)
                  END AS sum_g,
             CASE WHEN doc_id % 4 = 0 THEN CAST(w * h * bv AS BIGINT)
                  WHEN doc_id % 4 = 1 THEN CAST(h1 * gv AS BIGINT)
                  END AS sum_b
      FROM d ORDER BY doc_id"""))

  /** The universal media catalog: a MIXED-FORMAT corpus (BMP, PNG, GIF,
    * JPEG, WEBP, junk — one format per lane) decoded by ONE expression,
    * coalesce(bmp_pixels, png_pixels, gif_pixels, jpeg_pixels,
    * webp_pixels) — the rung that proves the pixel family COMPOSES into
    * format dispatch: every decoder is signature-strict (NULL on a
    * foreign format after a cheap header probe), so exactly one fires
    * per blob and the coalesce IS the dispatcher — no format column, no
    * UDF router, one map-only codegen'd plan. All five formats carry
    * the SAME uniform color derived from doc fields, so the oracle is
    * one arithmetic CASE per lane; the junk lane proves disagreement
    * NULLs rather than mislabeling. The format label is the same
    * coalesce over literal tags. (WEBP joined in r12 when WebpPixels
    * closed the last header-only format; LOSSY webp joined in r15 when
    * Vp8Decode landed — lane 6 carries a real libwebp-encoded `VP8 `
    * keyframe decoded by the in-engine RFC 6386 decoder, its
    * WebPDecodeRGBA-exact sums pinned as oracle constants; lane 7 a
    * real PROGRESSIVE SOF2 JPEG decoded by the Annex G path, its
    * JDK-decoder-exact sum pinned likewise.)
    */
  val mediaCatalog = QueryDef(
    "llm_media_catalog",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def le16h(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      def le32h(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      def be32h(c: Column): Column = lpad(hex(c), 8, "0")
      val w = (pmod(col("doc_id"), lit(3)) + 1).cast(IntegerType)
      val h = (pmod(col("n_chars"), lit(4)) + 1).cast(IntegerType)
      val rv = pmod(col("doc_id") * 7, lit(256))
      val gv = pmod(col("n_chars") * 11, lit(256))
      val bv = pmod(col("doc_id") + col("n_chars") * 5, lit(256))
      val base = documents(s, dir)
        .withColumn("__w", w).withColumn("__h", h)
        .withColumn("__npx", w * h)
        .withColumn("__rgb", concat(lpad(hex(rv), 2, "0"),
          lpad(hex(gv), 2, "0"), lpad(hex(bv), 2, "0")))
        .withColumn("__bgr", concat(lpad(hex(bv), 2, "0"),
          lpad(hex(gv), 2, "0"), lpad(hex(rv), 2, "0")))
        .withColumn("__gray", rv)
        // BMP row: 24bpp, padded to 4 bytes (w<=3 makes pad = w bytes)
        .withColumn("__bmprow",
          expr("concat(repeat(__bgr, __w), repeat('00', __w))"))
      val bmpHex = concat(lit("424D"),
        le32h(col("__w") * 4 * col("__h") + 54), lit("0000000036000000"),
        lit("28000000"), le32h(col("__w")), le32h(col("__h")),
        lit("01001800"), lit("00000000"), le32h(col("__w") * 4 * col("__h")),
        lit("00" * 16), expr("repeat(__bmprow, __h)"))
      // PNG: single stored-block IDAT with real CRCs + Adler
      def pngCrc(typeHex: String, dataHex: Column): Column =
        lpad(hex(crc32(unhex(concat(lit(typeHex), dataHex)))), 8, "0")
      val ihdrData = concat(be32h(col("__w")), be32h(col("__h")),
        lit("0802000000"))
      val rawHex = expr("repeat(concat('00', repeat(__rgb, __w)), __h)")
      val rlen = col("__h") * (col("__w") * 3 + 1)
      val zlibHex = concat(lit("780101"), le16h(rlen),
        le16h(lit(65535) - rlen), rawHex,
        lpad(hex(graft.functions.Checksums.adler32_fn(unhex(rawHex))), 8,
          "0"))
      val pngHex = concat(lit("89504E470D0A1A0A"), lit("0000000D49484452"),
        ihdrData, pngCrc("49484452", ihdrData),
        be32h(length(zlibHex) / 2), lit("49444154"), zlibHex,
        pngCrc("49444154", zlibHex), lit("0000000049454E44AE426082"))
      // GIF: 128-entry GCT of the uniform color, clear-per-literal LZW
      val gifHex = concat(lit("474946383961"), le16h(col("__w")),
        le16h(col("__h")), lit("860000"), expr("repeat(__rgb, 128)"),
        lit("2C00000000"), le16h(col("__w")), le16h(col("__h")), lit("00"),
        lit("07"), lpad(hex(col("__npx") * 2 + 1), 2, "0"),
        expr("repeat('8005', __npx)"), lit("8100"), lit("3B"))
      // JPEG: grayscale DC-only (value __gray), trivial tables
      val jdqt = "FFDB004300" + "08" * 64
      val jdht = "FFC4001F00" + "0000000C" + "00" * 12 +
        "000102030405060708090A0B" + "FFC40014" + "10" + "01" + "00" * 15 +
        "00"
      val jbase = base
        .withColumn("__dc", col("__gray") - 128)
        .withColumn("__cat", expr(
          "CASE WHEN __dc = 0 THEN 0 " +
            "ELSE length(bin(abs(CAST(__dc AS BIGINT)))) END"))
        .withColumn("__bits", expr(
          "concat(lpad(bin(__cat), 4, '0'), CASE WHEN __cat = 0 THEN '' " +
            "ELSE lpad(bin(CAST(IF(__dc >= 0, __dc, " +
            "__dc + CAST(pow(2, __cat) AS INT) - 1) AS BIGINT)), __cat, " +
            "'0') END, '0')"))
        .withColumn("__nb", expr("CAST((length(__bits) + 7) DIV 8 AS INT)"))
        .withColumn("__je", expr(
          "lpad(conv(rpad(__bits, __nb * 8, '1'), 2, 16), __nb * 2, '0')"))
      val jpegHex = concat(lit("FFD8" + jdqt + jdht + "FFC0000B08"),
        lpad(hex(col("__h")), 4, "0"), lpad(hex(col("__w")), 4, "0"),
        lit("01011100FFDA0008010100003F00"), col("__je"), lit("FFD9"))
      // lane 6: a REAL lossy (`VP8 `) keyframe — libwebp-encoded 32x24
      // flat color at q75 (tools/gen_vp8_fixtures.py), decoded by the
      // in-engine RFC 6386 decoder; the oracle pins the WebPDecodeRGBA-
      // exact sums recorded at generation time
      val lossyWebpHex = "52494646440000005745425056503820380000005003009d012a200018003e91429c4a25a3a2a1a80800b012096500ccfe80005312700000fccaffe76b618831e1ff8b73f6eb9a075e000000"
      // lane 7: a REAL progressive (SOF2) JPEG — JDK-encoded 24x16
      // grayscale gradient (10-scan progression script); the oracle
      // pins the JDK-decoder-exact sum recorded at generation time
      val progJpegHex = "ffd8ffe000104a46494600010200000100010000ffdb00430006040506050406060506070706080a100a0a09090a140e0f0c1017141818171416161a1d251f1a1b231c1616202c20232627292a29191f2d302d283025282928ffc2000b080010001801011100ffc4001500010100000000000000000000000000000706ffda00080101000000012ea2500da250ffc4001810000203000000000000000000000000000031020405ffda00080101000105028151e438151e43ffc400161001010100000000000000000000000000011000ffda0008010100063f028537ffc400161001010100000000000000000000000000310010ffda0008010100013f2151635163ffda0008010100000010b7ffc40018100002030000000000000000000000000000011031a1ffda0008010100013f10a63eb4531f5a3fffd9"
      val blob = when(pmod(col("doc_id"), lit(8)) === 0, unhex(bmpHex))
        .when(pmod(col("doc_id"), lit(8)) === 1, unhex(pngHex))
        .when(pmod(col("doc_id"), lit(8)) === 2, unhex(gifHex))
        .when(pmod(col("doc_id"), lit(8)) === 3, unhex(jpegHex))
        .when(pmod(col("doc_id"), lit(8)) === 4,
          unhex(vp8lFlatHex(col("__w"), col("__h"), rv, gv, bv)))
        .when(pmod(col("doc_id"), lit(8)) === 6, unhex(lit(lossyWebpHex)))
        .when(pmod(col("doc_id"), lit(8)) === 7, unhex(lit(progJpegHex)))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      val withP = jbase
        .withColumn("__bmp", graft.functions.BmpPixels.bmp_pixels(blob))
        .withColumn("__png", graft.functions.PngPixels.png_pixels(blob))
        .withColumn("__gif", graft.functions.GifPixels.gif_pixels(blob))
        .withColumn("__jpg", graft.functions.JpegPixels.jpeg_pixels(blob))
        .withColumn("__webp", graft.functions.WebpPixels.webp_pixels(blob))
        .withColumn("__p",
          coalesce(col("__bmp"), col("__png"), col("__gif"), col("__jpg"),
            col("__webp")))
        .withColumn("format",
          coalesce(when(col("__bmp").isNotNull, "bmp"),
            when(col("__png").isNotNull, "png"),
            when(col("__gif").isNotNull, "gif"),
            when(col("__jpg").isNotNull, "jpeg"),
            when(col("__webp").isNotNull, "webp")))
      withP
        .select(col("doc_id").as("media_id"), col("format"),
          col("__p.width").as("width"), col("__p.height").as("height"),
          col("__p.n_px").as("n_px"), col("__p.sum_r").as("sum_r"),
          col("__p.sum_g").as("sum_g"), col("__p.sum_b").as("sum_b"))
        .orderBy("media_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(doc_id % 3 + 1 AS INTEGER) AS w,
               CAST(n_chars % 4 + 1 AS INTEGER) AS h,
               (doc_id * 7) % 256 AS rv,
               (n_chars * 11) % 256 AS gv,
               (doc_id + n_chars * 5) % 256 AS bv
        FROM documents)
      SELECT doc_id AS media_id,
             CASE doc_id % 8 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
                  WHEN 2 THEN 'gif' WHEN 3 THEN 'jpeg'
                  WHEN 4 THEN 'webp' WHEN 6 THEN 'webp'
                  WHEN 7 THEN 'jpeg' END AS format,
             CASE WHEN doc_id % 8 = 5 THEN NULL
                  WHEN doc_id % 8 = 6 THEN 32
                  WHEN doc_id % 8 = 7 THEN 24 ELSE w END AS width,
             CASE WHEN doc_id % 8 = 5 THEN NULL
                  WHEN doc_id % 8 = 6 THEN 24
                  WHEN doc_id % 8 = 7 THEN 16 ELSE h END AS height,
             CASE WHEN doc_id % 8 = 5 THEN NULL
                  WHEN doc_id % 8 = 6 THEN CAST(768 AS BIGINT)
                  WHEN doc_id % 8 = 7 THEN CAST(384 AS BIGINT)
                  ELSE CAST(w * h AS BIGINT) END AS n_px,
             CASE WHEN doc_id % 8 = 5 THEN NULL
                  WHEN doc_id % 8 = 6 THEN CAST(53072 AS BIGINT)
                  WHEN doc_id % 8 = 7 THEN CAST(31120 AS BIGINT)
                  ELSE CAST(w * h * rv AS BIGINT) END AS sum_r,
             CASE WHEN doc_id % 8 = 5 THEN NULL
                  WHEN doc_id % 8 = 6 THEN CAST(107622 AS BIGINT)
                  WHEN doc_id % 8 = 7 THEN CAST(31120 AS BIGINT)
                  WHEN doc_id % 8 = 3 THEN CAST(w * h * rv AS BIGINT)
                  ELSE CAST(w * h * gv AS BIGINT) END AS sum_g,
             CASE WHEN doc_id % 8 = 5 THEN NULL
                  WHEN doc_id % 8 = 6 THEN CAST(161720 AS BIGINT)
                  WHEN doc_id % 8 = 7 THEN CAST(31120 AS BIGINT)
                  WHEN doc_id % 8 = 3 THEN CAST(w * h * rv AS BIGINT)
                  ELSE CAST(w * h * bv AS BIGINT) END AS sum_b
      FROM d ORDER BY media_id"""))

  /** In-engine zlib source decode (functions/ZlibInflate — the third
    * and last envelope of the compression family: raw DEFLATE inside
    * PNG, the gzip file member, and this in-band stream, the HTTP
    * "deflate" coding), with the Adler-32 trailer VERIFIED and the
    * output size grown geometrically (zlib declares no size — the one
    * envelope where the declared-output contract doesn't exist, so
    * the named 64 MB cap is the bound). Four lanes: a single
    * stored-block stream; an empty-nonfinal + final two-block stream
    * (multi-block framing is load-bearing); a corrupt pair alternating
    * a FLIPPED Adler-32 with FDICT set (preset dictionaries are
    * out-of-band by definition — strict NULL); raw text. The valid
    * trailers come from the engine's adler32 — pinned against
    * java.util.zip in ChecksumsSpec, with real Deflater streams pinned
    * in ZlibInflateSpec. Output pins the round-trip: byte count, md5,
    * decompressed == original.
    */
  val sourceZlib = QueryDef(
    "llm_source_zlib",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def le16(c: Column): Column = {
        val x = lpad(hex(c), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      val len = octet_length(col("text"))
      val textHex = hex(col("text").cast(BinaryType))
      val adlerHex =
        lpad(hex(graft.functions.Checksums
          .adler32_fn(col("text").cast(BinaryType))), 8, "0")
      val adlerBadHex =
        lpad(hex(pmod(graft.functions.Checksums
          .adler32_fn(col("text").cast(BinaryType)) + 1,
          lit(4294967296L))), 8, "0")
      def stream(hdr: String, blocksHex: Column, adler: Column): Column =
        unhex(concat(lit(hdr), blocksHex, adler))
      val oneBlock = concat(lit("01"), le16(len), le16(lit(65535) - len),
        textHex)
      val twoBlocks = concat(lit("000000FFFF"), oneBlock)
      val blob = when(pmod(col("doc_id"), lit(4)) === 0,
          stream("7801", oneBlock, adlerHex))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          stream("7801", twoBlocks, adlerHex))
        .when(pmod(col("doc_id"), lit(8)) === 2, // flipped Adler-32
          stream("7801", oneBlock, adlerBadHex))
        .when(pmod(col("doc_id"), lit(8)) === 6, // FDICT set (FCHECK ok)
          stream("7820", oneBlock, adlerHex))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      documents(s, dir)
        .select(col("doc_id"),
          graft.functions.ZlibInflate.zlib_inflate(blob).as("__d"),
          col("text"))
        .select(col("doc_id"),
          octet_length(col("__d")).as("n_bytes"),
          md5(col("__d")).as("fp"),
          (col("__d").cast(StringType) === col("text")).as("roundtrip"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 4 <= 1
                  THEN CAST(strlen(text) AS INTEGER) END AS n_bytes,
             CASE WHEN doc_id % 4 <= 1 THEN md5(text) END AS fp,
             CASE WHEN doc_id % 4 <= 1 THEN TRUE END AS roundtrip
      FROM documents ORDER BY doc_id"""))

  /** In-engine LZ4-frame source decode (functions/Lz4Inflate — the
    * OTHER compression family training shards ship beside DEFLATE; its
    * own frame walker decodes the blocks and VERIFIES the header XXH32,
    * optional per-block XXH32 and content XXH32 with Checksums.xxh32,
    * which is lz4-java's XXHash32; the query builds its checksums with
    * the same function). The query stores each
    * doc's bytes as an UNCOMPRESSED block — the frame feature that keeps
    * construction pure column arithmetic — while real compressed frames
    * (lz4 CLI + lz4-java) are pinned in Lz4InflateSpec; the decoder path
    * through the frame machinery is identical. Four lanes: a minimal frame
    * (header checksum only — a Scala-side constant since the
    * descriptor is constant) SANDWICHED between two skippable frames
    * (the 0x184D2A5X metadata escape, skipped as lz4(1) does); a
    * fully-checksummed frame
    * (content-size + block XXH32 + content XXH32, the content-size
    * exact-output contract live); a corrupt pair alternating a FLIPPED
    * HEADER CHECKSUM with a flipped CONTENT checksum; raw text.
    */
  val sourceLz4 = QueryDef(
    "llm_source_lz4",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      val len = octet_length(col("text"))
      val textHex = hex(col("text").cast(BinaryType))
      val xx = graft.functions.Checksums
        .xxh32_fn(col("text").cast(BinaryType))
      // uncompressed block: LE u32 size with the high bit set
      val blockWord = le32(len + lit(2147483648L))
      val magic = "04224D18"
      // lane 0: FLG 0x60 (v01, indep), BD 0x40 (64 KB) -> HC constant,
      // WRAPPED in skippable frames (magic 0x184D2A5X + LE u32 size):
      // a 9-byte metadata frame before and an empty one after — the
      // escape real shard writers embed per-shard metadata in, walked
      // and skipped exactly as lz4(1) does (pinned in Lz4InflateSpec)
      val hc0 = "%02X".format(((graft.functions.Checksums.xxh32(
        Array[Byte](0x60, 0x40), 0, 2, 0) >> 8) & 0xff).toInt)
      val skipPre = "502A4D18" + "09000000" + "73686172646D657461" // "shardmeta"
      val skipPost = "5F2A4D18" + "00000000"
      val lane0 = concat(lit(skipPre + magic + "6040" + hc0), blockWord,
        textHex, lit("00000000" + skipPost))
      // lane 1: FLG 0x7C (indep + block ck + content size + content ck)
      val desc1 = concat(lit("7C40"), le32(len), lit("00000000"))
      val hc1 = substring(lpad(hex(shiftright(
        graft.functions.Checksums.xxh32_fn(unhex(desc1)), 8)), 6, "0"), 5, 2)
      // checksums are stored as LITTLE-ENDIAN u32s in the frame
      def frame1(hcCol: Column, contentCk: Column): Column = concat(
        lit(magic), desc1, hcCol, blockWord, textHex, le32(xx),
        lit("00000000"), contentCk)
      val xxGood = le32(xx)
      val xxBad = le32(pmod(xx + 1, lit(4294967296L)))
      val hc1bad = lpad(hex(pmod(shiftright(
        graft.functions.Checksums.xxh32_fn(unhex(desc1)), 8) + 1,
        lit(256L))), 2, "0")
      val blob = when(pmod(col("doc_id"), lit(4)) === 0, unhex(lane0))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          unhex(frame1(hc1, xxGood)))
        .when(pmod(col("doc_id"), lit(8)) === 2, // flipped header checksum
          unhex(frame1(hc1bad, xxGood)))
        .when(pmod(col("doc_id"), lit(8)) === 6, // flipped content checksum
          unhex(frame1(hc1, xxBad)))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      documents(s, dir)
        .select(col("doc_id"),
          graft.functions.Lz4Inflate.lz4_inflate(blob).as("__d"),
          col("text"))
        .select(col("doc_id"),
          octet_length(col("__d")).as("n_bytes"),
          md5(col("__d")).as("fp"),
          (col("__d").cast(StringType) === col("text")).as("roundtrip"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 4 <= 1
                  THEN CAST(strlen(text) AS INTEGER) END AS n_bytes,
             CASE WHEN doc_id % 4 <= 1 THEN md5(text) END AS fp,
             CASE WHEN doc_id % 4 <= 1 THEN TRUE END AS roundtrip
      FROM documents ORDER BY doc_id"""))

  /** In-engine ZSTANDARD source decode (functions/ZstdInflate over
    * zstd-jni; zstd(1) CLI frames, zstd-jni and aircompressor output are
    * pinned in ZstdInflateSpec; zstd is the dominant compression for
    * modern training shards). The query constructs frames in pure
    * column space using the two block shapes SQL can assemble — a RAW
    * block and an RLE block (the entropy-coded paths are exercised by
    * the spec's encoder round-trips; the frame machinery here is
    * identical) — with the Content_Checksum (LOW 4 BYTES of XXH64,
    * via [[graft.functions.Checksums.xxh64_fn]]) VERIFIED on the
    * checksummed lane. Six lanes by doc_id % 6: (0) minimal
    * single-segment frame, 4-byte declared content size + one RAW
    * block; (1) checksummed frame SANDWICHED between two skippable
    * frames (the 0x184D2A5X metadata escape zstd shares with LZ4);
    * (2) an RLE-block frame regenerating len × 'z' — output ≠ input,
    * so the md5 pins the RLE expansion itself; (3) lane 1 with a
    * FLIPPED content checksum → NULL; (4) a reserved FHD bit set →
    * NULL; (5) raw text → NULL.
    */
  val sourceZst = QueryDef(
    "llm_source_zst",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def le32(c: Column): Column = {
        val x = lpad(hex(c), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      def le24(c: Column): Column = {
        val x = lpad(hex(c), 6, "0")
        concat(substring(x, 5, 2), substring(x, 3, 2), substring(x, 1, 2))
      }
      val len = octet_length(col("text"))
      val textHex = hex(col("text").cast(BinaryType))
      val magic = "28B52FFD"
      // FHD 0xA0: FCS-flag 2 (4-byte), single-segment, no checksum;
      // 0xA4 adds the content checksum; 0xA8 sets the RESERVED bit
      val rawBlock = zstRawBlocksHex(textHex) // type-0 chain, any size
      val rleBlock = zstRleBlocksHex(len, "7A") // type-1 chain, 'z'
      val ck = graft.functions.Checksums
        .xxh64_fn(col("text").cast(BinaryType)).bitwiseAND(lit(4294967295L))
      val ckBad = pmod(ck + 1, lit(4294967296L))
      val skipPre = "502A4D18" + "09000000" + "73686172646D657461"
      val skipPost = "5F2A4D18" + "00000000"
      val lane0 = concat(lit(magic + "A0"), le32(len), rawBlock)
      def ckFrame(c: Column): Column = concat(lit(skipPre + magic + "A4"),
        le32(len), rawBlock, le32(c), lit(skipPost))
      val lane2 = concat(lit(magic + "A0"), le32(len), rleBlock)
      val m = pmod(col("doc_id"), lit(6))
      val blob = when(m === 0, unhex(lane0))
        .when(m === 1, unhex(ckFrame(ck)))
        .when(m === 2, unhex(lane2))
        .when(m === 3, unhex(ckFrame(ckBad)))
        .when(m === 4, unhex(concat(lit(magic + "A8"), le32(len), rawBlock)))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      documents(s, dir)
        .select(col("doc_id"),
          graft.functions.ZstdInflate.zstd_inflate(blob).as("__d"),
          col("text"))
        .select(col("doc_id"),
          octet_length(col("__d")).as("n_bytes"),
          md5(col("__d")).as("fp"),
          (col("__d").cast(StringType) === col("text")).as("roundtrip"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 6 <= 2
                  THEN CAST(strlen(text) AS INTEGER) END AS n_bytes,
             CASE WHEN doc_id % 6 <= 1 THEN md5(text)
                  WHEN doc_id % 6 = 2 THEN md5(repeat('z', strlen(text)))
                  END AS fp,
             CASE WHEN doc_id % 6 <= 1 THEN TRUE
                  WHEN doc_id % 6 = 2 THEN text = repeat('z', strlen(text))
                  END AS roundtrip
      FROM documents ORDER BY doc_id"""))

  /** In-engine BZIP2 source decode (functions/Bz2Inflate — the full
    * format: BWT + MTF + RLE1/RLE2 + multi-group Huffman, block and
    * stream CRCs VERIFIED) — the codec Wikipedia and academic dumps
    * actually ship (r12 verdict #5). Unlike every other codec lane,
    * the valid frames here are CONSTANT blobs frozen from bzip2(1)
    * output rather than column-built: bzip2 has NO stored/raw block
    * mode — all content passes BWT + MTF + Huffman, which SQL cannot
    * assemble — so variable-data coverage lives in Bz2InflateSpec's
    * commons-compress round-trip battery (unicode, random, runs,
    * multi-block), and this row proves the cross-engine frame grammar:
    * single stream, CONCATENATED streams (the pbzip2 layout), an
    * RLE1/RUNA-RUNB-heavy block, a flipped-CRC NULL lane, raw text
    * NULL lane.
    */
  val sourceBz2 = QueryDef(
    "llm_source_bz2",
    (s, dir) => {
      // bzip2(1) output, frozen (same constants pinned in Bz2InflateSpec)
      val cli9 = "425a6839314159265359a4534a50000003d98000104000100016" +
        "64d0902000229813686a100001c3dc58f1dc8e1380fc5dc914e14242914d2940"
      val cliCat = "425a683131415926535911bb3195000001418000102044400" +
        "020002183419a09698e2ee48a70a1202376632a425a68393141592653597f980fb2" +
        "000001418000103200040020002183419a085c71772453850907f980fb20"
      val cliRuns = "425a6831314159265359668ef4f300001f8181b0000010008" +
        "00008200030cd008a699f1160ad094130bb9229c284833477a798"
      // flip one byte inside cli9's block CRC -> whole-result NULL
      val corrupt = cli9.substring(0, 20) + "ff" + cli9.substring(22)
      val m = pmod(col("doc_id"), lit(5))
      val blob = when(m === 0, unhex(lit(cli9)))
        .when(m === 1, unhex(lit(cliCat)))
        .when(m === 2, unhex(lit(cliRuns)))
        .when(m === 3, unhex(lit(corrupt)))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      documents(s, dir)
        .select(col("doc_id"),
          graft.functions.Bz2Inflate.bz2_inflate(blob).as("__d"))
        .select(col("doc_id"),
          octet_length(col("__d")).as("n_bytes"),
          md5(col("__d")).as("fp"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE CAST(doc_id % 5 AS INTEGER)
               WHEN 0 THEN CAST(strlen('hello bzip2 world' || chr(10))
                 AS INTEGER)
               WHEN 1 THEN CAST(strlen('alpha' || chr(10) || 'beta'
                 || chr(10)) AS INTEGER)
               WHEN 2 THEN CAST(1000 + 60 + 255 AS INTEGER)
             END AS n_bytes,
             CASE CAST(doc_id % 5 AS INTEGER)
               WHEN 0 THEN md5('hello bzip2 world' || chr(10))
               WHEN 1 THEN md5('alpha' || chr(10) || 'beta' || chr(10))
               WHEN 2 THEN md5(repeat('z', 1000) || repeat('ab', 30)
                 || repeat('z', 255))
             END AS fp
      FROM documents ORDER BY doc_id"""))

  /** ZSTANDARD DICTIONARY lane (functions/ZstdInflate.zstd_inflate_dict
    * — RFC 8878 §5, r12 verdict #4: small-record shards in real corpora
    * ship with trained dictionaries; the one-arg form rightly NULLs on
    * them). The lane that SQL can assemble is the raw-content
    * dictionary with a match reaching BELOW the frame start — the
    * mechanism trained dictionaries rely on — with the DOCUMENT TEXT
    * as the dictionary: a constant 1-sequence frame (RLE-mode tables,
    * offset 16, match 16, zero literals) copies the LAST 16 BYTES of
    * the dictionary, so variable corpus data flows through the
    * dict-history path and the oracle predicts it with blob slicing.
    * Short docs fall back to a constant dictionary (the bound is
    * explicit on both sides). Trained-dictionary frames (entropy
    * tables, id discipline, wrong-dict NULL) are pinned in
    * ZstdInflateSpec. Lanes by doc_id % 3:
    * (0) text-as-dictionary decode; (1) the same frame with an EMPTY
    * dictionary — history unreachable → NULL; (2) raw text → NULL.
    */
  val sourceZstDict = QueryDef(
    "llm_source_zst_dict",
    (s, dir) => {
      // magic | FHD 0x80 (4-byte FCS) | WD log10 | FCS=16 | one
      // compressed block (7 B): raw literals size 0, nbSeq 1, RLE modes
      // 0x54, LL=0 OF=4 ML=13, backward stream 0x13 (sentinel + 0011:
      // offVal = 16+3 → offset 16; MlBase(13) = 16)
      val frame = "28b52ffd" + "80" + "00" + "10000000" +
        "3d0000" + "00015400040d13"
      val len = octet_length(col("text"))
      val constDict = lit("GRAFTDICTCONTENT".getBytes("UTF-8"))
      val m = pmod(col("doc_id"), lit(3))
      val blob = when(m <= 1, unhex(lit(frame)))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      val dict = when(m === 0,
        when(len >= 16, col("text").cast(BinaryType)).otherwise(constDict))
        .otherwise(lit(Array.empty[Byte]))
      documents(s, dir)
        .select(col("doc_id"),
          graft.functions.ZstdInflate.zstd_inflate_dict(blob, dict)
            .as("__d"))
        // the byte slice can split a UTF-8 char, so the pin is the HEX
        // of the decoded bytes (DuckDB md5 only takes VARCHAR; hex is
        // uppercase on both engines)
        .select(col("doc_id"),
          octet_length(col("__d")).as("n_bytes"),
          hex(col("__d")).as("tail_hex"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 16 END AS n_bytes,
             CASE WHEN doc_id % 3 = 0 THEN
               CASE WHEN strlen(text) >= 16
                    THEN substring(hex(encode(text)),
                                   strlen(text) * 2 - 31, 32)
                    ELSE hex(encode('GRAFTDICTCONTENT')) END
             END AS tail_hex
      FROM documents ORDER BY doc_id"""))

  /** In-engine XZ source decode (functions/XzInflate over xz-java —
    * the xz format with the lone LZMA2 filter, all four check types,
    * index/footer cross-checks) — the second Wikipedia-dump codec beside
    * llm_source_bz2. Unlike bzip2, LZMA2 HAS a stored mode
    * (uncompressed chunks), so this lane carries VARIABLE document
    * text through a fully column-built stream ([[xzStreamStaged]]):
    * constant header, one CRC32-checked block holding the text as a
    * ≤ 64 KiB uncompressed-chunk CHAIN (any document size — the
    * zstRawBlocksHex discipline, single-chunk fast path), then index
    * varints, padding, and footer — every CRC computed in column
    * space, validated byte-for-byte against CPython lzma during
    * construction. Entropy-coded streams from the xz CLI, xz-java and
    * CPython are pinned in XzInflateSpec. Empty text has no chunk
    * to carry — explicit NULL on both sides. Lanes by doc_id % 3:
    * (0) valid stream → text round-trips; (1) content-check CRC
    * flipped → NULL; (2) raw text → NULL.
    */
  val sourceXz = QueryDef(
    "llm_source_xz",
    (s, dir) => {
      val len = octet_length(col("text"))
      // the chunk chain removed r13's interim 60000-byte bound: any
      // non-empty document encodes (empty text has no chunk to carry —
      // explicit NULL on both sides)
      val fits = len >= 1
      val m = pmod(col("doc_id"), lit(3))
      // STAGED (the tarxz discipline): the un-staged xzStreamHex held
      // ~200 copies of hex(text) — 60,300 plan nodes, the largest plan
      // in the suite by 14× (PlanStats, r14). The flipped-check lane
      // rides a ckDelta COLUMN, so one staged frame serves both lanes.
      val staged = xzStreamStaged(
        documents(s, dir)
          .withColumn("__p", hex(col("text").cast(BinaryType)))
          .withColumn("__xzmagic", lit("fd377a585a00")),
        "__p", "__xzmagic",
        when(m === 1, lit(1L)).otherwise(lit(0L)), "__xz")
      val blob = when(m <= 1 && fits, unhex(col("__xz")))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      staged
        .select(col("doc_id"), col("text"),
          graft.functions.XzInflate.xz_inflate(blob).as("__d"))
        .select(col("doc_id"),
          octet_length(col("__d")).as("n_bytes"),
          (col("__d").cast(StringType) === col("text")).as("roundtrip"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 AND strlen(text) >= 1
                  THEN CAST(strlen(text) AS INTEGER) END AS n_bytes,
             CASE WHEN doc_id % 3 = 0 AND strlen(text) >= 1
                  THEN TRUE END AS roundtrip
      FROM documents ORDER BY doc_id"""))

  /** Baseline JPEG pixel decode (functions/JpegPixels — the LAST format
    * off the declared-fake codec line: T.81 Huffman entropy decode,
    * dequant, LL&M integer IDCT, CCIR 601 integer color conversion;
    * bit-exact against the JDK decoder for grayscale and 4:4:4 per
    * JpegPixelsSpec). The query constructs DC-only JPEGs in column
    * space — the one entropy shape SQL can assemble: with the trivial
    * tables (DC category t ↔ the 4-bit code t, AC EOB ↔ the 1-bit
    * code 0) a block is cat(4b) + value bits + EOB(1b), and a DC-only
    * block IDCTs to the exact flat value dc+128 under Q=8, so the
    * oracle is pure arithmetic. Lanes: a GRAYSCALE single-block image
    * (dc spans the full ±127 category range); a 4:4:4 COLOR image
    * whose three components are pinned to category 6 (so the 33-bit
    * stream can never form a stray 0xFF byte) with the oracle
    * replaying the decoder's integer YCbCr→RGB formula verbatim; a
    * corrupt pair alternating an undefined Huffman code (category 12)
    * with a PROGRESSIVE frame marker (SOF2 — the declared out-of-scope
    * boundary); raw text. Map-only, codegen'd.
    */
  val multimodalPixelsJpeg = QueryDef(
    "llm_multimodal_pixels_jpeg",
    (s, dir) => {
      import org.apache.spark.sql.Column
      def be16(c: Column): Column = lpad(hex(c), 4, "0")
      val dqt8 = "FFDB004300" + "08" * 64
      val dhtDc = "FFC4001F00" + "0000000C" + "00" * 12 +
        "000102030405060708090A0B"
      val dhtAc = "FFC40014" + "10" + "01" + "00" * 15 + "00"
      val tables = dqt8 + dhtDc + dhtAc
      val w = (pmod(col("doc_id"), lit(8)) + 1).cast(IntegerType)
      val h = (pmod(col("n_chars"), lit(8)) + 1).cast(IntegerType)
      val base = documents(s, dir)
        .withColumn("__w", w).withColumn("__h", h)
        .withColumn("__gray", pmod(col("doc_id") * 3 + col("n_chars"),
          lit(256)))
        .withColumn("__dc", col("__gray") - 128)
        .withColumn("__cat", expr(
          "CASE WHEN __dc = 0 THEN 0 " +
            "ELSE length(bin(abs(CAST(__dc AS BIGINT)))) END"))
        .withColumn("__vbits", expr(
          "CASE WHEN __cat = 0 THEN '' ELSE lpad(bin(CAST(" +
            "IF(__dc >= 0, __dc, __dc + CAST(pow(2, __cat) AS INT) - 1) " +
            "AS BIGINT)), __cat, '0') END"))
        .withColumn("__bits",
          expr("concat(lpad(bin(__cat), 4, '0'), __vbits, '0')"))
        .withColumn("__nb", expr("CAST((length(__bits) + 7) DIV 8 AS INT)"))
        .withColumn("__entropy", expr(
          "lpad(conv(rpad(__bits, __nb * 8, '1'), 2, 16), __nb * 2, '0')"))
        // color lane: all three components pinned to category 6
        .withColumn("__y", lit(160) + pmod(col("doc_id"), lit(32)))
        .withColumn("__cb", lit(65) + pmod(col("n_chars"), lit(32)))
        .withColumn("__cr", lit(65) + pmod(col("doc_id") * 3, lit(32)))
        .withColumn("__cbits", expr(
          "concat('0110', bin(CAST(__y - 128 AS BIGINT)), '0'," +
            " '0110', lpad(bin(CAST(__cb - 65 AS BIGINT)), 6, '0'), '0'," +
            " '0110', lpad(bin(CAST(__cr - 65 AS BIGINT)), 6, '0'), '0')"))
        .withColumn("__centropy", expr(
          "lpad(conv(rpad(__cbits, 40, '1'), 2, 16), 10, '0')"))
      def grayHex(sof: String): Column = concat(
        lit("FFD8" + tables + sof + "000B08"), be16(col("__h")),
        be16(col("__w")), lit("01011100"),
        lit("FFDA0008010100003F00"), col("__entropy"), lit("FFD9"))
      val colorHex = concat(
        lit("FFD8" + tables + "FFC0001108"), be16(col("__h")),
        be16(col("__w")), lit("03011100021100031100"),
        lit("FFDA000C030100020003"), lit("0000" + "3F00"),
        col("__centropy"), lit("FFD9"))
      val badHuffHex = concat(
        lit("FFD8" + tables + "FFC0000B08"), be16(col("__h")),
        be16(col("__w")), lit("01011100"),
        lit("FFDA0008010100003F00"), lit("CF"), lit("FFD9"))
      val blob = when(pmod(col("doc_id"), lit(4)) === 0,
          unhex(grayHex("FFC0")))
        .when(pmod(col("doc_id"), lit(4)) === 1, unhex(colorHex))
        .when(pmod(col("doc_id"), lit(8)) === 2, // undefined Huffman code
          unhex(badHuffHex))
        .when(pmod(col("doc_id"), lit(8)) === 6, // progressive: out of scope
          unhex(grayHex("FFC2")))
        .otherwise(substring(col("text"), 1, 16).cast(BinaryType))
      base
        .select(col("doc_id").as("media_id"),
          graft.functions.JpegPixels.jpeg_pixels(blob).as("__p"))
        .select(col("media_id"), col("__p.width").as("width"),
          col("__p.height").as("height"), col("__p.n_px").as("n_px"),
          col("__p.sum_r").as("sum_r"), col("__p.sum_g").as("sum_g"),
          col("__p.sum_b").as("sum_b"))
        .orderBy("media_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(doc_id % 8 + 1 AS INTEGER) AS w,
               CAST(n_chars % 8 + 1 AS INTEGER) AS h,
               (doc_id * 3 + n_chars) % 256 AS gray,
               160 + doc_id % 32 AS y,
               65 + n_chars % 32 AS cb,
               65 + (doc_id * 3) % 32 AS cr
        FROM documents),
      c AS (
        SELECT doc_id, w, h, gray,
               LEAST(255, GREATEST(0,
                 (y*65536 + 91881*(cr-128) + 32768) // 65536)) AS r,
               LEAST(255, GREATEST(0,
                 (y*65536 - 22554*(cb-128) - 46802*(cr-128) + 32768)
                   // 65536)) AS g,
               LEAST(255, GREATEST(0,
                 (y*65536 + 116130*(cb-128) + 32768) // 65536)) AS b
        FROM d)
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 4 >= 2 THEN NULL ELSE w END AS width,
             CASE WHEN doc_id % 4 >= 2 THEN NULL ELSE h END AS height,
             CASE WHEN doc_id % 4 >= 2 THEN NULL
                  ELSE CAST(w * h AS BIGINT) END AS n_px,
             CASE WHEN doc_id % 4 = 0 THEN CAST(w * h * gray AS BIGINT)
                  WHEN doc_id % 4 = 1 THEN CAST(w * h * r AS BIGINT)
                  END AS sum_r,
             CASE WHEN doc_id % 4 = 0 THEN CAST(w * h * gray AS BIGINT)
                  WHEN doc_id % 4 = 1 THEN CAST(w * h * g AS BIGINT)
                  END AS sum_g,
             CASE WHEN doc_id % 4 = 0 THEN CAST(w * h * gray AS BIGINT)
                  WHEN doc_id % 4 = 1 THEN CAST(w * h * b AS BIGINT)
                  END AS sum_b
      FROM c ORDER BY media_id"""))

  /** Robots-exclusion decisions over the canonical crawl
    * (operators/RobotsFilter — RFC 9309 group matching): the MAY-FETCH
    * rung completing the crawl story (normalize → dedup → robots). The
    * query parses llm_crawl_dedup's raw spellings back to canonical
    * (host, path) with UrlNormalize, dedups, and decides each URL
    * against a six-rule set exercising every clause of §2.2.2-§2.2.3:
    * a bare prefix disallow, a `*`-wildcard allow that outranks it, a
    * longer `*`+`$`-anchored disallow that outranks THAT (so
    * /items/<m>/ flips allow→disallow as m ends 0 vs 00), a longer
    * prefix allow, and an equal-length allow/disallow PAIR pinning the
    * spec's allow-wins-ties rule. The oracle replays the same
    * relational decision — literal anchored regexes (so the operator's
    * pattern→regex compilation is cross-checked by construction),
    * cross join, argmax window — rather than recomputing verdicts
    * arithmetically. Rules are policy-sized → broadcast; the only
    * corpus-sized shuffle is the per-URL argmax.
    */
  val crawlRobots = QueryDef(
    "llm_crawl_robots",
    (s, dir) => {
      import s.implicits._
      val g = pmod(col("doc_id"), lit(211)).cast(StringType)
      val m = pmod(pmod(col("doc_id"), lit(211)) * 7, lit(1000)).cast(StringType)
      val raw = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("http://www.archive"), g, lit(".example.com/items/"), m, lit("/")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("HTTP://WWW.ARCHIVE"), g, lit(".EXAMPLE.COM:80/items/./"), m, lit("/")))
        .otherwise(
          concat(lit("http://www.archive"), g, lit(".example.com/items/extra/../"), m, lit("/#top")))
      val urls = documents(s, dir)
        .select(graft.functions.UrlNormalize.url_normalize(raw).as("__u"))
        .select(col("__u.host").as("host"), col("__u.path").as("path"),
          col("__u.url").as("url"))
        .distinct()
      val rules = urls.select(col("host")).distinct().crossJoin(
        Seq(("disallow", "/items/"), ("allow", "/items/*0/"),
          ("disallow", "/items/*00/$"), ("allow", "/items/9"),
          ("allow", "/items/1"), ("disallow", "/items/1"))
          .toDF("directive", "pattern"))
      graft.operators.RobotsFilter.decide(urls, rules).orderBy("url")
    },
    Some("""
      WITH urls AS MATERIALIZED (
        SELECT DISTINCT
          'www.archive' || CAST(doc_id % 211 AS VARCHAR) ||
            '.example.com' AS host,
          '/items/' || CAST((doc_id % 211) * 7 % 1000 AS VARCHAR) ||
            '/' AS path
        FROM documents),
      rules(directive, pattern, rx, plen) AS (
        VALUES ('disallow', '/items/',      '^/items/',       7),
               ('allow',    '/items/*0/',   '^/items/.*0/',   10),
               ('disallow', '/items/*00/$', '^/items/.*00/$', 12),
               ('allow',    '/items/9',     '^/items/9',      8),
               ('allow',    '/items/1',     '^/items/1',      8),
               ('disallow', '/items/1',     '^/items/1',      8)),
      cand AS (SELECT u.host, u.path,
          CASE WHEN regexp_matches(u.path, r.rx) THEN r.directive END AS dir,
          CASE WHEN regexp_matches(u.path, r.rx) THEN r.pattern END AS pat,
          CASE WHEN regexp_matches(u.path, r.rx) THEN r.plen ELSE -1 END AS plen
        FROM urls u CROSS JOIN rules r),
      win AS (SELECT host, path, dir, pat,
          ROW_NUMBER() OVER (PARTITION BY host, path
            ORDER BY plen DESC, dir ASC NULLS LAST, pat ASC NULLS LAST) AS rn
        FROM cand)
      SELECT host, path, 'http://' || host || path AS url,
             coalesce(dir, 'allow') AS verdict, pat AS rule
      FROM win WHERE rn = 1 ORDER BY url"""))

  /** The STREAMING crawl frontier (streaming/StreamingCrawlFrontier —
    * per-URL (count, first-doc) held as driver state with a newly-seen
    * readout per discovery batch) driven as a batch replay in three
    * deterministic micro-batches and proven equivalent to
    * [[crawlDedup]] by sharing its oracle VERBATIM (the
    * stream_heavy_hitters twin discipline): per-URL count and min are
    * associative + commutative, so any batching folds to the one-shot
    * groupBy. The doc_id%3 batching deliberately coincides with the
    * raw-SPELLING selector, so each batch carries one spelling of every
    * resource and the cross-batch merge of different spellings onto one
    * canonical key — the thing a frontier exists to do — is exactly
    * what the fold exercises. The per-batch newly-seen readout (the
    * scheduler's enqueue set) is pinned in StreamingCrawlFrontierSpec.
    */
  val crawlDedupStream = QueryDef(
    "stream_crawl_dedup",
    (s, dir) => {
      val g = pmod(col("doc_id"), lit(211)).cast(StringType)
      val m = pmod(pmod(col("doc_id"), lit(211)) * 7, lit(1000)).cast(StringType)
      val raw = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("http://www.archive"), g, lit(".example.com/items/"), m, lit("/")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("HTTP://WWW.ARCHIVE"), g, lit(".EXAMPLE.COM:80/items/./"), m, lit("/")))
        .otherwise(
          concat(lit("http://www.archive"), g, lit(".example.com/items/extra/../"), m, lit("/#top")))
      val urls = documents(s, dir).select(col("doc_id"),
        graft.functions.UrlNormalize.url_normalize(raw).getField("url").as("url"))
      val mnt = new graft.streaming.StreamingCrawlFrontier.Maintainer
      (0 until 3).foreach(i =>
        mnt.absorb(urls.filter(pmod(col("doc_id"), lit(3)) === i)))
      mnt.currentFrontier.get
        .select(col("url"), col("n_docs"), col("first_doc"))
        .orderBy("url")
    },
    crawlDedup.oracle)

  /** WordPiece vocabulary learning (llm/WordPiece.scala): the
    * frequency-threshold subword vocabulary over the BPE queries'
    * `[A-Za-z]+|[0-9]+` word stream — word-initial pieces from prefixes,
    * "##" continuation pieces from suffixes of strictly longer words,
    * kept iff occurrence-weighted count clears 0.5% of total words
    * (cnt·200 ≥ N, exact integers). Two hash aggregations over the
    * once-built word histogram; the threshold BOUNDS the output at ≤200
    * pieces per (class, length) — the same inequality that makes the
    * tokenizer query's driver collect bounded.
    */
  val wordpieceVocab = QueryDef(
    "llm_wordpiece_vocab",
    (s, dir) => graft.llm.WordPiece.learnedPieces(documents(s, dir))
      .orderBy("kind", "piece"),
    Some("""
      WITH w0 AS (SELECT unnest(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+')) AS word FROM documents),
      hist AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w0 GROUP BY word),
      tot AS MATERIALIZED (SELECT CAST(sum(freq) AS BIGINT) AS n FROM hist),
      pre AS (SELECT substr(word, 1, l) AS piece,
                     CAST(sum(freq) AS BIGINT) AS cnt
              FROM hist, (SELECT unnest([2,3,4,5,6]) AS l)
              WHERE length(word) >= l GROUP BY 1),
      con AS (SELECT '##' || substr(word, length(word)-l+1, l) AS piece,
                     CAST(sum(freq) AS BIGINT) AS cnt
              FROM hist, (SELECT unnest([2,3,4,5,6]) AS l)
              WHERE length(word) > l GROUP BY 1)
      SELECT kind, piece, cnt FROM (
        SELECT 'word_initial' AS kind, piece, cnt FROM pre, tot
        WHERE cnt * 200 >= n
        UNION ALL
        SELECT 'continuation' AS kind, piece, cnt FROM con, tot
        WHERE cnt * 200 >= n)
      ORDER BY kind, piece"""))

  /** WordPiece tokenization statistics (functions/WordPieceMeta — the
    * BERT-family greedy longest-match-first inference, the tokenizer
    * sibling of llm_text_tokens_bpe_real's BPE): learn the vocabulary
    * (llm_wordpiece_vocab's rule, collected under its ≤2,000-piece
    * threshold bound plus the fixed 62-char floor), then one map-only
    * codegen pass emits per-doc word/token/[UNK] counts. The oracle
    * replays the greedy loop as 16 UNROLLED steps (the kmeans/pagerank
    * discipline) of five guarded equi-joins against the materialized
    * vocabulary — longest piece (≤6) wins, the single-char floor is the
    * ELSE arm (sound because the floor is unconditionally in vocab),
    * and MaxWordLen=16 words become [UNK] without entering the loop
    * (BERT's max_input_chars_per_word rule — it is also what makes the
    * unroll depth sufficient: min advance 1 char/step). The stuck-word
    * [UNK] path the floor makes unreachable here is pinned against
    * floor-less hand vocabularies in WordPieceMetaSpec.
    */
  val wordpieceTokens = QueryDef(
    "llm_wordpiece_tokens",
    (s, dir) => {
      val docs = documents(s, dir)
      val (init, cont) = graft.llm.WordPiece.learnVocab(docs)
      docs
        .select(col("doc_id"),
          graft.functions.WordPieceMeta
            .wordpiece_meta(col("text"), init, cont).as("__m"))
        .select(col("doc_id"), col("__m.n_words").as("n_words"),
          col("__m.n_tokens").as("n_tokens"), col("__m.n_unk").as("n_unk"))
        .orderBy("doc_id")
    },
    Some {
      val steps = (1 to 16).map { k =>
        s"""
      s$k AS (SELECT word, wl,
          CASE WHEN pos >= wl THEN pos ELSE pos + best END AS pos,
          CASE WHEN pos >= wl THEN t ELSE t + 1 END AS t
        FROM (SELECT s.word, s.wl, s.pos, s.t,
           CASE WHEN s.pos+6 <= s.wl AND v6.piece IS NOT NULL THEN 6
                WHEN s.pos+5 <= s.wl AND v5.piece IS NOT NULL THEN 5
                WHEN s.pos+4 <= s.wl AND v4.piece IS NOT NULL THEN 4
                WHEN s.pos+3 <= s.wl AND v3.piece IS NOT NULL THEN 3
                WHEN s.pos+2 <= s.wl AND v2.piece IS NOT NULL THEN 2
                ELSE 1 END AS best
         FROM s${k - 1} s
         LEFT JOIN vocab v6 ON v6.piece =
           (CASE WHEN s.pos = 0 THEN '' ELSE '##' END) || substr(s.word, s.pos+1, 6)
         LEFT JOIN vocab v5 ON v5.piece =
           (CASE WHEN s.pos = 0 THEN '' ELSE '##' END) || substr(s.word, s.pos+1, 5)
         LEFT JOIN vocab v4 ON v4.piece =
           (CASE WHEN s.pos = 0 THEN '' ELSE '##' END) || substr(s.word, s.pos+1, 4)
         LEFT JOIN vocab v3 ON v3.piece =
           (CASE WHEN s.pos = 0 THEN '' ELSE '##' END) || substr(s.word, s.pos+1, 3)
         LEFT JOIN vocab v2 ON v2.piece =
           (CASE WHEN s.pos = 0 THEN '' ELSE '##' END) || substr(s.word, s.pos+1, 2)))"""
      }.mkString(",")
      s"""
      WITH w0 AS MATERIALIZED (SELECT doc_id,
             unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS word
           FROM documents),
      hist AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w0 GROUP BY word),
      tot AS MATERIALIZED (SELECT CAST(sum(freq) AS BIGINT) AS n FROM hist),
      pre AS (SELECT substr(word, 1, l) AS piece,
                     CAST(sum(freq) AS BIGINT) AS cnt
              FROM hist, (SELECT unnest([2,3,4,5,6]) AS l)
              WHERE length(word) >= l GROUP BY 1),
      con AS (SELECT '##' || substr(word, length(word)-l+1, l) AS piece,
                     CAST(sum(freq) AS BIGINT) AS cnt
              FROM hist, (SELECT unnest([2,3,4,5,6]) AS l)
              WHERE length(word) > l GROUP BY 1),
      vocab AS MATERIALIZED (
        SELECT piece FROM pre, tot WHERE cnt * 200 >= n
        UNION ALL SELECT piece FROM con, tot WHERE cnt * 200 >= n),
      words16 AS (SELECT word, length(word) AS wl FROM hist
                  WHERE length(word) <= 16),
      s0 AS (SELECT word, wl, 0 AS pos, 0 AS t FROM words16),$steps,
      tok AS MATERIALIZED (
        SELECT word, t, 0 AS unk FROM s16
        UNION ALL SELECT word, 1, 1 FROM hist WHERE length(word) > 16),
      perdoc AS (SELECT w0.doc_id, CAST(count(*) AS INTEGER) AS n_words,
                        CAST(sum(tok.t) AS INTEGER) AS n_tokens,
                        CAST(sum(tok.unk) AS INTEGER) AS n_unk
                 FROM w0 JOIN tok USING(word) GROUP BY w0.doc_id)
      SELECT d.doc_id, coalesce(n_words, 0) AS n_words,
             coalesce(n_tokens, 0) AS n_tokens, coalesce(n_unk, 0) AS n_unk
      FROM documents d LEFT JOIN perdoc USING(doc_id) ORDER BY d.doc_id"""
    })

  /** Brute-force cosine top-k over the embeddings table: 10 broadcast query
    * vectors against the full corpus, one scan.
    */
  val annBruteForce = QueryDef(
    "llm_ann_bruteforce",
    (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, 5)
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 10
                   AND list_dot_product(embedding::DOUBLE[],
                                        embedding::DOUBLE[]) > 0),
      scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.qv, c.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(c.embedding::DOUBLE[],
                                            c.embedding::DOUBLE[]))) AS cosine
        FROM embeddings c, q WHERE c.vec_id <> q.query_id
          AND list_dot_product(c.embedding::DOUBLE[],
                               c.embedding::DOUBLE[]) > 0),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored)
      SELECT * FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** FILTERED vector search — top-k restricted to a metadata predicate
    * (the "top matches among lang='en' docs" serving shape every RAG
    * stack hits). The correctness lesson is PRE- vs POST-filtering:
    * applying the predicate BEFORE scoring guarantees k true neighbors
    * among the eligible set, where filtering an unfiltered top-k
    * afterwards returns fewer than k and silently drops eligible
    * neighbors ranked k+1..∞ (`AnnFilteredSpec` pins the divergence on
    * the real corpus). Composition-first: the predicate is an ordinary
    * filter on the corpus side of the SAME bruteForceTopK operator —
    * and that is also the scale story: pushed before distance work, the
    * predicate prunes the candidate scan (partition/zone pruning on the
    * metadata column at 100 TB); an index-then-filter plan cannot
    * recover the lost recall after the fact.
    */
  val annFiltered = QueryDef(
    "llm_ann_filtered",
    (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10),
        emb.filter(col("label") % 3 === 0), 5)
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 10
                   AND list_dot_product(embedding::DOUBLE[],
                                        embedding::DOUBLE[]) > 0),
      scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.qv, c.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(c.embedding::DOUBLE[],
                                            c.embedding::DOUBLE[]))) AS cosine
        FROM embeddings c, q WHERE c.vec_id <> q.query_id
          AND c.label % 3 = 0
          AND list_dot_product(c.embedding::DOUBLE[],
                               c.embedding::DOUBLE[]) > 0),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored)
      SELECT * FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** The testdata embedding dimensionality (TESTDATA.md; constant across
    * scale factors, and tools/make_adversarial.py inherits it from its
    * source dir). Passing it explicitly skips the one-row probe job AND
    * lets the oracle SQL inline the very same hyperplane constants.
    */
  val EmbeddingDim = 64

  /** The shared ANN hyperplane set: Similarity.hyperplanes is seeded, so
    * the SAME array feeds both the Spark plan (as array(lit(...))) and the
    * DuckDB oracle (as DOUBLE[] literals) — identical by construction.
    */
  private val AnnPlanes: Array[Array[Double]] =
    Similarity.hyperplanes(4, EmbeddingDim)

  /** A hyperplane as a DuckDB DOUBLE[] literal. Double.toString is the
    * shortest round-trip rendering, so the double DuckDB parses back is
    * bit-identical to the Spark-side literal.
    */
  private def planeSql(p: Array[Double]): String =
    p.mkString("[", ", ", "]") + "::DOUBLE[]"

  /** Similarity.lshBucket as oracle SQL: bit i set iff dot(v, plane_i) > 0.
    * The bit weights are disjoint, so Spark's bitwise OR is the same value
    * as this sum; list_dot_product folds left-to-right like the Spark
    * expression, so the sign tests agree bit-exactly.
    */
  private def bucketSql(v: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($v, ${planeSql(p)}) > 0" +
        s" THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** LSH-bucketed ANN — the scale path: scoring only within
    * sign-random-projection buckets. The hyperplanes are deterministic
    * driver-side constants, so the oracle replays them as inlined DOUBLE[]
    * literals (generated from the SAME array — see AnnPlanes).
    */
  val annLsh = QueryDef(
    "llm_ann_lsh",
    (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb, 5,
        nPlanes = 4, dim = EmbeddingDim)
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH qv0 AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 10
          AND list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[]) > 0),
      q AS (SELECT query_id, qv, ${bucketSql("qv", AnnPlanes)} AS bucket
            FROM qv0),
      cv0 AS (
        SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
        FROM embeddings
        WHERE list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[]) > 0),
      c AS (SELECT neighbor_id, cv, ${bucketSql("cv", AnnPlanes)} AS bucket
            FROM cv0),
      scored AS (
        SELECT q.query_id, c.neighbor_id,
               list_dot_product(q.qv, c.cv)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(c.cv, c.cv))) AS cosine
        FROM c JOIN q USING (bucket)
        WHERE c.neighbor_id <> q.query_id),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, cosine, rank
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** IVF-bucketed ANN — inverted-list scale path. Centroids are the 16
    * lowest-id vectors (deterministic), so the oracle derives the SAME
    * centroid table from the embeddings view itself; the argmin assignment
    * replays as rank-1 of (affinity DESC, centroid_id) — exactly the tie
    * order of the Spark-side (aff, -id) struct max.
    */
  val annIvf = QueryDef(
    "llm_ann_ivf",
    (s, dir) => {
      val emb = embeddings(s, dir)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, 5,
        nlist = 16, nprobe = 4)
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH cents AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centv
        FROM embeddings ORDER BY vec_id LIMIT 16),
      corp0 AS (
        SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
        FROM embeddings
        WHERE list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[]) > 0),
      assign AS (
        SELECT neighbor_id, cv, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY neighbor_id
                 ORDER BY list_dot_product(cv, centv) DESC, centroid_id)
                 AS arank
        FROM corp0 CROSS JOIN cents),
      lists AS (SELECT neighbor_id, cv, centroid_id
                FROM assign WHERE arank = 1),
      q0 AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 10
          AND list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[]) > 0),
      probes AS (
        SELECT query_id, qv, centroid_id FROM (
          SELECT q0.query_id, q0.qv, cents.centroid_id,
                 ROW_NUMBER() OVER (PARTITION BY q0.query_id
                   ORDER BY list_dot_product(q0.qv, cents.centv) DESC,
                            cents.centroid_id) AS crank
          FROM q0 CROSS JOIN cents) t
        WHERE crank <= 4),
      scored AS (
        SELECT p.query_id, l.neighbor_id,
               list_dot_product(p.qv, l.cv)
                 / (sqrt(list_dot_product(p.qv, p.qv))
                    * sqrt(list_dot_product(l.cv, l.cv))) AS cosine
        FROM lists l JOIN probes p USING (centroid_id)
        WHERE l.neighbor_id <> p.query_id),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, cosine, rank
      FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** IVF index cell profile: per inverted list (centroid), how many
    * corpus vectors landed there and the lowest id — the occupancy
    * panel an ANN serving tier watches (a skewed profile means lists
    * need splitting/retraining; the 100 TB decision this readout
    * drives). Assignment is Similarity.ivfAssign's map-only argmin
    * against broadcast centroids; the aggregate is one groupBy over
    * ≤ nlist cells. Oracle replays the same argmin (max dot, ties to
    * the lowest centroid id) relationally.
    */
  val annIvfCells = QueryDef(
    "llm_ann_ivf_cells",
    (s, dir) => {
      val emb = embeddings(s, dir)
      val centArr = Similarity.centroidTable(emb, 16)
      Similarity.ivfAssign(emb, centArr)
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("n_vectors"),
          min(col("neighbor_id")).as("first_vec"))
        .orderBy("centroid_id")
    },
    Some("""
      WITH cents AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centv
        FROM embeddings ORDER BY vec_id LIMIT 16),
      corp0 AS (
        SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
        FROM embeddings
        WHERE list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[]) > 0),
      assign AS (
        SELECT neighbor_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY neighbor_id
                 ORDER BY list_dot_product(cv, centv) DESC, centroid_id)
                 AS arank
        FROM corp0 CROSS JOIN cents)
      SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_vectors,
             MIN(neighbor_id) AS first_vec
      FROM assign WHERE arank = 1
      GROUP BY centroid_id ORDER BY centroid_id"""))

  /** The STREAMING IVF cell maintainer (streaming/StreamingAnnIvf —
    * per-cell (count, min) held as driver state, one row per occupied
    * cell) driven as a batch replay in three deterministic
    * micro-batches and proven equivalent to [[annIvfCells]] by sharing
    * its oracle VERBATIM (the stream-twin discipline): cell assignment
    * is a pure per-row function of (vector, broadcast centroids), and
    * count-sum/min merge associatively, so any batching folds to the
    * one-shot profile. Centroids come from the FULL corpus (the model
    * parameter is fixed before the stream starts — the IVF deployment
    * contract), then batches stream through assignment.
    */
  val annIvfCellsStream = QueryDef(
    "stream_ann_ivf_cells",
    (s, dir) => {
      val emb = embeddings(s, dir)
      val centArr = Similarity.centroidTable(emb, 16)
      val m = new graft.streaming.StreamingAnnIvf.Maintainer(centArr)
      (0 until 3).foreach(i =>
        m.absorb(emb.filter(pmod(col("vec_id"), lit(3)) === i)))
      m.currentCells.get.orderBy("centroid_id")
    },
    annIvfCells.oracle)

  /** The recall@k compare: fraction of ground-truth (query, neighbor)
    * pairs the approximate result recovered — ONE definition shared by
    * the LSH and IVF recall queries so it cannot drift between them
    * (semi-join + per-query counts over tiny frames).
    */
  private def recallAgainstTruth(bf: org.apache.spark.sql.DataFrame,
      approx: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // both frames are ≤ NQueries×k rows (policy-bounded model output),
    // but post-aggregation stats are opaque to the planner — without the
    // hints these become sort-merge joins (PlanSweep SMJ-inventory
    // finding); broadcast is the right call at ANY corpus size because
    // the frames scale with the query set, not the data
    val hits = bf.join(broadcast(approx), Seq("query_id", "neighbor_id"),
        "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    bf.groupBy("query_id").agg(count(lit(1)).as("n_true"))
      .join(broadcast(hits), Seq("query_id"), "left")
      .select(col("query_id"), col("n_true"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall",
        col("n_hits").cast(DoubleType) / col("n_true").cast(DoubleType))
      .orderBy("query_id")
  }

  /** Oracle-side twins of recallAgainstTruth: the brute-force
    * ground-truth CTE block (bq/bscored/branked/bf — identical to the
    * llm_ann_bruteforce oracle with the top-5 cut) and the compare tail,
    * shared verbatim by both recall oracles.
    */
  private val BruteForceCtes: String = """bq AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 10
          AND list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[]) > 0),
      bscored AS (
        SELECT bq.query_id, c.vec_id AS neighbor_id,
               list_dot_product(bq.qv, c.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(bq.qv, bq.qv))
                    * sqrt(list_dot_product(c.embedding::DOUBLE[],
                                            c.embedding::DOUBLE[]))) AS cosine
        FROM embeddings c, bq WHERE c.vec_id <> bq.query_id
          AND list_dot_product(c.embedding::DOUBLE[],
                               c.embedding::DOUBLE[]) > 0),
      branked AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
        FROM bscored),
      bf AS (SELECT query_id, neighbor_id FROM branked WHERE rank <= 5)"""

  /** `approx` must name a CTE with (query_id, neighbor_id) rows. */
  private def recallTailSql(approx: String): String = s"""hits AS (
        SELECT bf.query_id, COUNT(*) AS n_hits
        FROM bf JOIN $approx USING (query_id, neighbor_id) GROUP BY 1),
      trues AS (
        SELECT query_id, COUNT(*) AS n_true FROM bf GROUP BY 1)
      SELECT t.query_id, t.n_true,
             COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
             CAST(COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS DOUBLE)
               / t.n_true AS recall
      FROM trues t LEFT JOIN hits h ON h.query_id = t.query_id
      ORDER BY t.query_id"""

  /** ANN evaluation: recall@5 of the LSH path against the brute-force
    * ground truth, per query — the measurement loop every approximate
    * index needs before it replaces the exact one (you don't ship an ANN
    * index whose recall you haven't measured). Ground truth and candidate
    * sets are the SAME plans the two ANN queries run.
    * Note the testdata corpus is near-random 64-dim vectors with no real
    * neighbor structure, so the measured recall is HONESTLY low (~0.04 at
    * sf0.01) — exactly what this op exists to reveal; on clustered
    * embeddings the same harness reports high recall (SimilaritySpec's
    * planted-cluster fixture).
    */
  val annRecall = QueryDef(
    "llm_ann_recall",
    (s, dir) => {
      val emb = embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      recallAgainstTruth(
        Similarity.bruteForceTopK(q, emb, 5)
          .select(col("query_id"), col("neighbor_id")),
        Similarity.lshTopK(q, emb, 5, nPlanes = 4, dim = EmbeddingDim)
          .select(col("query_id"), col("neighbor_id")))
    },
    Some(s"""
      WITH $BruteForceCtes,
      lq AS (SELECT query_id, qv, ${bucketSql("qv", AnnPlanes)} AS bucket
             FROM bq),
      lc0 AS (
        SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
        FROM embeddings
        WHERE list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[]) > 0),
      lc AS (SELECT neighbor_id, cv, ${bucketSql("cv", AnnPlanes)} AS bucket
             FROM lc0),
      lscored AS (
        SELECT lq.query_id, lc.neighbor_id,
               list_dot_product(lq.qv, lc.cv)
                 / (sqrt(list_dot_product(lq.qv, lq.qv))
                    * sqrt(list_dot_product(lc.cv, lc.cv))) AS cosine
        FROM lc JOIN lq USING (bucket)
        WHERE lc.neighbor_id <> lq.query_id),
      lranked AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
        FROM lscored),
      lsh AS (SELECT query_id, neighbor_id FROM lranked WHERE rank <= 5),
      ${recallTailSql("lsh")}"""))

  /** IVF recall@5 vs the brute-force ground truth — the evaluation twin
    * of [[annRecall]] for the inverted-list path (same semi-join compare;
    * the oracle replays the IVF assignment/probe CTEs of `llm_ann_ivf`).
    * Same honest-low-recall caveat on this random corpus.
    */
  val annRecallIvf = QueryDef(
    "llm_ann_recall_ivf",
    (s, dir) => {
      val emb = embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      recallAgainstTruth(
        Similarity.bruteForceTopK(q, emb, 5)
          .select(col("query_id"), col("neighbor_id")),
        Similarity.ivfTopK(q, emb, 5, nlist = 16, nprobe = 4)
          .select(col("query_id"), col("neighbor_id")))
    },
    Some(s"""
      WITH $BruteForceCtes,
      cents AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS centv
        FROM embeddings ORDER BY vec_id LIMIT 16),
      corp0 AS (
        SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
        FROM embeddings
        WHERE list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[]) > 0),
      assign AS (
        SELECT neighbor_id, cv, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY neighbor_id
                 ORDER BY list_dot_product(cv, centv) DESC, centroid_id)
                 AS arank
        FROM corp0 CROSS JOIN cents),
      lists AS (SELECT neighbor_id, cv, centroid_id
                FROM assign WHERE arank = 1),
      probes AS (
        SELECT query_id, qv, centroid_id FROM (
          SELECT bq.query_id, bq.qv, cents.centroid_id,
                 ROW_NUMBER() OVER (PARTITION BY bq.query_id
                   ORDER BY list_dot_product(bq.qv, cents.centv) DESC,
                            cents.centroid_id) AS crank
          FROM bq CROSS JOIN cents) t
        WHERE crank <= 4),
      iscored AS (
        SELECT p.query_id, l.neighbor_id,
               list_dot_product(p.qv, l.cv)
                 / (sqrt(list_dot_product(p.qv, p.qv))
                    * sqrt(list_dot_product(l.cv, l.cv))) AS cosine
        FROM lists l JOIN probes p USING (centroid_id)
        WHERE l.neighbor_id <> p.query_id),
      iranked AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
        FROM iscored),
      ivf AS (SELECT query_id, neighbor_id FROM iranked WHERE rank <= 5),
      ${recallTailSql("ivf")}"""))

  /** IVF recall@5 under STREAMING INSERTS (the ANN family's freshness
    * row): the corpus arrives in three deterministic micro-batches, the
    * StreamingAnnIvf maintainer accumulates the inverted lists (cell
    * assignment is a pure per-row function of (vector, fixed
    * centroids), so accumulation is a union — order-free), and recall
    * against the brute-force ground truth is measured over the
    * accumulated index with the EXACT batch search plan
    * ([[graft.llm.Similarity.ivfSearchLists]]). Proven equivalent to
    * [[annRecallIvf]] by sharing its oracle VERBATIM — the stream-twin
    * discipline: the CDC/MV arms got this hard signal in r11; this
    * closes it for the ANN arm. Centroids come from the full corpus
    * (the model parameter is fixed before the stream starts — the IVF
    * deployment contract, same as stream_ann_ivf_cells).
    */
  val annRecallIvfStream = QueryDef(
    "stream_ann_recall_ivf",
    (s, dir) => {
      val emb = embeddings(s, dir)
      val centArr = Similarity.centroidTable(emb, 16)
      val m = new graft.streaming.StreamingAnnIvf.Maintainer(centArr)
      (0 until 3).foreach(i =>
        m.absorb(emb.filter(pmod(col("vec_id"), lit(3)) === i)))
      val q = emb.filter(col("vec_id") < 10)
      recallAgainstTruth(
        Similarity.bruteForceTopK(q, emb, 5)
          .select(col("query_id"), col("neighbor_id")),
        Similarity.ivfSearchLists(m.currentLists.get, q, centArr, 5, 4)
          .select(col("query_id"), col("neighbor_id")))
    },
    annRecallIvf.oracle)

  /** Embedding-cosine near-duplicate pairs within LSH buckets. The 0.15
    * threshold is calibrated to this synthetic corpus (random-ish 64-dim
    * vectors: cosine mass concentrates near 0, in-bucket max ≈ 0.25); real
    * embedding spaces would use 0.9+. Oracle: same inlined hyperplanes as
    * llm_ann_lsh.
    */
  val embedNearDup = QueryDef(
    "llm_embed_neardup",
    (s, dir) => Similarity.nearDupPairs(embeddings(s, dir), 0.15,
      nPlanes = 4, dim = EmbeddingDim)
      .orderBy("vec_a", "vec_b"),
    Some(s"""
      WITH c0 AS (
        SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings
        WHERE list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[]) > 0),
      c AS (SELECT vec_id, v, ${bucketSql("v", AnnPlanes)} AS bucket
            FROM c0),
      pairs AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
      scored AS (
        SELECT p.vec_a, p.vec_b,
               list_dot_product(ca.v, cb.v)
                 / (sqrt(list_dot_product(ca.v, ca.v))
                    * sqrt(list_dot_product(cb.v, cb.v))) AS cosine
        FROM pairs p
        JOIN c ca ON ca.vec_id = p.vec_a
        JOIN c cb ON cb.vec_id = p.vec_b)
      SELECT vec_a, vec_b, cosine FROM scored
      WHERE cosine >= 0.15 ORDER BY vec_a, vec_b"""))

  /** Embedding-modality dedup clusters: connected components over the
    * near-dup pair graph — the same ladder rung llm_dedup_clusters gives
    * the text modality, so semantic (embedding-space) duplicates can be
    * collapsed with the identical keeper policies. Reuses the adaptive CC
    * (propagation with star-contraction fallback) and the bucketed pair
    * generation; the oracle composes the embed_neardup CTEs with the same
    * recursive-reach closure the text clusters oracle uses.
    */
  val embedClusters = QueryDef(
    "llm_embed_clusters",
    (s, dir) => {
      val pairs = Similarity.nearDupPairs(embeddings(s, dir), 0.15,
        nPlanes = 4, dim = EmbeddingDim)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      val comps = Dedup.connectedComponentsAdaptive(pairs)
      val sizes = comps.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
      comps.join(sizes, Seq("cluster_id"))
        .select(col("id").as("vec_id"), col("cluster_id"),
          col("cluster_size"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH RECURSIVE
      c0 AS (
        SELECT vec_id, embedding::DOUBLE[] AS v
        FROM embeddings
        WHERE list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[]) > 0),
      c AS (SELECT vec_id, v, ${bucketSql("v", AnnPlanes)} AS bucket
            FROM c0),
      cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
      pairs AS (
        SELECT p.vec_a, p.vec_b
        FROM cand p
        JOIN c ca ON ca.vec_id = p.vec_a
        JOIN c cb ON cb.vec_id = p.vec_b
        WHERE list_dot_product(ca.v, cb.v)
                / (sqrt(list_dot_product(ca.v, ca.v))
                   * sqrt(list_dot_product(cb.v, cb.v))) >= 0.15),
      edges AS (
        SELECT vec_a AS s, vec_b AS d FROM pairs
        UNION
        SELECT vec_b, vec_a FROM pairs),
      reach AS (
        SELECT DISTINCT s AS id, s AS r FROM edges
        UNION
        SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id),
      comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      sized AS (SELECT cluster_id, COUNT(*) AS cluster_size
                FROM comp GROUP BY 1)
      SELECT comp.id AS vec_id, comp.cluster_id, sized.cluster_size
      FROM comp JOIN sized USING (cluster_id)
      ORDER BY vec_id"""))

  /** SemDeDup (Abbas et al. 2023): semantic dedup with k-means clusters as
    * the candidate buckets — the third rung of the embedding-dedup ladder
    * (neardup pairs → CC clusters → learned-partition greedy keep). The
    * oracle composes the llm_kmeans unrolled-Lloyd's CTEs (2 rounds,
    * exact-DECIMAL centroid means) with a NOT-EXISTS earlier-id near-dup
    * test, so the whole pipeline — clustering AND pruning — is
    * cross-engine checked, not just the final flags. Cosines fold
    * left-to-right in double on both engines (bit-identical, the
    * llm_embed_neardup precedent); zero-norm vectors never pair and are
    * always kept.
    */
  val semanticDedup = QueryDef(
    "llm_semantic_dedup",
    (s, dir) => Dedup.semanticDedup(embeddings(s, dir), k = 8, iters = 2,
      tau = 0.4).orderBy("vec_id"),
    Some(s"""
      WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
      c0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                 AS cid, x AS c
        FROM (SELECT vec_id, x FROM v ORDER BY vec_id LIMIT 8)),
      a1 AS (
        SELECT vec_id, x, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
                 list_dot_product(x, x) - 2 * list_dot_product(x, c)
                   + list_dot_product(c, c), cid) AS rn
        FROM v CROSS JOIN c0),
      m1 AS (SELECT vec_id, x, cid FROM a1 WHERE rn = 1),
      e1 AS (
        SELECT cid, i, CAST(x[i] AS DECIMAL(27,12)) AS val
        FROM m1, generate_series(1, $EmbeddingDim) t(i)),
      u1 AS (
        SELECT cid, i, CAST(SUM(val) AS DOUBLE) / COUNT(*) AS mu
        FROM e1 GROUP BY cid, i),
      c1 AS (
        SELECT cid, list(mu ORDER BY i) AS c FROM u1 GROUP BY cid),
      a2 AS (
        SELECT vec_id, x, c1.cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
                 list_dot_product(x, x) - 2 * list_dot_product(x, c)
                   + list_dot_product(c, c), c1.cid) AS rn
        FROM v CROSS JOIN c1),
      m2 AS (SELECT vec_id, x, cid FROM a2 WHERE rn = 1),
      nz AS (SELECT vec_id, x, cid FROM m2
             WHERE list_dot_product(x, x) > 0),
      dup AS (
        SELECT DISTINCT b.vec_id
        FROM nz a JOIN nz b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.x, b.x)
                / (sqrt(list_dot_product(a.x, a.x))
                   * sqrt(list_dot_product(b.x, b.x))) >= 0.4)
      SELECT m2.vec_id, m2.cid AS cluster,
             (dup.vec_id IS NULL) AS is_kept
      FROM m2 LEFT JOIN dup ON m2.vec_id = dup.vec_id
      ORDER BY m2.vec_id"""))

  /** Corpus-curation filter report: every document against every rule,
    * with per-rule reason flags and the final keep verdict — the auditable
    * shape a training-data filter pass needs (not just the survivors: you
    * must be able to answer "why was this dropped"). One staged
    * tokenization feeds all rules.
    */
  /** The filter-report plan over ANY (doc_id, text) frame — stateless
    * map-only expressions, so the SAME plan serves the batch query and a
    * streaming ingest filter unchanged (StreamingCurationSpec pins
    * stream ≡ batch, the LLM-pipeline analog of the fact-builder's
    * HYBRIDJOIN-parity pin).
    */
  def filterReportOn(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val staged = docs
      .select(col("doc_id"), TextAnalysis.tokenArray(col("text")).as("__toks"))
    val n = TextAnalysis.tokenCountFromTokens(col("__toks"))
    val q = TextAnalysis.qualityScoreFromTokens(col("__toks"))
    val lang = TextAnalysis.langIdFromTokens(col("__toks"))
    staged
      .select(col("doc_id"),
        (n < 15).as("too_short"),
        (n > 90).as("too_long"),
        (q < 0.5).as("low_quality"),
        (lang === "und").as("unknown_lang"))
      .withColumn("kept",
        !col("too_short") && !col("too_long") &&
          !col("low_quality") && !col("unknown_lang"))
  }

  val filterReport = QueryDef(
    "llm_filter_report",
    (s, dir) => filterReportOn(documents(s, dir)).orderBy("doc_id"),
    Some("""
      WITH t AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(trim(text), '[\s\x0b]+')) END AS n,
          length(regexp_replace(trim(text), '[\s\x0b]+', '', 'g')) AS letters,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(list_filter(regexp_split_to_array(trim(text), '[\s\x0b]+'),
                 x -> x IN ('the','a','an','and','of','to','in'))) END AS stops,
          regexp_split_to_array(trim(text), '[\s\x0b]+') AS toks
        FROM documents),
      scored AS (
        SELECT doc_id, n,
          least(1.0, CAST(n AS DOUBLE) / 100.0) * 0.4
            + least(1.0, (CASE WHEN n = 0 THEN 0.0
                ELSE CAST(letters AS DOUBLE) / CAST(n AS DOUBLE) END) / 8.0) * 0.3
            + (1.0 - CASE WHEN n = 0 THEN 0.0
                ELSE CAST(stops AS DOUBLE) / CAST(n AS DOUBLE) END) * 0.3
            AS quality,
          len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is'))) AS s_en,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','nicht'))) AS s_de,
          len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une'))) AS s_fr,
          len(list_filter(toks, x -> x IN ('el','los','las','que','es','un','una'))) AS s_es
        FROM t)
      SELECT doc_id,
             n < 15 AS too_short,
             n > 90 AS too_long,
             quality < 0.5 AS low_quality,
             greatest(s_en, s_de, s_fr, s_es) = 0 AS unknown_lang,
             NOT (n < 15 OR n > 90 OR quality < 0.5
                  OR greatest(s_en, s_de, s_fr, s_es) = 0) AS kept
      FROM scored ORDER BY doc_id"""))

  /** Repetition-quality report (Gopher/C4-class signals): duplicate-token
    * fraction, highest single-token frequency share, and highest bigram
    * frequency share — natural text rarely repeats itself; templated or
    * looping text does. Two staged projections (tokens, then bigrams) so
    * each array materializes once per row; everything is map-only
    * expression work fused into the scan.
    */
  val repetitionReport = QueryDef(
    "llm_repetition_report",
    (s, dir) => docsPar(s, dir)
      .select(col("doc_id"), TextAnalysis.tokenArray(col("text")).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        TextAnalysis.bigramsFromTokens(col("__toks")).as("__bg"))
      .select(col("doc_id"),
        TextAnalysis.tokenCountFromTokens(col("__toks")).as("n_tokens"),
        TextAnalysis.dupFracFromArray(col("__toks")).as("dup_token_frac"),
        TextAnalysis.topFracFromArray(col("__toks")).as("max_token_frac"),
        TextAnalysis.topFracFromArray(col("__bg")).as("top_bigram_frac"))
      .orderBy("doc_id"),
    Some("""
      WITH t AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE regexp_split_to_array(trim(text), '[\s\x0b]+') END AS toks
        FROM documents),
      b AS (
        SELECT doc_id, toks,
          CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
               ELSE list_transform(generate_series(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1]) END AS bg
        FROM t)
      SELECT doc_id,
        CAST(len(toks) AS INTEGER) AS n_tokens,
        CASE WHEN len(toks) = 0 THEN 0.0
             ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                    / len(toks) END AS dup_token_frac,
        CASE WHEN len(toks) = 0 THEN 0.0
             ELSE CAST(list_max(list_transform(list_distinct(toks),
                 d -> len(list_filter(toks, x -> x = d)))) AS DOUBLE)
                    / len(toks) END AS max_token_frac,
        CASE WHEN len(bg) = 0 THEN 0.0
             ELSE CAST(list_max(list_transform(list_distinct(bg),
                 d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE)
                    / len(bg) END AS top_bigram_frac
      FROM b ORDER BY doc_id"""))

  /** PII detection + redaction report: per-class regex match counts
    * (email / IPv4 / phone), the redacted length, and the keep/scrub
    * verdict — the auditable shape of a curation privacy pass. The
    * patterns are lookaround-free so Java regex (Spark) and RE2 (DuckDB)
    * agree, and the oracle SQL is built from the SAME pattern constants.
    * One fused scan, no shuffle.
    */
  val piiReport = QueryDef(
    "llm_pii_report",
    (s, dir) => docsPar(s, dir)
      .select(col("doc_id"),
        TextAnalysis.piiMatchCount(col("text"),
          TextAnalysis.PiiEmailPattern).as("n_emails"),
        TextAnalysis.piiMatchCount(col("text"),
          TextAnalysis.PiiIpv4Pattern).as("n_ipv4"),
        TextAnalysis.piiMatchCount(col("text"),
          TextAnalysis.PiiPhonePattern).as("n_phones"),
        length(TextAnalysis.piiRedact(col("text"))).as("n_chars_redacted"))
      .withColumn("has_pii",
        col("n_emails") + col("n_ipv4") + col("n_phones") > 0)
      .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '${TextAnalysis.PiiEmailPattern}')) AS INTEGER) AS n_emails,
             CAST(len(regexp_extract_all(text,
               '${TextAnalysis.PiiIpv4Pattern}')) AS INTEGER) AS n_ipv4,
             CAST(len(regexp_extract_all(text,
               '${TextAnalysis.PiiPhonePattern}')) AS INTEGER) AS n_phones,
             CAST(length(regexp_replace(text,
               '${TextAnalysis.PiiAnyPattern}', '<PII>', 'g'))
               AS INTEGER) AS n_chars_redacted,
             len(regexp_extract_all(text, '${TextAnalysis.PiiEmailPattern}'))
               + len(regexp_extract_all(text, '${TextAnalysis.PiiIpv4Pattern}'))
               + len(regexp_extract_all(text, '${TextAnalysis.PiiPhonePattern}'))
               > 0 AS has_pii
      FROM documents ORDER BY doc_id"""))

  /** Corpus-level gram statistics: the top-50 distinct word-3-grams by
    * document frequency — the stop-gram discovery op (exactly the grams
    * the dedup df caps exclude for carrying no discriminating power).
    * Documents with fewer than 3 tokens are EXCLUDED: the whole-sequence
    * pseudo-shingle convention is right for dedup pairing (dropping short
    * docs there loses pairs) but would pollute a trigram-frequency report
    * with empty-string and whole-doc entries. One partial-aggregated
    * groupBy on the gram stream; the top-k is a TakeOrdered over the
    * (small) distinct-gram aggregate, never a sort of the corpus.
    */
  val gramStats = QueryDef(
    "llm_gram_stats",
    (s, dir) => documents(s, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("__toks"))
      .filter(size(col("__toks")) >= 3)
      .select(col("doc_id"),
        explode_outer(Dedup.shinglesFromTokens(col("__toks"))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("gram")).limit(50),
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0b]+') AS t
        FROM documents),
      g AS (
        SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(t) - 2),
            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g3
        FROM toks WHERE len(t) >= 3),
      grams AS (SELECT doc_id, unnest(g3) AS gram FROM g)
      SELECT gram, df FROM (
        SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram) c
      ORDER BY df DESC, gram LIMIT 50"""))

  /** Key-term extraction: each document's top-3 tokens by tf×(N/df) — the
    * rarity-weighted term score (tf-idf's shape with a RATIONAL idf:
    * tf·N/df is exact integer arithmetic carried in double, so both
    * engines agree bit-for-bit, where a log()-based idf would be hostage
    * to last-bit libm differences). One tokenization pass: df derives
    * FROM the tf aggregate (tf has exactly one row per (doc, token), so
    * counting its rows per token IS the document frequency) — no second
    * corpus scan, no distinct shuffle; plus a broadcast 1-row N and a
    * per-doc ranking window.
    */
  val keyTerms = QueryDef(
    "llm_keyterms",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = documents(s, dir)
      val toks = docs
        .select(col("doc_id"),
          explode_outer(TextAnalysis.tokenArray(col("text"))).as("tok"))
        .filter(col("tok").isNotNull)
      // tf feeds BOTH the df re-aggregation and the final join —
      // materialize it once (it is the small post-aggregate frame) so the
      // corpus is tokenized exactly once. At bench scale the eager
      // checkpoint job costs slightly more than the re-tokenization it
      // saves (~0.9 s vs ~0.7 s at sf0.1, cached tables); at corpus scale
      // the trade inverts hard — re-tokenizing 100 TB to save writing a
      // per-(doc, token) aggregate is never right.
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("tok"))
      tf.join(dfreq, Seq("tok"))
        .crossJoin(broadcast(nDocs))
        .withColumn("score",
          col("tf").cast(DoubleType) * col("n_docs").cast(DoubleType)
            / col("df").cast(DoubleType))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("tok"), col("tf"), col("df"),
          col("score"), col("rank"))
        .orderBy("doc_id", "rank")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(
          CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE regexp_split_to_array(trim(text), '[\s\x0b]+') END) AS tok
        FROM documents),
      tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      dfreq AS (
        SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
               CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
                 / CAST(dfreq.df AS DOUBLE) AS score
        FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
      ranked AS (
        SELECT doc_id, tok, tf, df, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, tok) AS INTEGER) AS rank
        FROM scored)
      SELECT doc_id, tok, tf, df, score, rank
      FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank"""))

  /** Canonical normalization + normalized fingerprint: the dedup-key
    * preprocessing rung (casing/whitespace variants collapse to one key).
    * n_dupes counts how many raw docs share each normalized form.
    */
  val textNormalize = QueryDef(
    "llm_text_normalize",
    (s, dir) => {
      val docs = documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.normalize(col("text")).as("__norm"))
      val counts = docs.groupBy(md5(col("__norm").cast(BinaryType)).as("fp_norm"))
        .agg(count(lit(1)).as("n_dupes"))
      docs
        .select(col("doc_id"),
          length(col("__norm")).as("n_chars_norm"),
          md5(col("__norm").cast(BinaryType)).as("fp_norm"))
        .join(counts, Seq("fp_norm"))
        .select(col("doc_id"), col("n_chars_norm"), col("fp_norm"),
          col("n_dupes"))
        .orderBy("doc_id")
    },
    Some("""
      WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '[\s\x0b]+', ' ', 'g')) AS nt
        FROM documents),
      counts AS (
        SELECT md5(nt) AS fp_norm, COUNT(*) AS n_dupes
        FROM norm GROUP BY 1)
      SELECT doc_id, CAST(length(nt) AS INTEGER) AS n_chars_norm,
             md5(nt) AS fp_norm, n_dupes
      FROM norm JOIN counts ON md5(nt) = counts.fp_norm
      ORDER BY doc_id"""))

  /** Deterministic stratified sampling: a 50-doc quota per language in
    * content-hash order — reproducible bit-for-bit and engine-checkable
    * (the md5 order key computes identically in Spark and DuckDB).
    */
  val sampleStratified = QueryDef(
    "llm_sample_stratified",
    (s, dir) => Sampling.stratifiedSample(documents(s, dir), "lang", 50)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy("lang", "sample_rank"),
    Some("""
      SELECT doc_id, lang, sample_rank FROM (
        SELECT doc_id, lang,
               CAST(ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY md5(text), doc_id) AS INTEGER) AS sample_rank
        FROM documents) t
      WHERE sample_rank <= 50
      ORDER BY lang, sample_rank"""))

  /** Temperature-flattened sampling (α = 0.5 via exact-rounded sqrt —
    * see Sampling.temperatureSample for why 0.5 and not a libm pow).
    */
  val sampleTemperature = QueryDef(
    "llm_sample_temperature",
    (s, dir) => Sampling.temperatureSample(documents(s, dir), "lang")
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy("lang", "sample_rank"),
    Some(s"""
      WITH n AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
      r AS (
        SELECT doc_id, lang,
               CAST(ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY md5(text), doc_id) AS INTEGER) AS sample_rank
        FROM documents)
      SELECT doc_id, r.lang, sample_rank
      FROM r JOIN n ON r.lang = n.lang
      WHERE sample_rank <= floor(sqrt(n.n) * ${Sampling.DefaultTemperatureScale})
      ORDER BY r.lang, sample_rank"""))

  /** Greedy token-budget selection per language: accumulate docs in
    * content-hash order until 5000 whitespace tokens; the doc crossing the
    * budget is excluded — the fixed-token-mix data-recipe shape.
    */
  val sampleBudget = QueryDef(
    "llm_sample_budget",
    (s, dir) => Sampling.tokenBudgetSample(documents(s, dir), "lang", 5000L)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
      .orderBy("lang", "cum_tokens", "doc_id"),
    Some("""
      WITH toks AS (
        SELECT doc_id, lang, text,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE CAST(len(regexp_split_to_array(trim(text), '[\s\x0b]+'))
                      AS INTEGER) END AS n_tokens
        FROM documents),
      cum AS (
        SELECT doc_id, lang, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY lang
                 ORDER BY md5(text), doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_tokens
        FROM toks)
      SELECT doc_id, lang, n_tokens, cum_tokens
      FROM cum WHERE cum_tokens <= 5000
      ORDER BY lang, cum_tokens, doc_id"""))

  /** Per-document weighted sampling (Sampling.weightedSample): 100 docs
    * drawn with probability increasing in n_chars via exact-integer
    * priority sampling — the per-doc-weight rung the stratum-level
    * temperature/mixture recipes don't cover (e.g. sample by quality
    * score). The oracle replays the identical md5-ascii fold and integer
    * division, so the full priority rule is cross-engine proven, not just
    * the selection.
    */
  val sampleWeighted = QueryDef(
    "llm_sample_weighted",
    (s, dir) => Sampling.weightedSample(documents(s, dir), "n_chars", 100)
      .select(col("doc_id"), col("n_chars"), col("priority"))
      .orderBy("priority", "doc_id"),
    Some(s"""
      WITH p AS (
        SELECT doc_id, n_chars,
               (${(1 to Sampling.PriorityChars).map(i =>
                 s"CAST(ascii(substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) " +
                   s"AS BIGINT) * ${math.pow(128, i - 1).toLong}")
                 .mkString("\n                + ")})
                 * ${Sampling.PriorityScale} AS up
        FROM documents WHERE n_chars > 0)
      SELECT doc_id, n_chars, up // n_chars AS priority
      FROM p ORDER BY priority, doc_id LIMIT 100"""))

  /** The token-budget recipe under the REAL tokenizer's unit of account:
    * same greedy per-language selection as `llm_sample_budget`, but the
    * running sum accumulates vocab-driven BPE token counts
    * (graft.functions.BpeTokenCount) — budgeting whitespace tokens when
    * training counts BPE tokens is off by the compression ratio. Cross-
    * engine oracled since r12: the running sum chains on the fixed-merge
    * list_reduce replay ([[bpeEncodeCountSql]]) that oracled
    * llm_text_tokens_bpe_real.
    */
  val sampleBudgetBpe = QueryDef(
    "llm_sample_budget_bpe",
    (s, dir) => Sampling.tokenBudgetSample(documents(s, dir), "lang", 5000L,
      tokenCounter = TextAnalysis.bpeTokenCountReal(_))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
      .orderBy("lang", "cum_tokens", "doc_id"),
    Some(s"""
      WITH $bpeRealCountCtes,
      toks AS (
        SELECT d.doc_id, d.lang, d.text,
               CAST(coalesce(c.n, 0) AS INTEGER) AS n_tokens
        FROM documents d LEFT JOIN bcnt c ON d.doc_id = c.doc_id),
      cum AS (
        SELECT doc_id, lang, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY lang
                 ORDER BY md5(text), doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_tokens
        FROM toks)
      SELECT doc_id, lang, n_tokens, cum_tokens
      FROM cum WHERE cum_tokens <= 5000
      ORDER BY lang, cum_tokens, doc_id"""))

  /** The dedup ladder's shared components stage: exact-Jaccard near-dup
    * pairs (gram-key equi join with a df-100 cap) clustered by
    * large-star/small-star contraction (O(log d) rounds; cluster id = min
    * doc id, identical labels to label propagation, equivalence
    * spec-pinned). Memoized per (session, sf dir): the contraction loop
    * is eager (localCheckpoint per round), so a downstream view re-runs
    * the whole pairs+components computation unless the stage is shared —
    * `llm_dedup_survivors` derives from this materialization (the
    * pipeline shape: survivors = corpus minus losers of the SAME
    * clustering), while `llm_dedup_clusters` intentionally bypasses it to
    * stay an honest cold-pipeline benchmark. The checkpoint truncates
    * lineage — reuse is a leaf scan, not a replan; the memo holds one
    * tiny (id, cluster) frame per dataset actually queried in the
    * session, so growth is bounded.
    */
  private val componentsMemo = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String),
      (String, org.apache.spark.sql.DataFrame)]

  /** Cheap content snapshot of the documents table under `dir`: sorted
    * (path, length, mtime) of its leaf files — one driver-side FS listing,
    * no data read. The memo validates against it on every hit, so an
    * in-session rewrite of the corpus yields fresh components instead of
    * stale clusters (a long-lived serving session would otherwise serve
    * the first run's clustering forever). Stale entries are REPLACED, not
    * accumulated — the memo holds at most one frame per (session, dir).
    */
  private def docsSnapshot(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def leaves(st: org.apache.hadoop.fs.FileStatus)
        : Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves)
      else Seq(st)
    leaves(fs.getFileStatus(p)).sortBy(_.getPath.toString)
      .map(st => s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
      .mkString("|")
  }

  /** Free a replaced memo entry's checkpoint blocks deterministically: a
    * localCheckpoint'd frame holds persisted RDD blocks that are otherwise
    * reclaimed only when driver GC happens to collect the RDD — in a
    * long-lived session that rewrites the corpus repeatedly (exactly what
    * the snapshot validation is for), dead blocks would pile up on
    * executors. LogicalRDD is private[sql], so the persisted RDD is
    * reached via the case-class accessor reflectively.
    */
  private def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.optimizedPlan.foreach { node =>
      if (node.getClass.getSimpleName == "LogicalRDD")
        node.getClass.getMethod("rdd").invoke(node) match {
          case r: org.apache.spark.rdd.RDD[_] => r.unpersist(blocking = false)
          case _ => ()
        }
    }

  /** Synchronized on the memo: two concurrent first-callers would
    * otherwise both miss and one checkpoint's blocks would leak (the
    * losing put is replaced but never unpersisted). Serializing the
    * build is fine — it is one frame per (session, dir) per corpus
    * version, and hits stay cheap.
    *
    * CONTRACT for corpus rewrites: the replaced frame's checkpoint
    * blocks are unpersisted here, and a localCheckpoint'd frame cannot
    * recompute from lineage — so a query still IN FLIGHT over the old
    * frame when the corpus is rewritten may fail with missing blocks
    * rather than silently serve stale clusters. Rewrite-then-query is
    * the supported order; failing loudly on the racing reader is the
    * deliberate trade (stale-forever was the alternative).
    */
  private def dedupComponents(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    componentsMemo.synchronized {
      val snap = docsSnapshot(s, dir)
      componentsMemo.get((s, dir)) match {
        case Some((`snap`, df)) => df
        case stale =>
          val df = Dedup.connectedComponentsAdaptive(
            Dedup.jaccardPairsExact(docsPar(s, dir), 0.8))
            .localCheckpoint(true)
          componentsMemo.put((s, dir), (snap, df))
          stale.foreach { case (_, old) => unpersistCheckpoint(old) }
          df
      }
    }

  /** The dedup endgame: near-dup pairs clustered into connected
    * components. Deliberately NOT the memoized stage: this query is the
    * honest cold-pipeline measurement (pairs + contraction from scratch
    * every run) — `llm_dedup_survivors` is the one that demonstrates the
    * pipeline shape by deriving from the shared components stage. The
    * oracle replays the components with a recursive CTE.
    */
  val dedupClusters = QueryDef(
    "llm_dedup_clusters",
    (s, dir) => {
      val comps = Dedup.connectedComponentsAdaptive(
        Dedup.jaccardPairsExact(docsPar(s, dir), 0.8))
      val sizes = comps.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
      comps.join(sizes, Seq("cluster_id"))
        .select(col("id").as("doc_id"), col("cluster_id"),
          col("cluster_size"))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE
      toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0b]+') AS t
        FROM documents),
      g AS (
        -- short-doc branch mirrors Spark's shinglesFromTokens: a doc with
        -- fewer than 3 tokens contributes its whole token sequence as ONE
        -- shingle (the bare trigram expression would go NULL and silently
        -- drop the doc from pairing)
        SELECT doc_id, CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(
              generate_series(1, len(t) - 2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [array_to_string(t, ' ')] END AS g3
        FROM toks),
      grams0 AS (
        SELECT doc_id, unnest(g3) AS gram FROM g),
      keepgrams AS (
        SELECT gram FROM grams0 GROUP BY gram HAVING COUNT(*) <= 100),
      grams AS (
        SELECT doc_id, gram FROM grams0 JOIN keepgrams USING (gram)),
      sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY 1),
      shared AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1,2),
      pairs AS (
        SELECT da, db FROM shared
        JOIN sizes sa ON sa.doc_id = da
        JOIN sizes sb ON sb.doc_id = db
        WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.8),
      edges AS (
        SELECT da AS s, db AS d FROM pairs
        UNION
        SELECT db, da FROM pairs),
      reach AS (
        SELECT DISTINCT s AS id, s AS r FROM edges
        UNION
        SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id),
      comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      sized AS (SELECT cluster_id, COUNT(*) AS cluster_size
                FROM comp GROUP BY 1)
      SELECT comp.id AS doc_id, comp.cluster_id, sized.cluster_size
      FROM comp JOIN sized USING (cluster_id)
      ORDER BY doc_id"""))

  /** The cleaned corpus — what the dedup ladder actually ships: every
    * document except non-keeper near-dup cluster members (keeper = the
    * cluster's minimum doc id). Realized as a left-anti join of the corpus
    * against the loser set, so singleton docs pass through untouched.
    */
  val dedupSurvivors = QueryDef(
    "llm_dedup_survivors",
    (s, dir) => {
      val docs = documents(s, dir)
      val losers = dedupComponents(s, dir)
        .filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE
      toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0b]+') AS t
        FROM documents),
      g AS (
        -- short-doc branch mirrors Spark's shinglesFromTokens: a doc with
        -- fewer than 3 tokens contributes its whole token sequence as ONE
        -- shingle (the bare trigram expression would go NULL and silently
        -- drop the doc from pairing)
        SELECT doc_id, CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(
              generate_series(1, len(t) - 2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [array_to_string(t, ' ')] END AS g3
        FROM toks),
      grams0 AS (
        SELECT doc_id, unnest(g3) AS gram FROM g),
      keepgrams AS (
        SELECT gram FROM grams0 GROUP BY gram HAVING COUNT(*) <= 100),
      grams AS (
        SELECT doc_id, gram FROM grams0 JOIN keepgrams USING (gram)),
      sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY 1),
      shared AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1,2),
      pairs AS (
        SELECT da, db FROM shared
        JOIN sizes sa ON sa.doc_id = da
        JOIN sizes sb ON sb.doc_id = db
        WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.8),
      edges AS (
        SELECT da AS s, db AS d FROM pairs
        UNION
        SELECT db, da FROM pairs),
      reach AS (
        SELECT DISTINCT s AS id, s AS r FROM edges
        UNION
        SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id),
      comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      losers AS (SELECT id AS doc_id FROM comp WHERE id <> cluster_id)
      SELECT doc_id, lang, n_chars FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM losers)
      ORDER BY doc_id"""))

  /** The dedup ladder under a QUALITY survivor policy: each near-dup
    * cluster keeps its highest-quality member (ties to the lowest doc id)
    * instead of the lowest id — what production pipelines actually ship
    * ("keep the best copy"). Derives from the SAME memoized components
    * stage as `llm_dedup_survivors`; the per-cluster ranking window runs
    * over the components frame only (docs that appear in a pair — tiny),
    * never the corpus. The oracle replays the clustering with the
    * recursive CTE and the quality formula of `llm_text_quality` (whose
    * bit-exact cross-engine agreement is already proven).
    */
  val dedupSurvivorsBest = QueryDef(
    "llm_dedup_survivors_best",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = documents(s, dir)
      val comps = dedupComponents(s, dir)
      // score ONLY cluster members (a semi-join against the tiny
      // components frame) — scoring the whole corpus and discarding
      // everything but the members would be corpus-scale wasted
      // expression work at the 100 TB framing
      val quality = docs
        .join(comps.select(col("id").as("doc_id")), Seq("doc_id"),
          "left_semi")
        .select(col("doc_id"), TextAnalysis.tokenArray(col("text")).as("__toks"))
        .select(col("doc_id"),
          TextAnalysis.qualityScoreFromTokens(col("__toks")).as("__q"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("__q").desc, col("id"))
      val losers = comps
        .join(quality, col("id") === col("doc_id"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") > 1)
        .select(col("id").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE
      toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0b]+') AS t
        FROM documents),
      g AS (
        SELECT doc_id, CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(
              generate_series(1, len(t) - 2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [array_to_string(t, ' ')] END AS g3
        FROM toks),
      grams0 AS (
        SELECT doc_id, unnest(g3) AS gram FROM g),
      keepgrams AS (
        SELECT gram FROM grams0 GROUP BY gram HAVING COUNT(*) <= 100),
      grams AS (
        SELECT doc_id, gram FROM grams0 JOIN keepgrams USING (gram)),
      sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY 1),
      shared AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1,2),
      pairs AS (
        SELECT da, db FROM shared
        JOIN sizes sa ON sa.doc_id = da
        JOIN sizes sb ON sb.doc_id = db
        WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.8),
      edges AS (
        SELECT da AS s, db AS d FROM pairs
        UNION
        SELECT db, da FROM pairs),
      reach AS (
        SELECT DISTINCT s AS id, s AS r FROM edges
        UNION
        SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id),
      comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      qt AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(trim(text), '[\s\x0b]+')) END AS n,
          length(regexp_replace(trim(text), '[\s\x0b]+', '', 'g')) AS letters,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(list_filter(regexp_split_to_array(trim(text), '[\s\x0b]+'),
                 x -> x IN ('the','a','an','and','of','to','in'))) END AS stops
        FROM documents),
      quality AS (
        SELECT doc_id,
          least(1.0, CAST(n AS DOUBLE) / 100.0) * 0.4
            + least(1.0, (CASE WHEN n = 0 THEN 0.0
                ELSE CAST(letters AS DOUBLE) / CAST(n AS DOUBLE) END) / 8.0) * 0.3
            + (1.0 - CASE WHEN n = 0 THEN 0.0
                ELSE CAST(stops AS DOUBLE) / CAST(n AS DOUBLE) END) * 0.3
            AS qs
        FROM qt),
      ranked AS (
        SELECT comp.id,
               ROW_NUMBER() OVER (PARTITION BY comp.cluster_id
                 ORDER BY quality.qs DESC, comp.id) AS rn
        FROM comp JOIN quality ON quality.doc_id = comp.id),
      losers AS (SELECT id AS doc_id FROM ranked WHERE rn > 1)
      SELECT doc_id, lang, n_chars FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM losers)
      ORDER BY doc_id"""))

  /** Weighted mixture recipe: 50% en / 30% de / 20% fr of a 200-doc
    * budget, es excluded — per-stratum quotas in content-hash order.
    */
  val sampleMixture = QueryDef(
    "llm_sample_mixture",
    (s, dir) => Sampling.mixtureSample(documents(s, dir), "lang",
      Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2), total = 200L)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy("lang", "sample_rank"),
    Some("""
      SELECT doc_id, lang, sample_rank FROM (
        SELECT doc_id, lang,
               CAST(ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY md5(text), doc_id) AS INTEGER) AS sample_rank
        FROM documents WHERE lang IN ('en','de','fr')) t
      WHERE sample_rank <= CASE lang WHEN 'en' THEN 100
                                     WHEN 'de' THEN 60
                                     WHEN 'fr' THEN 40 END
      ORDER BY lang, sample_rank"""))

  /** Incremental dedup — the daily-ingest shape: an incoming batch (here
    * the deterministic 20% slice doc_id % 5 = 0) deduplicated AGAINST the
    * existing corpus without re-clustering anything. Each new doc gets an
    * exact-dup flag (content digest seen in the corpus), a near-dup flag
    * (word-3-gram Jaccard ≥ 0.8 against ANY corpus doc — an asymmetric
    * new×old gram-key equi join, never new×new or old×old), and the keep
    * verdict. Gram document frequencies are capped over the FULL corpus
    * (both sides) with the usual broadcast blacklist, so a hot gram can't
    * blow up the join; only (gram, id) slim rows move. At 100 TB the old
    * side's gram stream is the thing you'd precompute and keep partitioned
    * by gram — the join shape here is exactly that access pattern.
    */
  val dedupIncremental = QueryDef(
    "llm_dedup_incremental",
    (s, dir) => {
      val docs = documents(s, dir)
      val isNew = col("doc_id") % 5 === 0
      // exact: digest semi-join against the old side
      val digests = docs.select(col("doc_id"),
        md5(col("text").cast(BinaryType)).as("fp"))
      val oldFps = digests.filter(!isNew).select("fp").distinct()
      val exactDups = digests.filter(isNew)
        .join(oldFps, Seq("fp"), "left_semi").select("doc_id")
      // near: the shared df-capped gram stream (computed once over the
      // full corpus — Dedup.cappedGrams carries the staging/cap
      // discipline), then new-side × old-side only
      val grams = Dedup.cappedGrams(docs)
      val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val a = grams.filter(isNew).select(col("gram"), col("doc_id").as("new_id"))
      val b = grams.filter(!isNew).select(col("gram"), col("doc_id").as("old_id"))
      val nearDups = a.join(b, Seq("gram"))
        .groupBy("new_id", "old_id").agg(count(lit(1)).as("shared"))
        .join(sizes.select(col("doc_id").as("new_id"), col("sz").as("sza")),
          Seq("new_id"))
        .join(sizes.select(col("doc_id").as("old_id"), col("sz").as("szb")),
          Seq("old_id"))
        .filter(col("shared").cast(DoubleType)
          / (col("sza") + col("szb") - col("shared")) >= 0.8)
        .select(col("new_id").as("doc_id")).distinct()
      docs.filter(isNew).select(col("doc_id"))
        .join(exactDups.withColumn("__e", lit(true)), Seq("doc_id"), "left")
        .join(nearDups.withColumn("__n", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__e"), lit(false)).as("exact_dup"),
          coalesce(col("__n"), lit(false)).as("near_dup"))
        .withColumn("kept", !col("exact_dup") && !col("near_dup"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0b]+') AS t
        FROM documents),
      g AS (
        SELECT doc_id, CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(
              generate_series(1, len(t) - 2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [array_to_string(t, ' ')] END AS g3
        FROM toks),
      grams0 AS (
        SELECT doc_id, unnest(g3) AS gram FROM g),
      keepgrams AS (
        SELECT gram FROM grams0 GROUP BY gram HAVING COUNT(*) <= 100),
      grams AS (
        SELECT doc_id, gram FROM grams0 JOIN keepgrams USING (gram)),
      sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY 1),
      exact AS (
        SELECT DISTINCT n.doc_id
        FROM documents n JOIN documents o
          ON md5(n.text) = md5(o.text)
         AND n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0),
      near AS (
        SELECT DISTINCT s.new_id AS doc_id FROM (
          SELECT a.doc_id AS new_id, b.doc_id AS old_id, COUNT(*) AS c
          FROM grams a JOIN grams b ON a.gram = b.gram
          WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
          GROUP BY 1,2) s
        JOIN sizes sa ON sa.doc_id = s.new_id
        JOIN sizes sb ON sb.doc_id = s.old_id
        WHERE CAST(s.c AS DOUBLE) / (sa.sz + sb.sz - s.c) >= 0.8)
      SELECT d.doc_id,
             d.doc_id IN (SELECT doc_id FROM exact) AS exact_dup,
             d.doc_id IN (SELECT doc_id FROM near) AS near_dup,
             NOT (d.doc_id IN (SELECT doc_id FROM exact)
                  OR d.doc_id IN (SELECT doc_id FROM near)) AS kept
      FROM documents d WHERE d.doc_id % 5 = 0
      ORDER BY d.doc_id"""))

  /** Fixed-size chunking plan: each document split into `ChunkTokens`-token
    * chunks (the pre-step of any long-document training pipeline) — a pure
    * generate (posexplode of a sequence), map-side only, no shuffle until
    * the final order.
    */
  val ChunkTokens = 64

  val chunkPlan = QueryDef(
    "llm_chunk_plan",
    (s, dir) => documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        posexplode(sequence(lit(0L),
          ceil(col("n_tokens").cast(DoubleType) / ChunkTokens)
            .cast(LongType) - 1L)))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").cast(IntegerType).as("chunk_idx"),
        (col("col") * ChunkTokens + 1).cast(LongType).as("tok_start"),
        least(lit(ChunkTokens.toLong),
          col("n_tokens") - col("col") * ChunkTokens).as("tok_len"))
      .orderBy("doc_id", "chunk_idx"),
    Some(s"""
      WITH toks AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '[\\s\\x0b]+'))
               END AS n_tokens
        FROM documents),
      chunks AS (
        SELECT doc_id, n_tokens, unnest(generate_series(
                 0, CAST(ceil(CAST(n_tokens AS DOUBLE) / $ChunkTokens)
                    AS BIGINT) - 1)) AS c
        FROM toks WHERE n_tokens > 0)
      SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
             CAST(c AS INTEGER) AS chunk_idx,
             CAST(c * $ChunkTokens + 1 AS BIGINT) AS tok_start,
             CAST(least($ChunkTokens, n_tokens - c * $ChunkTokens) AS BIGINT)
               AS tok_len
      FROM chunks ORDER BY doc_id, chunk_idx"""))

  /** OVERLAPPING (sliding) chunking plan — the retrieval/RAG variant of
    * [[chunkPlan]]: `ChunkTokens`-token windows every `ChunkStride`
    * tokens (25% overlap), so a fact straddling a fixed-chunk boundary
    * still lands whole in some window. Same map-side generate shape —
    * the chunk count per doc is 1 + ceil(max(0, n − size) / stride),
    * computed in INTEGER arithmetic with the max applied BEFORE the
    * division (a negative numerator would floor in DuckDB but truncate
    * in Spark — the q30 cross-engine division lesson); the last window
    * always reaches the document's end, windows never start past it.
    */
  val ChunkStride = 48

  val chunkOverlapPlan = QueryDef(
    "llm_chunk_overlap_plan",
    (s, dir) => documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        posexplode(sequence(lit(0L),
          expr(s"(greatest(0L, n_tokens - $ChunkTokens) + " +
            s"${ChunkStride - 1}) div $ChunkStride"))))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").cast(IntegerType).as("chunk_idx"),
        (col("col") * ChunkStride + 1).cast(LongType).as("tok_start"),
        least(lit(ChunkTokens.toLong),
          col("n_tokens") - col("col") * ChunkStride).as("tok_len"))
      .orderBy("doc_id", "chunk_idx"),
    Some(s"""
      WITH toks AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '[\\s\\x0b]+'))
               END AS n_tokens
        FROM documents),
      chunks AS (
        SELECT doc_id, n_tokens, unnest(generate_series(
                 0, (greatest(0, n_tokens - $ChunkTokens)
                     + ${ChunkStride - 1}) // $ChunkStride)) AS c
        FROM toks WHERE n_tokens > 0)
      SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
             CAST(c AS INTEGER) AS chunk_idx,
             CAST(c * $ChunkStride + 1 AS BIGINT) AS tok_start,
             CAST(least($ChunkTokens, n_tokens - c * $ChunkStride) AS BIGINT)
               AS tok_len
      FROM chunks ORDER BY doc_id, chunk_idx"""))

  /** Sequence-packing plan (Sampling.packingPlan): documents concatenated
    * in content-hash order, cut into 512-token training sequences; each
    * doc reports its bin and offset. The global running sum is the salted
    * two-phase prefix sum; the oracle replays it as one plain window.
    */
  val packPlan = QueryDef(
    "llm_pack_plan",
    (s, dir) => Sampling.packingPlan(documents(s, dir), seqLen = 512L)
      .select(col("doc_id"), col("n_tokens"),
        col("bin_id"), col("bin_offset"))
      .orderBy("doc_id"),
    Some("""
      WITH toks AS (
        SELECT doc_id, text,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '[\s\x0b]+'))
               END AS n_tokens
        FROM documents),
      cum AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY md5(text), doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens AS strt
        FROM toks)
      SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
             CAST(floor(CAST(strt AS DOUBLE) / 512) AS BIGINT) AS bin_id,
             CAST(strt % 512 AS BIGINT) AS bin_offset
      FROM cum ORDER BY doc_id"""))

  /** Benchmark-contamination check: which documents contain any probe
    * trigram from a (normally benchmark-derived) probe set. The join is
    * gram-key EQUI against the broadcast probe list — never a
    * contains() scan per probe — so it scales as one pass over the
    * corpus gram stream regardless of probe-set size.
    */
  val ContaminationProbes: Seq[String] = Seq(
    "key agg row", "batch window spark", "slow filter value",
    "join batch join", "group order column", "table window table")

  /** Per-doc shingles joined against the broadcast probe list — the ONE
    * definition behind llm_contamination, llm_decontaminated, and the
    * capstone (a review pass found this pipeline re-stated at each site;
    * a future change to contamination semantics now lands everywhere at
    * once). Returns (doc_id, gram) probe-hit rows.
    */
  private def probeHits(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val probes = broadcast(
      s.createDataFrame(ContaminationProbes.map(Tuple1(_)))
        .toDF("gram"))
    documents(s, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("__toks"))
      .select(col("doc_id"),
        explode_outer(Dedup.shinglesFromTokens(col("__toks"))).as("gram"))
      .join(probes, Seq("gram"))
  }

  val contamination = QueryDef(
    "llm_contamination",
    (s, dir) => {
      val hits = probeHits(s, dir)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"), min(col("gram")).as("first_probe"))
      documents(s, dir).select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          col("first_probe"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '[\\s\\x0b]+') AS t
        FROM documents),
      g AS (
        SELECT doc_id, CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(
              generate_series(1, len(t) - 2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [array_to_string(t, ' ')] END AS g3
        FROM toks),
      grams AS (SELECT doc_id, unnest(g3) AS gram FROM g),
      probes AS (SELECT unnest([${ContaminationProbes
        .map(p => s"'$p'").mkString(", ")}]) AS gram),
      hits AS (
        SELECT doc_id, COUNT(*) AS n_hits, MIN(gram) AS first_probe
        FROM grams JOIN probes USING (gram) GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits, h.first_probe
      FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      ORDER BY d.doc_id"""))

  /** The decontaminated corpus — what the contamination check actually
    * ships: every document with zero probe hits, via a left-anti join
    * against the (tiny) contaminated-id set. Same probe list as
    * `llm_contamination`.
    */
  val decontaminated = QueryDef(
    "llm_decontaminated",
    (s, dir) => {
      val contaminated = probeHits(s, dir).select("doc_id").distinct()
      documents(s, dir)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '[\\s\\x0b]+') AS t
        FROM documents),
      g AS (
        SELECT doc_id, CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(
              generate_series(1, len(t) - 2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [array_to_string(t, ' ')] END AS g3
        FROM toks),
      grams AS (SELECT doc_id, unnest(g3) AS gram FROM g),
      probes AS (SELECT unnest([${ContaminationProbes
        .map(p => s"'$p'").mkString(", ")}]) AS gram),
      bad AS (SELECT DISTINCT doc_id FROM grams JOIN probes USING (gram))
      SELECT doc_id, lang, n_chars FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM bad)
      ORDER BY doc_id"""))

  /** L2 normalization of the embedding column: emits per-vector proof
    * scalars (first unit component + the unit vector's norm) rather than
    * the array itself, keeping the compare scalar-typed. All arithmetic is
    * the same left-to-right IEEE fold in both engines.
    */
  /** The capstone composition — what a training-data user actually ships
    * with ONE call: the corpus after the whole curation ladder.
    *   survivors (near-dup losers dropped, memoized components)
    *   ∧ kept (quality filter rules)
    *   ∧ decontaminated (zero benchmark-probe hits)
    *   ∧ train split (deterministic md5 bucket, shared constants).
    * Every stage is itself an oracled query; this pins that the
    * COMPOSITION (two anti joins + a semi join + a map-only predicate,
    * all on slim id sets over one corpus scan per stage) is right too.
    * The split predicate runs pre-join right after the scan, the kept/
    * loser/contaminated sets are id-only frames, and the main branch's
    * scan never reads `text` (plan-audited) — the corpus text bytes are
    * read only where a stage genuinely consumes them.
    */
  val curatedTrain = QueryDef(
    "llm_curated_train",
    (s, dir) => {
      val docs = documents(s, dir)
      val losers = dedupComponents(s, dir)
        .filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      val kept = filterReportOn(docs).filter(col("kept")).select("doc_id")
      val contaminated = probeHits(s, dir).select("doc_id").distinct()
      docs
        .filter(CurationQueries.splitName(
          CurationQueries.splitBucket(col("doc_id"))) === "train")
        .join(losers, Seq("doc_id"), "left_anti")
        .join(kept, Seq("doc_id"), "left_semi")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE
      toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '[\\s\\x0b]+') AS t
        FROM documents),
      g AS (
        SELECT doc_id, CASE WHEN len(t) >= 3 THEN
            list_distinct(list_transform(
              generate_series(1, len(t) - 2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
          ELSE [array_to_string(t, ' ')] END AS g3
        FROM toks),
      grams0 AS (
        SELECT doc_id, unnest(g3) AS gram FROM g),
      keepgrams AS (
        SELECT gram FROM grams0 GROUP BY gram HAVING COUNT(*) <= 100),
      grams AS (
        SELECT doc_id, gram FROM grams0 JOIN keepgrams USING (gram)),
      sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY 1),
      shared AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1,2),
      pairs AS (
        SELECT da, db FROM shared
        JOIN sizes sa ON sa.doc_id = da
        JOIN sizes sb ON sb.doc_id = db
        WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.8),
      edges AS (
        SELECT da AS s, db AS d FROM pairs
        UNION
        SELECT db, da FROM pairs),
      reach AS (
        SELECT DISTINCT s AS id, s AS r FROM edges
        UNION
        SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id),
      comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      ft AS (
        SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(trim(text), '[\\s\\x0b]+')) END AS n,
          length(regexp_replace(trim(text), '[\\s\\x0b]+', '', 'g')) AS letters,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(list_filter(regexp_split_to_array(trim(text), '[\\s\\x0b]+'),
                 x -> x IN ('the','a','an','and','of','to','in'))) END AS stops,
          regexp_split_to_array(trim(text), '[\\s\\x0b]+') AS ftoks
        FROM documents),
      fkept AS (
        SELECT doc_id FROM (
          SELECT doc_id, n,
            least(1.0, CAST(n AS DOUBLE) / 100.0) * 0.4
              + least(1.0, (CASE WHEN n = 0 THEN 0.0
                  ELSE CAST(letters AS DOUBLE) / CAST(n AS DOUBLE) END) / 8.0) * 0.3
              + (1.0 - CASE WHEN n = 0 THEN 0.0
                  ELSE CAST(stops AS DOUBLE) / CAST(n AS DOUBLE) END) * 0.3
              AS quality,
            greatest(
              len(list_filter(ftoks, x -> x IN ('the','a','and','of','to','in','is'))),
              len(list_filter(ftoks, x -> x IN ('der','die','das','und','ist','ein','nicht'))),
              len(list_filter(ftoks, x -> x IN ('le','la','les','et','est','un','une'))),
              len(list_filter(ftoks, x -> x IN ('el','los','las','que','es','un','una'))))
              AS langmax
          FROM ft)
        WHERE NOT (n < 15 OR n > 90 OR quality < 0.5 OR langmax = 0)),
      probes AS (SELECT unnest([${ContaminationProbes
        .map(p => s"'$p'").mkString(", ")}]) AS gram),
      chits AS (
        SELECT DISTINCT doc_id FROM grams0 JOIN probes USING (gram))
      SELECT d.doc_id, d.lang, d.source, d.n_chars
      FROM documents d
      WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2)
              < '${CurationQueries.TrainBound}'
        AND NOT EXISTS (SELECT 1 FROM comp
              WHERE comp.id = d.doc_id AND comp.id <> comp.cluster_id)
        AND EXISTS (SELECT 1 FROM fkept WHERE fkept.doc_id = d.doc_id)
        AND NOT EXISTS (SELECT 1 FROM chits WHERE chits.doc_id = d.doc_id)
      ORDER BY d.doc_id"""))

  val embedNormalize = QueryDef(
    "llm_embed_normalize",
    (s, dir) => Similarity.l2Normalized(embeddings(s, dir))
      .select(col("vec_id"),
        element_at(col("unit"), 1).as("unit_first"),
        Similarity.norm(col("unit")).as("unit_norm"))
      .orderBy("vec_id"),
    Some("""
      WITH u AS (
        -- zero-vector guard mirrors Spark's l2Normalized: a zero vector
        -- passes through unchanged (an unguarded divide would emit NaN)
        SELECT vec_id,
               CASE WHEN list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]) = 0
                    THEN embedding::DOUBLE[]
                    ELSE list_transform(embedding::DOUBLE[],
                      x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                     embedding::DOUBLE[])))
               END AS unit
        FROM embeddings)
      SELECT vec_id, unit[1] AS unit_first,
             sqrt(list_dot_product(unit, unit)) AS unit_norm
      FROM u ORDER BY vec_id"""))

  /** Int8 scalar quantization of the embedding corpus
    * (Similarity.scalarQuantize): per-vector symmetric scale, quantized
    * values constrained through EXACT-INTEGER derivations (first element,
    * Σq, Σq² — any quantization drift flips an integer, unlike a float
    * summary). The oracle replays the identical floor(x·127/s + 0.5)
    * arithmetic on DuckDB list lambdas; EmbedQuantizeSpec checks the
    * s/254 reconstruction bound and the recall cost vs exact cosine.
    */
  val embedQuantize = QueryDef(
    "llm_embed_quantize",
    (s, dir) => Similarity.scalarQuantize(embeddings(s, dir))
      .select(col("vec_id"), col("scale"),
        element_at(col("qvec"), 1).as("q_first"),
        aggregate(col("qvec"), lit(0L), (a, x) => a + x).as("q_sum"),
        aggregate(col("qvec"), lit(0L), (a, x) => a + x * x).as("q_norm2"))
      .orderBy("vec_id"),
    Some("""
      WITH q AS (
        SELECT vec_id,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
                 AS scale,
               embedding::DOUBLE[] AS v
        FROM embeddings),
      qq AS (
        SELECT vec_id, scale,
               CASE WHEN scale = 0
                    THEN list_transform(v, x -> 0)
                    ELSE list_transform(v,
                      x -> CAST(floor(x * 127.0 / scale + 0.5) AS INTEGER))
               END AS qvec
        FROM q)
      SELECT vec_id, scale, qvec[1] AS q_first,
             CAST(list_sum(list_transform(qvec, x -> CAST(x AS BIGINT)))
               AS BIGINT) AS q_sum,
             CAST(list_sum(list_transform(qvec,
               x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT)
               AS q_norm2
      FROM qq ORDER BY vec_id"""))

  /** Top-5 retrieval over the int8-quantized corpus
    * (Similarity.quantizedTopK): exact-BIGINT dot products, scales cancel
    * in the ranking. The oracle re-derives the same quantization then
    * folds integer terms in double (exact below 2^53) — so quantize,
    * score, and rank are all cross-engine proven.
    */
  val annQuantized = QueryDef(
    "llm_ann_quantized",
    (s, dir) => {
      val emb = graft.Tables.fanout(s, embeddings(s, dir))
      Similarity.quantizedTopK(emb.filter(col("vec_id") < 10), emb, 5)
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH src AS (
        SELECT vec_id,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
                 AS scale,
               embedding::DOUBLE[] AS v
        FROM embeddings),
      qz AS (
        SELECT vec_id,
               CASE WHEN scale = 0
                    THEN list_transform(v, x -> CAST(0 AS DOUBLE))
                    ELSE list_transform(v,
                      x -> floor(x * 127.0 / scale + 0.5))
               END AS qv
        FROM src),
      nz AS (
        SELECT vec_id, qv, list_dot_product(qv, qv) AS n2
        FROM qz WHERE list_dot_product(qv, qv) > 0),
      q AS (SELECT vec_id AS query_id, qv AS qq, n2 AS qn2
            FROM nz WHERE vec_id < 10),
      scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               CAST(list_dot_product(q.qq, c.qv) AS BIGINT) AS int_dot,
               list_dot_product(q.qq, c.qv)
                 / (sqrt(q.qn2) * sqrt(c.n2)) AS qcosine
        FROM nz c, q WHERE c.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, neighbor_id, int_dot, qcosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY qcosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM scored)
      SELECT * FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** Shared CTE prefix for both PQ queries: grid-quantized components,
    * the seeded codebook, and the exact-BIGINT subspace distances keyed
    * (id, m, k) — generated FROM the Similarity policy knobs so a knob
    * edit re-derives the oracle with it.
    */
  private def pqDistCtes: String = {
    val grid = Similarity.PqGrid
    val nc = Similarity.PqCentroids
    val sd = EmbeddingDim / Similarity.PqSubspaces
    s"""
      comps AS (
        SELECT vec_id,
               unnest(generate_series(0, len(embedding) - 1)) AS pos,
               unnest(list_transform(embedding::DOUBLE[],
                 x -> CAST(floor(x * $grid + 0.5) AS BIGINT))) AS x
        FROM embeddings),
      cb AS (
        SELECT CAST(vec_id AS INTEGER) AS k,
               CAST(pos // $sd AS INTEGER) AS m, pos % $sd AS j, x AS c
        FROM comps WHERE vec_id < $nc),
      sub AS (
        SELECT vec_id, CAST(pos // $sd AS INTEGER) AS m, pos % $sd AS j, x
        FROM comps),
      d AS (
        SELECT s.vec_id, s.m, cb.k,
               CAST(SUM((s.x - cb.c) * (s.x - cb.c)) AS BIGINT) AS dist
        FROM sub s JOIN cb ON s.m = cb.m AND s.j = cb.j
        GROUP BY 1, 2, 3),
      code AS (
        SELECT vec_id, m, k AS code FROM (
          SELECT vec_id, m, k, ROW_NUMBER() OVER (
            PARTITION BY vec_id, m ORDER BY dist, k) AS rn
          FROM d)
        WHERE rn = 1)"""
  }

  /** Product quantization encode (Similarity.pqCodes — Jégou et al. 2011):
    * every embedding snapped to a global integer grid, split into 8
    * subspaces, each assigned its argmin-distance seeded centroid (16 per
    * subspace, = the subvectors of vec_id < 16 — the deterministic
    * seeding step of PQ training; Lloyd's refinement is the separately-
    * proven k-means machinery, so freezing the codebook at its seed is a
    * declared policy knob, not a gap). Output is the packed 4-bit-per-
    * subspace BIGINT code — 64 dims × float32 (256 B) → 4 B, the 64×
    * index-payload compression billion-vector ANN serving rests on. All
    * distances are exact-BIGINT sums on the grid, so code assignment
    * (incl. ties → smaller k) is bit-identical cross-engine.
    */
  val embedPq = QueryDef(
    "llm_embed_pq",
    (s, dir) => Similarity.pqCodes(embeddings(s, dir),
      EmbeddingDim / Similarity.PqSubspaces)
      .orderBy("vec_id"),
    Some(s"""
      WITH ${pqDistCtes}
      SELECT vec_id,
             CAST(SUM(code * (CAST(1 AS BIGINT) << (4 * m))) AS BIGINT)
               AS pqcode
      FROM code GROUP BY vec_id ORDER BY vec_id"""))

  /** ADC top-5 over the PQ codes (Similarity.pqSearch): per query a
    * model-sized LUT of exact subspace distances to every centroid
    * (M·K = 128 rows, broadcast), and each corpus vector's approximate
    * distance is the sum of its 8 code lookups — a broadcast equi join
    * on (m, code) + partial agg over the 4-byte code stream; the float
    * vectors are never touched after the LUT build. This is the serving
    * shape that makes 100 TB of embeddings scannable: the candidate pass
    * reads 64× less data than the float kernel. L2-distance semantics
    * (no normalization), so zero vectors need no guard; ranking
    * tie-breaks on neighbor_id.
    */
  val annPq = QueryDef(
    "llm_ann_pq",
    (s, dir) => Similarity.pqSearch(embeddings(s, dir), 5,
      EmbeddingDim / Similarity.PqSubspaces)
      .orderBy("query_id", "rank"),
    Some(s"""
      WITH ${pqDistCtes},
      lut AS (SELECT vec_id AS query_id, m, k, dist AS ld
              FROM d WHERE vec_id < 10),
      adist AS (
        SELECT l.query_id, c.vec_id AS neighbor_id,
               CAST(SUM(l.ld) AS BIGINT) AS adist
        FROM code c JOIN lut l ON c.m = l.m AND c.code = l.k
        WHERE c.vec_id <> l.query_id
        GROUP BY 1, 2),
      ranked AS (
        SELECT query_id, neighbor_id, adist,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adist, neighbor_id) AS INTEGER) AS rank
        FROM adist)
      SELECT * FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** IVF-PQ (Similarity.ivfPqSearch — the composed FAISS-IndexIVFPQ
    * serving shape): coarse routing × code compression. The coarse
    * quantizer shares the 16 PQ seeds, so coarse distance = Σ over
    * subspaces of the shared distance frame (full-vector exact-BIGINT
    * L2, no second corpus pass); each query probes its 4 nearest lists
    * and runs ADC over only those candidates — at scale the candidate
    * stream is nprobe/nlist of the corpus at 4 bytes each, which is the
    * whole reason this index exists. Residual encoding is a declared
    * policy omission (quality refinement, not serving shape — keeping
    * the arithmetic exactly cross-engine-checkable). Assignment,
    * probing, encoding, and ranking are all integer argmins with
    * ties → smaller id, so the full pipeline hash-matches DuckDB.
    */
  val annIvfPq = QueryDef(
    "llm_ann_ivfpq",
    (s, dir) => Similarity.ivfPqSearch(embeddings(s, dir), 5,
      EmbeddingDim / Similarity.PqSubspaces)
      .orderBy("query_id", "rank"),
    Some(s"""
      WITH ${pqDistCtes},
      coarse AS (
        SELECT vec_id, k, CAST(SUM(dist) AS BIGINT) AS cdist
        FROM d GROUP BY 1, 2),
      assign AS (
        SELECT vec_id, k AS list FROM (
          SELECT vec_id, k, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY cdist, k) AS rn
          FROM coarse)
        WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, k AS list FROM (
          SELECT vec_id, k, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY cdist, k) AS rn
          FROM coarse WHERE vec_id < 10)
        WHERE rn <= 4),
      lut AS (SELECT vec_id AS query_id, m, k, dist AS ld
              FROM d WHERE vec_id < 10),
      adist AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               CAST(SUM(l.ld) AS BIGINT) AS adist
        FROM assign a
        JOIN probes p ON a.list = p.list AND a.vec_id <> p.query_id
        JOIN code c ON c.vec_id = a.vec_id
        JOIN lut l ON l.query_id = p.query_id AND l.m = c.m
                  AND l.k = c.code
        GROUP BY 1, 2),
      ranked AS (
        SELECT query_id, neighbor_id, adist,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adist, neighbor_id) AS INTEGER) AS rank
        FROM adist)
      SELECT * FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** One unrolled BPE training round for the DuckDB oracle: pair counts
    * over the string-encoded symbol histogram, the (freq desc, l, r)
    * argmax, and the non-overlapping left-to-right merge application.
    * The merge fold is the subtle part — string `replace` CANNOT express
    * it (consuming the shared boundary breaks adjacent-chain semantics:
    * [a,a,a,a,a] diverges) — but `list_reduce` over the chr(30)-joined
    * symbol string can, because under that encoding "merge the last
    * symbol l with incoming r" is exactly "append r WITHOUT a
    * separator": acc ends with ␞l and x = r → acc || r.
    */
  private def bpeRoundCte(k: Int): String = s"""
      pc$k AS (
        SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS f FROM (
          SELECT freq, unnest(list_transform(range(1, len(sy)), i ->
              struct_pack(l := sy[i], r := sy[i+1]))) AS p
          FROM (SELECT freq, string_split(s, chr(30)) AS sy FROM h${k - 1}))
        GROUP BY p.l, p.r),
      m$k AS (SELECT l, r, f FROM pc$k WHERE f >= 2
              ORDER BY f DESC, l, r LIMIT 1),
      h$k AS (SELECT word, freq,
               list_reduce(string_split(s, chr(30)), (acc, x) ->
                 CASE WHEN (acc = m.l OR acc LIKE '%' || chr(30) || m.l)
                        AND x = m.r
                      THEN acc || m.r ELSE acc || chr(30) || x END) AS s
             FROM h${k - 1}, m$k m)"""

  /** BPE merge-table TRAINING (llm/BpeTrain.scala) — the learn side of
    * the shipped encode loop: 4 ranked merges from the distinct-word
    * histogram (corpus scanned ONCE; every round runs on the small
    * histogram, argmax ties broken by symbol order so the table is
    * unique). 4 merges (not 16) because each training round is one CTE
    * triple in the UNROLLED DuckDB oracle below (the kmeans/pagerank
    * discipline) — a true cross-engine row replacing the r8 golden pin;
    * the 16-merge depth stays covered by DifferentialOracleSpec's
    * dictionary trainer and the batched trainer's pins. The oracle's
    * merge application rides list_reduce over a chr(30)-joined symbol
    * string (see [[bpeRoundCte]]); symbols are [A-Za-z0-9]+ fragments,
    * so the separator can never collide.
    */
  val bpeTrain = QueryDef(
    "llm_bpe_train",
    (s, dir) => {
      val learned = graft.llm.BpeTrain
        .trainMerges(s, documents(s, dir), nMerges = 4)
      import s.implicits._
      learned.toDF("rank", "left", "right", "pair_freq").orderBy("rank")
    },
    Some(s"""
      WITH
      w0 AS (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+'))
               AS word FROM documents),
      h0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
               array_to_string(list_transform(range(1, length(word) + 1),
                 i -> substr(word, i, 1)), chr(30)) AS s
             FROM w0 GROUP BY word),${(1 to 4).map(bpeRoundCte).mkString(",")}
      SELECT rank, l AS "left", r AS "right", f AS pair_freq FROM (
        SELECT 0 AS rank, * FROM m1 UNION ALL SELECT 1, * FROM m2
        UNION ALL SELECT 2, * FROM m3 UNION ALL SELECT 3, * FROM m4)
      ORDER BY rank"""))

  /** One unrolled BATCHED training round (batchK = 2) for the DuckDB
    * oracle: pair counts as in [[bpeRoundCte]]; candidate a$k is the
    * (f desc, l, r) argmax; candidate b$k is the first candidate within
    * the trainer's top-(want×8 = 16) driver window whose {l, r, l||r}
    * is disjoint from a's (the exact greedy rule in
    * BpeTrain.trainMergesBatched — the window bound is replicated so a
    * disjoint pair past position 16 mismatches NEITHER engine); the
    * application fold extends bpeRoundCte's list_reduce with a second
    * WHEN arm. Disjointness guarantees at most one arm can match at any
    * (acc, x), so arm order is immaterial — the same argument that
    * makes the Spark-side one-pass batch application exact.
    */
  private def bpeBatchRoundCte(k: Int): String = s"""
      pc$k AS (
        SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS f FROM (
          SELECT freq, unnest(list_transform(range(1, len(sy)), i ->
              struct_pack(l := sy[i], r := sy[i+1]))) AS p
          FROM (SELECT freq, string_split(s, chr(30)) AS sy FROM h${k - 1}))
        GROUP BY p.l, p.r),
      cand$k AS (SELECT l, r, f,
                   ROW_NUMBER() OVER (ORDER BY f DESC, l, r) AS rn
                 FROM pc$k WHERE f >= 2),
      a$k AS (SELECT l, r, f FROM cand$k WHERE rn = 1),
      b$k AS (SELECT c.l, c.r, c.f FROM cand$k c, a$k a
              WHERE c.rn > 1 AND c.rn <= 16
                AND c.l NOT IN (a.l, a.r, a.l || a.r)
                AND c.r NOT IN (a.l, a.r, a.l || a.r)
                AND (c.l || c.r) NOT IN (a.l, a.r, a.l || a.r)
              ORDER BY c.rn LIMIT 1),
      h$k AS (SELECT word, freq,
               list_reduce(string_split(s, chr(30)), (acc, x) ->
                 CASE WHEN (acc = m.al OR acc LIKE '%' || chr(30) || m.al)
                        AND x = m.ar
                      THEN acc || m.ar
                      WHEN m.bl IS NOT NULL
                        AND (acc = m.bl OR acc LIKE '%' || chr(30) || m.bl)
                        AND x = m.br
                      THEN acc || m.br
                      ELSE acc || chr(30) || x END) AS s
             FROM h${k - 1}, (SELECT a.l AS al, a.r AS ar, b.l AS bl,
                                     b.r AS br
                              FROM a$k a LEFT JOIN b$k b ON TRUE) m)"""

  /** BATCHED BPE training (llm/BpeTrain.trainMergesBatched) — the
    * production-vocab scale path: one pair-count round learns up to
    * batchK symbol-disjoint merges, cutting the sequential trainer's
    * one-Spark-round-per-merge schedule by ~batchK (32k merges: days →
    * hours of scheduler overhead; measured per-round constants in
    * `ScaleProbe bpetrain`). 4 merges at batchK = 2 — two CTE-unrolled
    * rounds of the symbol-disjoint greedy top-2 rule — so the row is a
    * TRUE cross-engine green (r9 verdict #3, the discipline that
    * flipped llm_bpe_train in r9): the oracle reproduces candidate
    * ranking, the 16-row driver window, the disjointness filter, and
    * the one-pass batch application. Production depth stays covered:
    * DifferentialOracleSpec re-trains 16 merges at batchK = 4 against a
    * from-scratch dictionary implementation of the same batched rule
    * (and pins batchK = 1 ≡ the sequential trainer); `ScaleProbe
    * bpetrain` measures 1,000 real rounds.
    */
  val bpeTrainBatched = QueryDef(
    "llm_bpe_train_batched",
    (s, dir) => {
      val learned = graft.llm.BpeTrain
        .trainMergesBatched(s, documents(s, dir), nMerges = 4, batchK = 2)
      import s.implicits._
      learned.toDF("rank", "left", "right", "pair_freq", "round")
        .orderBy("rank")
    },
    Some(s"""
      WITH
      w0 AS (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+'))
               AS word FROM documents),
      h0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
               array_to_string(list_transform(range(1, length(word) + 1),
                 i -> substr(word, i, 1)), chr(30)) AS s
             FROM w0 GROUP BY word),${(1 to 2).map(bpeBatchRoundCte).mkString(",")}
      SELECT CAST(rank AS INTEGER) AS rank, l AS "left", r AS "right",
             f AS pair_freq, CAST(round AS INTEGER) AS round FROM (
        SELECT 0 AS rank, l, r, f, 0 AS round FROM a1
        UNION ALL SELECT 1, l, r, f, 0 FROM b1
        UNION ALL SELECT 2, l, r, f, 1 FROM a2
        UNION ALL SELECT 3, l, r, f, 1 FROM b2)
      ORDER BY rank"""))

  /** Lloyd's k-means (llm/KMeans.scala): k=8, two assignment rounds, one
    * exact-decimal centroid update between them — fully DuckDB-oracled
    * (the oracle unrolls both rounds; centroid labels are positions of
    * the first-k-by-vec_id init). Assignment is map-only against inlined
    * centroid literals; the update is a (cluster, pos)-keyed partial
    * aggregation — Lloyd's at 100 TB is exactly this pair of shapes.
    */
  val kmeans = QueryDef(
    "llm_kmeans",
    (s, dir) => graft.llm.KMeans.fit(embeddings(s, dir), k = 8, iters = 2)
      .orderBy("vec_id"),
    Some(s"""
      WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
      c0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                 AS cid, x AS c
        FROM (SELECT vec_id, x FROM v ORDER BY vec_id LIMIT 8)),
      a1 AS (
        SELECT vec_id, x, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
                 list_dot_product(x, x) - 2 * list_dot_product(x, c)
                   + list_dot_product(c, c), cid) AS rn
        FROM v CROSS JOIN c0),
      m1 AS (SELECT vec_id, x, cid FROM a1 WHERE rn = 1),
      e1 AS (
        SELECT cid, i, CAST(x[i] AS DECIMAL(27,12)) AS val
        FROM m1, generate_series(1, $EmbeddingDim) t(i)),
      u1 AS (
        SELECT cid, i, CAST(SUM(val) AS DOUBLE) / COUNT(*) AS mu
        FROM e1 GROUP BY cid, i),
      c1 AS (
        SELECT cid, list(mu ORDER BY i) AS c FROM u1 GROUP BY cid),
      a2 AS (
        SELECT vec_id, c1.cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
                 list_dot_product(x, x) - 2 * list_dot_product(x, c)
                   + list_dot_product(c, c), c1.cid) AS rn
        FROM v CROSS JOIN c1)
      SELECT vec_id, cid AS cluster FROM a2 WHERE rn = 1
      ORDER BY vec_id"""))

  /** Inverted-index build — the retrieval-side artifact a RAG corpus
    * pipeline materializes: term → document frequency + first-k posting
    * list. The posting cap rides TopKAggregate (partial aggregation
    * keeps ≤ k doc ids per term per MAP partition), not
    * collect_list+slice: a stop-word term at 100 TB would otherwise
    * gather ~every doc id into one group's array before truncating, and
    * a per-term row_number window would one-task-sort the hottest term's
    * partition. doc_id < 2^53 so the negated-id double score is exact;
    * "top k by -id" = "k smallest doc ids", matching the oracle's
    * list_sort+slice.
    */
  val invertedIndex = QueryDef(
    "llm_inverted_index",
    (s, dir) => {
      val terms = documents(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(split(trim(col("text")), "\\s+")))
            .as("term"))
        .filter(length(col("term")) > 0)
      terms.groupBy("term")
        .agg(count(lit(1)).as("df"),
          graft.functions.TopKAggregate.top_k(
            lit(0d) - col("doc_id").cast(DoubleType),
            col("doc_id").cast(StringType), 10).as("__tk"))
        .withColumn("posting",
          concat_ws(",", expr("transform(__tk, x -> x.tag)")))
        .select("term", "df", "posting")
        .orderBy(col("df").desc, col("term"))
        .limit(1000)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0b]+') AS t
        FROM documents),
      terms AS (
        SELECT doc_id, unnest(list_distinct(t)) AS term FROM toks),
      f AS (
        SELECT term, COUNT(*) AS df,
               array_to_string(list_transform(
                 list_slice(list_sort(list(doc_id)), 1, 10),
                 x -> CAST(x AS VARCHAR)), ',') AS posting
        FROM terms WHERE length(term) > 0 GROUP BY term)
      SELECT term, df, posting FROM f ORDER BY df DESC, term LIMIT 1000"""))

  /** Fixed-point TF-IDF ranking for a constant probe-term set — the
    * lexical half of retrieval scoring. All arithmetic is BIGINT: the
    * scaled idf is `(N * 10^6) div df` (truncating integral division —
    * identical in Spark `div` and DuckDB `//`), the score is
    * Σ tf·idf_scaled summed as exact integers, so the ranking carries
    * no float-summation order dependence — the reason this is oracle-
    * hashable where a log-idf double sum would not be (per-group double
    * addition order differs between engines). BM25's k1/b saturation is
    * the same plumbing with one more scaled-integer div.
    */
  val tfidfTopk = QueryDef(
    "llm_tfidf_topk",
    (s, dir) => {
      val probes = Seq("spark", "window", "merge")
      val tf = documents(s, dir)
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("term"))
        .filter(col("term").isin(probes: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        // feeds the df aggregate AND the score join — stage once
        .localCheckpoint(false)
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
      val n = documents(s, dir).agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("contrib",
          col("tf") * expr("(n_docs * 1000000) div dfreq"))
        .groupBy("doc_id")
        .agg(sum(col("contrib")).as("score_scaled"),
          count(lit(1)).as("n_terms_hit"))
        .orderBy(col("score_scaled").desc, col("doc_id"))
        .limit(20)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '[\s\x0b]+')) AS term
        FROM documents),
      tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks
        WHERE term IN ('spark', 'window', 'merge') GROUP BY 1, 2),
      dfr AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_docs FROM documents)
      SELECT doc_id,
             CAST(SUM(tf * ((n.n_docs * 1000000) // dfreq)) AS BIGINT)
               AS score_scaled,
             COUNT(*) AS n_terms_hit
      FROM tf JOIN dfr USING (term), n
      GROUP BY doc_id ORDER BY score_scaled DESC, doc_id LIMIT 20"""))

  /** BM25 ranking for the probe-term set — TF-IDF's production successor
    * with length normalization and tf saturation, kept EXACT-integer so it
    * oracle-hashes. With k1 = 1.2 = 6/5 and b = 0.75 = 3/4, the saturation
    * denominator tf + k1·(1−b + b·dl/avgdl), avgdl = T/N (T = corpus token
    * count, N = docs), multiplied through by 20·T·N/N = 20·T clears every
    * fraction: denom_scaled = 20·T·tf + 6·T + 18·N·dl — all BIGINT. The
    * per-term factors are then two truncating integral divisions (`div` ≡
    * DuckDB `//`): idf_scaled = (N·10⁴) div df and
    * sat_scaled = (tf·(k1+1)·20·T·10⁵) div denom = (44·T·tf·10⁵) div denom,
    * and the score is Σ idf_scaled·sat_scaled summed as exact BIGINTs.
    * Bounds: sat ≤ 2.2·10⁵, idf ≤ N·10⁴, contrib ≤ ~10¹³ at sf0.1 — no
    * overflow headroom issues. dl counts nonempty whitespace tokens, same
    * filter both engines. Scale shape: one map-side tokenize feeding tf,
    * two 1-row global aggregates broadcast (N, T), a term-keyed df join of
    * probe cardinality, and a doc-keyed dl join — no window, no all-pairs.
    */
  val bm25Topk = QueryDef(
    "llm_bm25_topk",
    (s, dir) => {
      val probes = Seq("spark", "window", "merge")
      val docs = documents(s, dir)
      val dl = docs.select(col("doc_id"),
        size(filter(split(trim(col("text")), "\\s+"),
          x => length(x) > lit(0))).cast(LongType).as("dl"))
        // feeds the corpus-total aggregate AND the per-doc score join
        .localCheckpoint(false)
      val totals = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("t_len"))
      val tf = docs
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("term"))
        .filter(col("term").isin(probes: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint(false)
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
      tf.join(dfreq, Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(totals))
        .withColumn("contrib",
          expr("((n_docs * 10000L) div dfreq) * " +
            "((tf * 44L * t_len * 100000L) div " +
            "(20L * t_len * tf + 6L * t_len + 18L * n_docs * dl))"))
        .groupBy("doc_id")
        .agg(sum(col("contrib")).as("score_scaled"),
          count(lit(1)).as("n_terms_hit"))
        .orderBy(col("score_scaled").desc, col("doc_id"))
        .limit(20)
    },
    Some("""
      WITH dl AS (
        SELECT doc_id,
               CAST(len(list_filter(
                 regexp_split_to_array(trim(text), '[\s\x0b]+'),
                 x -> length(x) > 0)) AS BIGINT) AS dl
        FROM documents),
      tot AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS t_len FROM dl),
      toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '[\s\x0b]+')) AS term
        FROM documents),
      tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks
        WHERE term IN ('spark', 'window', 'merge') GROUP BY 1, 2),
      dfr AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1)
      SELECT tf.doc_id,
             CAST(SUM(((tot.n_docs * 10000) // dfreq)
                * ((tf.tf * 44 * tot.t_len * 100000)
                   // (20 * tot.t_len * tf.tf + 6 * tot.t_len
                       + 18 * tot.n_docs * dl.dl))) AS BIGINT)
               AS score_scaled,
             COUNT(*) AS n_terms_hit
      FROM tf JOIN dfr USING (term) JOIN dl ON tf.doc_id = dl.doc_id, tot
      GROUP BY tf.doc_id ORDER BY score_scaled DESC, tf.doc_id LIMIT 20"""))

  /** Hybrid retrieval — Reciprocal-Rank Fusion of the lexical (BM25) and
    * semantic (dense-cosine) rankers: score(d) = Σ_r 1/(60 + rank_r(d))
    * over the two top-20 lists, the standard fusion a RAG stack runs when
    * it has both an inverted index and an ANN index. Engineering shape:
    * the two rank lists are LIMIT-bounded (≤ 20 rows) before any
    * unpartitioned work, so the only global windows run over
    * provably-tiny frames; fusion is a UNION + groupBy — no full-outer
    * join, no all-pairs, and the contribution sum has ≤ 2 addends per doc
    * (IEEE addition is commutative, so aggregation order cannot matter
    * cross-engine). 1/(60+r) on INTEGER ranks divides exactly-rounded
    * identically in both engines; the BM25 sub-ranking is the established
    * exact-integer pipeline; the cosine sub-ranking is the established
    * bit-deterministic dot-product fold. r_lex/r_sem are NULL where a doc
    * appears in only one list — the fusion's whole point.
    */
  val hybridRetrieval = QueryDef(
    "llm_hybrid_retrieval",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lex0 = bm25Topk.run(s, dir).select(col("doc_id"), col("score_scaled"))
      val wLex = Window.orderBy(col("score_scaled").desc, col("doc_id"))
      val lex = lex0.withColumn("r", row_number().over(wLex))
        .select(col("doc_id"), col("r"), lit("lex").as("src"))
      val emb = embeddings(s, dir)
      val sem = Similarity.bruteForceTopK(emb.filter(col("vec_id") === 0), emb, 20)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("r"),
          lit("sem").as("src"))
      lex.unionByName(sem)
        .withColumn("c", lit(1.0) / (lit(60) + col("r")))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("rrf_score"),
          max(when(col("src") === "lex", col("r"))).as("r_lex"),
          max(when(col("src") === "sem", col("r"))).as("r_sem"))
        .orderBy(col("rrf_score").desc, col("doc_id"))
        .limit(10)
    },
    Some("""
      WITH dl AS (
        SELECT doc_id,
               CAST(len(list_filter(
                 regexp_split_to_array(trim(text), '[\s\x0b]+'),
                 x -> length(x) > 0)) AS BIGINT) AS dl
        FROM documents),
      tot AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS t_len FROM dl),
      toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '[\s\x0b]+')) AS term
        FROM documents),
      tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks
        WHERE term IN ('spark', 'window', 'merge') GROUP BY 1, 2),
      dfr AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
      bm AS (
        SELECT tf.doc_id,
               CAST(SUM(((tot.n_docs * 10000) // dfreq)
                  * ((tf.tf * 44 * tot.t_len * 100000)
                     // (20 * tot.t_len * tf.tf + 6 * tot.t_len
                         + 18 * tot.n_docs * dl.dl))) AS BIGINT)
                 AS score_scaled
        FROM tf JOIN dfr USING (term) JOIN dl ON tf.doc_id = dl.doc_id, tot
        GROUP BY tf.doc_id ORDER BY score_scaled DESC, tf.doc_id LIMIT 20),
      lex AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id)
                 AS INTEGER) AS r,
               'lex' AS src
        FROM bm),
      q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings
        WHERE vec_id = 0
          AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
      scored AS (
        SELECT c.vec_id AS doc_id,
               list_dot_product(q.qv, c.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(c.embedding::DOUBLE[],
                                            c.embedding::DOUBLE[]))) AS cosine
        FROM embeddings c, q
        WHERE c.vec_id <> 0
          AND list_dot_product(c.embedding::DOUBLE[],
                               c.embedding::DOUBLE[]) > 0),
      sem AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id)
                 AS INTEGER) AS r,
               'sem' AS src
        FROM scored ORDER BY cosine DESC, doc_id LIMIT 20),
      u AS (
        SELECT doc_id, r, src FROM lex
        UNION ALL SELECT doc_id, r, src FROM sem)
      SELECT doc_id,
             SUM(CAST(1.0 AS DOUBLE) / (60 + r)) AS rrf_score,
             MAX(CASE WHEN src = 'lex' THEN r END) AS r_lex,
             MAX(CASE WHEN src = 'sem' THEN r END) AS r_sem
      FROM u GROUP BY doc_id
      ORDER BY rrf_score DESC, doc_id LIMIT 10"""))

  /** One unrolled PCA power-iteration round for the DuckDB oracle:
    * d = q·v per row, y_j = Σ q_j·d per dimension, then the sign-split
    * rescale to max|v| = 1024 (non-negative operands so DuckDB's floor
    * `//` agrees with Spark's truncating `div`). `vk` refers to the
    * previous round's v CTE (or the literal 1 for v0 = all-ones).
    */
  private def pcaRoundCte(k: Int): String = {
    val vRef = if (k == 1) "1" else s"v${k - 1}.v"
    val join = if (k == 1) "" else s" JOIN v${k - 1} USING (pos)"
    s"""
      d$k AS (
        SELECT vec_id, CAST(SUM(qp.q * $vRef) AS BIGINT) AS d
        FROM qp$join GROUP BY vec_id),
      y$k AS (
        SELECT pos, CAST(SUM(qp.q * d$k.d) AS BIGINT) AS y
        FROM qp JOIN d$k USING (vec_id) GROUP BY pos),
      m$k AS (SELECT MAX(abs(y)) AS m FROM y$k),
      v$k AS (
        SELECT pos,
               CASE WHEN m = 0 THEN 0
                    ELSE (CASE WHEN y < 0 THEN -1 ELSE 1 END)
                         * ((abs(y) * 1024) // m)
               END AS v
        FROM y$k, m$k)"""
  }

  /** PCA power iteration over the int8-quantized embedding corpus
    * ([[Similarity.pcaPowerIteration]]): 3 unrolled rounds of
    * y = Σ q·(q·v), exact BIGINT throughout (the kmeans/pagerank
    * discipline), sign-split truncating rescale to max|v| = 1024 so
    * Spark `div` ≡ DuckDB `//` on non-negative operands. Output: one row
    * per dimension with the final raw accumulator y and rescaled
    * direction v — 64 rows whose every value a single misquantized
    * element anywhere in the corpus would shift. Scale shape: two
    * |rows·dim|-keyed shuffles per round (k-means cost class), a
    * broadcast ≤ dim-row v frame, a broadcast 1-row max — the covariance
    * matrix is never materialized.
    */
  val embedPca = QueryDef(
    "llm_embed_pca",
    (s, dir) => Similarity.pcaPowerIteration(
      embeddings(s, dir), EmbeddingDim, iters = 3),
    Some(s"""
      WITH src AS (
        SELECT vec_id,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
                 AS scale,
               embedding::DOUBLE[] AS v
        FROM embeddings),
      qz AS (
        SELECT vec_id,
               CASE WHEN scale = 0
                    THEN list_transform(v, x -> CAST(0 AS DOUBLE))
                    ELSE list_transform(v,
                      x -> floor(x * 127.0 / scale + 0.5))
               END AS qv
        FROM src),
      qp AS (
        SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos, qv[i] AS q
        FROM (SELECT vec_id, qv, unnest(range(1, len(qv) + 1)) AS i
              FROM qz)),
      ${pcaRoundCte(1)},
      ${pcaRoundCte(2)},
      ${pcaRoundCte(3)}
      SELECT v3.pos AS dim, y3.y AS y, CAST(v3.v AS BIGINT) AS v
      FROM v3 JOIN y3 USING (pos) ORDER BY dim"""))

  /** Sparse TF-IDF doc-doc cosine top-20 — the LEXICAL near-dup/similarity
    * rung beside the dense-embedding one (llm_embed_neardup): documents as
    * sparse integer TF-IDF vectors, pairwise cosine via a term-keyed
    * posting self-join. Candidate generation is NEVER all-pairs: terms
    * with df > 50 are dropped via the broadcast-blacklist discipline
    * (cappedGrams' rationale — a stop word's df² explosion carries no
    * signal), so candidate volume is ≤ cap · |postings|, linear in the
    * corpus at fixed cap. Exactness: weights are scaled integers
    * w = tf · ((N·1000) div df) (both engines, same truncation);
    * dot products and norms² are exact WIDE-integer sums — Spark
    * DECIMAL(38,0), DuckDB HUGEINT — because w² can exceed int64 (w ≤
    * ~5·10⁹ when a rare term meets a long doc); the final cast of the
    * same exact integer to DOUBLE is correctly rounded identically, so
    * cosine hash-matches. ORDER BY cosine is tie-broken by the id pair.
    */
  val docCosineSparse = QueryDef(
    "llm_doc_cosine_sparse",
    (s, dir) => {
      val maxDf = 50
      val docs = documents(s, dir)
      val tf = docs
        .select(col("doc_id"),
          explode_outer(TextAnalysis.tokenArray(col("text"))).as("term"))
        .filter(col("term").isNotNull)
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        // feeds dfreq, the blacklist, and the weight frame — one tokenize
        .localCheckpoint(true)
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
      val hot = dfreq.filter(col("dfreq") > maxDf).select("term")
      val n = docs.agg(count(lit(1)).as("n_docs"))
      // hot is <= |postings|/maxDf — corpus-scaling, so no forced hint
      val w = tf.join(hot, Seq("term"), "left_anti")
        .join(dfreq, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("w", col("tf") * expr("(n_docs * 1000) div dfreq"))
        .select("doc_id", "term", "w")
        // feeds the norm aggregate AND both posting sides
        .localCheckpoint(false)
      val wide = DecimalType(38, 0)
      val norms = w.groupBy("doc_id")
        .agg(sum(col("w").cast(wide) * col("w")).as("n2"))
      val a = w.select(col("term"), col("doc_id").as("doc_a"),
        col("w").as("wa"))
      val b = w.select(col("term"), col("doc_id").as("doc_b"),
        col("w").as("wb"))
      a.join(b, Seq("term"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(sum(col("wa").cast(wide) * col("wb")).as("dot"),
          count(lit(1)).as("n_shared"))
        .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("na")),
          Seq("doc_a"))
        .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("nb")),
          Seq("doc_b"))
        .withColumn("cosine", col("dot").cast(DoubleType) /
          (sqrt(col("na").cast(DoubleType)) * sqrt(col("nb").cast(DoubleType))))
        .select(col("doc_a"), col("doc_b"), col("n_shared"), col("cosine"))
        .orderBy(col("cosine").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(
          CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE regexp_split_to_array(trim(text), '[\s\x0b]+') END) AS term
        FROM documents),
      tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      dfr AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      w AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * ((n.n_docs * 1000) // dfr.dfreq) AS w
        FROM tf JOIN dfr USING (term), n
        WHERE dfr.dfreq <= 50),
      norms AS (
        SELECT doc_id, SUM(CAST(w AS HUGEINT) * w) AS n2 FROM w GROUP BY 1),
      dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               SUM(CAST(a.w AS HUGEINT) * b.w) AS dot,
               COUNT(*) AS n_shared
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_shared,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
               AS cosine
      FROM dots
      JOIN norms na ON dots.doc_a = na.doc_id
      JOIN norms nb ON dots.doc_b = nb.doc_id
      ORDER BY cosine DESC, doc_a, doc_b LIMIT 20"""))

  val all: Seq[QueryDef] = Seq(
    invertedIndex, tfidfTopk, bm25Topk, hybridRetrieval, embedPca,
    docCosineSparse,
    bpeTrain, bpeTrainBatched, kmeans, dedupExact, dedupMinhash,
    dedupSimhash, ngramProfile,
    textTokens, textTokensBpeReal, textBpeSequence, textQuality, textLangId, textProfile,
    textFingerprint, winnowFingerprint, textRollhash,
    multimodalBinary, multimodalDims, multimodalAudio, multimodalVideo,
    multimodalAudioMp3, multimodalVideoWebm,
    urlNormalize, crawlDedup, crawlRobots, crawlDedupStream, textNfc,
    textUnigram, sourceGzip, sourceWarc, crawlPipeline, crawlText,
    crawlQuality, crawlBr, crawlHttp, crawlCharset, crawlCharsetSniff,
    sourcePdf,
    sourceBr, crawlMembers,
    sourceTar,
    sourceTarGz, sourceTarZst, sourceTarXz, sourceZip, sourceZlib,
    sourceLz4, sourceZst,
    sourceZstDict, sourceBz2, sourceXz,
    sourceZstBlocks, sourceJsonlZst,
    multimodalPixelsGif, multimodalGifAnim, multimodalPixelsWebp,
    multimodalPixelsJpeg, mediaCatalog,
    multimodalPixels, multimodalPixelsPng, wordpieceVocab, wordpieceTokens,
    annBruteForce, annFiltered, annQuantized, annLsh, annIvf, annIvfCells,
    annIvfCellsStream, annRecall,
    annRecallIvf, annRecallIvfStream,
    embedPq, annPq, annIvfPq, embedNearDup, embedClusters, semanticDedup,
    textNormalize, filterReport, repetitionReport, piiReport, gramStats,
    keyTerms, sampleStratified, sampleTemperature, sampleBudget,
    sampleBudgetBpe, sampleWeighted, sampleMixture, embedNormalize,
    embedQuantize, dedupClusters,
    dedupSurvivors, dedupSurvivorsBest, dedupIncremental, chunkPlan,
    chunkOverlapPlan,
    packPlan, contamination, decontaminated, curatedTrain)
}
