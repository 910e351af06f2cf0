package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines, all built so the
  * candidate-generation join is KEY-EQUI (hash/band bucket), never an
  * all-pairs cartesian — the property that keeps them viable at 100 TB:
  *
  *  - exact: hash-groupBy on content (one shuffle on the content hash);
  *  - MinHash + LSH: shingle → k-min signature → banded bucket join;
  *  - SimHash: 64-bit signature → 16-bit chunk bucket join (Hamming LSH);
  *  - n-gram Jaccard: exact verification on LSH candidates only.
  *
  * Skew control: any bucket larger than `maxBucket` is dropped from
  * candidate generation (a degenerate bucket means the key carries no
  * discriminating power — standard LSH practice) so a hot key can never
  * produce a quadratic blow-up.
  */
object Dedup {
  val NumHashes = 64 // MinHash signature length
  val Bands = 32     // 32 bands x 2 rows: sensitive at low Jaccard
  val RowsPerBand: Int = NumHashes / Bands
  val MaxBucket = 100

  private val Prime = 2147483647L // 2^31 - 1

  /** Word n-gram shingles as a distinct array, from a pre-projected token
    * column (same per-element re-evaluation caveat as
    * shingleHashSetFromTokens). Documents shorter than n tokens yield
    * their whole token sequence as the single shingle (try_element_at
    * keeps out-of-range slots null; concat_ws drops them).
    */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column =
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ",
          (0 until n).map(k => try_element_at(toks, i + k + 1)): _*)))

  /** Convenience single-expression form — small/test inputs only. */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(split(trim(text), "\\s+"), n)

  /** Duplicate-passage profile (the word-gram form of exact-substring
    * dedup, Lee et al. 2022): distinct `width`-word spans per doc, a span
    * counts as duplicated when >= 2 docs carry it. Same 100 TB shape as
    * the LSH band join — span-keyed partial-agg count, then a span-keyed
    * equi join back; nothing all-pairs. passageDupProfileHashed is the
    * production-key form (8-byte rolling-hash span key); both are oracled
    * (graft.queries.CurationQueries.spanDedup / spanDedupHashed).
    */
  def passageDupProfile(docs: DataFrame, width: Int = 5): DataFrame =
    passageDupImpl(docs, width, identity)

  /** Production-key variant: the span travels as its 8-byte rolling hash
    * (graft.functions.RollingHash, codegen'd) instead of the span string —
    * the groupBy and join-back shuffle 8 bytes per span where the string
    * key shuffles ~width words (ScaleProbe `spanhash` measures the ratio).
    * The OUTPUT is hash-independent (per-doc span counts), so the same
    * DuckDB string-keyed oracle checks this plan exactly; a 64-bit
    * collision would fail the gate loudly (and is ~2^-64 per pair).
    */
  def passageDupProfileHashed(docs: DataFrame, width: Int = 5): DataFrame =
    passageDupImpl(docs, width,
      graft.functions.RollingHash.rolling_hash)

  private def passageDupImpl(docs: DataFrame, width: Int,
      key: Column => Column): DataFrame = {
    // localCheckpoint: the span frame feeds BOTH the df aggregate and the
    // join back — without staging, the tokenize+explode of the whole
    // corpus executes twice (the bigramLm histogram discipline; review
    // finding r6).
    val spans = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("__toks"))
      .filter(size(col("__toks")) >= width)
      .select(col("doc_id"),
        explode(shinglesFromTokens(col("__toks"), width)).as("__span"))
      .select(col("doc_id"), key(col("__span")).as("span"))
      .localCheckpoint(eager = false)
    val spanDf = spans.groupBy("span").agg(count(lit(1)).as("df"))
    val per = spans.join(spanDf, Seq("span"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1).otherwise(0)).as("n_dup"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).cast(IntegerType).as("n_spans"),
        coalesce(col("n_dup"), lit(0L)).cast(IntegerType).as("n_dup_spans"),
        when(coalesce(col("n_spans"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_dup").cast(DoubleType) /
            col("n_spans").cast(DoubleType)).as("dup_span_ratio"))
  }

  /** Exact duplicate groups: hash-groupBy on the content digest, not the
    * content — grouping by `text` itself would shuffle the whole corpus'
    * bytes; grouping by (md5, length) shuffles 48 bytes per row and is
    * exact for any real corpus (a 128-bit collision at equal length is
    * ~2^-64 at petabyte scale). Survivor = min doc id, deterministic under
    * any partitioning.
    */
  def exactDuplicates(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        md5(col("text").cast(BinaryType)).as("fp_md5"),
        length(col("text")).as("len"))
      .groupBy(col("fp_md5"), col("len"))
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"), col("fp_md5"))

  /** Shingle murmur hashes, mod p — stage this as its OWN projection. */
  def shingleHashes(sh: Column): Column =
    transform(sh, s => pmod(hash(s).cast(LongType), lit(Prime)))

  /** Distinct hashed word-n-gram shingles from a PRE-PROJECTED token-array
    * column: multi-argument murmur over the n token slots — no shingle
    * strings, and array_distinct compares longs.
    *
    * `toks` must be a plain column reference: expressions captured inside
    * a transform lambda re-evaluate PER ELEMENT, so an inlined
    * split(trim(text)) here would tokenize the document ~3× per shingle
    * slot (measured: the whole signature stage tripled when the split was
    * inlined). Stage tokens → shingle hashes → signature as separate
    * projections; CollapseProject keeps non-cheap multi-referenced
    * expressions apart.
    */
  def shingleHashSetFromTokens(toks: Column, n: Int = 3): Column =
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => pmod(hash((0 until n).map(k =>
          try_element_at(toks, i + k + 1)): _*).cast(LongType), lit(Prime))))

  /** Convenience single-expression form — small/test inputs only (inlines
    * tokenization into the per-element lambda; see above).
    */
  def shingleHashSet(text: Column, n: Int = 3): Column =
    shingleHashSetFromTokens(split(trim(text), "\\s+"), n)

  /** MinHash signature over a pre-projected hash array: for permutation i,
    * sig[i] = min over hashes h of ((a_i * h + b_i) mod p).
    *
    * `hs` MUST be a plain column reference to an already-projected hash
    * array: this expression references its input 64 times, and Catalyst
    * inlines (rather than shares) a non-trivial argument expression into
    * every reference — passing `shingleHashes(shingles(text))` directly
    * recomputes the shingling + hashing 64× per row (measured: ~400×
    * slow-down at sf0.1; CollapseProject keeps staged projections apart
    * precisely because duplicating non-cheap expressions is a known trap).
    */
  def minhashSignatureFromHashes(hs: Column): Column = {
    val perms = (0 until NumHashes).map { i =>
      val a = 2L * i + 1 // odd multipliers
      val b = 40503L * (i + 1) % Prime
      array_min(transform(hs, h => pmod(h * a + b, lit(Prime))))
    }
    array(perms: _*)
  }

  /** Per-doc signatures: hashed shingles staged as their own projection,
    * then the codegen'd one-pass signature expression
    * (graft.functions.MinHashSignature — same math as
    * minhashSignatureFromHashes, two orders of magnitude less overhead;
    * equivalence is pinned in MinHashSignatureSpec).
    */
  def docSignatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("__toks"))
      .select(col("doc_id"), shingleHashSetFromTokens(col("__toks")).as("__hs"))
      .select(col("doc_id"),
        graft.functions.MinHashSignature
          .minhash_signature(col("__hs"), NumHashes).as("sig"))
  // note: no isNotNull filter on sig — a pushed-down filter would inline
  // (and thus re-evaluate) the whole signature expression below the staged
  // projections; downstream explode_outer(bandKeys(sig)) turns a null
  // signature into a null band key, which can never match the band join

  /** Banded LSH keys from a signature: one (band, rows) key per band.
    * r17: STRUCT keys, not 'band:hash' strings — the key is only ever
    * grouped/joined on, and struct equality is exactly band-row equality
    * (injective; the old form additionally paid a murmur hash and a
    * string build per band per row — the band-key construction was
    * 3 × ~20 s-exec stages per llm_dedup_minhash lap at sf1, re-run once
    * per consumer of the banded frame). Also shuffles ~20 bytes/key vs a
    * ~35-char string. Candidate sets are bit-identical (same grouping,
    * one fewer hash between signature and bucket).
    */
  def bandKeys(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)), b =>
      struct(b.as("bi"),
        slice(sig, b * RowsPerBand + 1, lit(RowsPerBand)).as("bv")))

  /** Candidate near-duplicate pairs via the banded bucket join, with
    * signature-agreement estimate of Jaccard. The only join is equi on the
    * band key; oversized buckets are dropped (skew control).
    *
    * Scale discipline: the band join and the bucket-size window move ONLY
    * (band, doc_id) rows — signatures (64 longs each) are re-attached to
    * the DEDUPED pairs afterwards. Carrying signatures through the join
    * multiplies the Σ bucket² intermediate by ~1 KB/row and turns a
    * duplicate-heavy corpus into a shuffle explosion (measured: 10×
    * replicated docs hung the naive version; see graft.ScaleProbe).
    */
  def minhashCandidates(docs: DataFrame): DataFrame =
    minhashCandidatesFromSigs(docSignatures(docs))

  /** Candidate generation from a PRE-COMPUTED signature frame — callers
    * that also need the signatures for their own output (the per-doc
    * profile queries) pass a materialized frame here so the signature
    * stage runs once, not once per consumer.
    */
  def minhashCandidatesFromSigs(sigs: DataFrame): DataFrame =
    candidatesFromBandKeys(sigs, bandKeys(col("sig")))

  /** Shared band-bucket candidate join — murmur and portable band keys
    * differ only in the key expression.
    */
  private def candidatesFromBandKeys(sigs: DataFrame, keys: Column)
      : DataFrame = {
    // explode_outer: see jaccardPairsExact — plain explode triggers an
    // inferred size-filter that re-inlines the signature expression.
    // r17 note: `banded` feeds THREE consumers (the hot-band count and
    // both legs of the bucket self-join), each re-running the key
    // construction + explode. Checkpointing it was A/B'd and REVERTED
    // both ways: LAZY races its own materialization (the consumers are
    // independent AQE stage jobs submitted concurrently — each racing
    // job computed the full explode; measured WORSE than no staging),
    // EAGER won only at sf1 local[4] (11.2 → 7.7 s) while costing the
    // sf0.1 gate a blocking job (1.7 → 2.1 s). The struct band keys
    // above fix the root cause instead — the re-executed expression is
    // now cheap (no string builds) and the triple execution rides the
    // signature checkpoint's blocks.
    val banded = sigs
      .select(col("doc_id"), explode_outer(keys).as("band"))
    // Skew-safe cap: the old count().over(Window.partitionBy(band)) shipped
    // EVERY row of a hot band to one task before the filter could drop it —
    // the guard itself was the hotspot. groupBy.count partial-aggregates
    // map-side (a hot key costs one long per input partition), the over-cap
    // key set is <= |rows|/MaxBucket — corpus-scaling, so the anti join
    // carries NO forced hint: AQE broadcasts the blacklist while it fits
    // and falls back to a shuffled anti join on the band key beyond.
    val hotBands = banded.groupBy(col("band")).count()
      .filter(col("count") > MaxBucket).select(col("band"))
    val smallBuckets = banded
      .join(hotBands, Seq("band"), "left_anti")
      .select(col("doc_id"), col("band"))
    val pairs = smallBuckets.select(col("band"), col("doc_id").as("doc_a"))
      .join(smallBuckets.select(col("band"), col("doc_id").as("doc_b")),
        Seq("band"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        Seq("doc_b"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          (x === y).cast(IntegerType)), v => v === 1)).cast(DoubleType)
          / NumHashes.toDouble)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
  }

  // ---------- Portable (cross-engine) signature variants ----------
  //
  // Same LSH algebra as the murmur/xxhash pipeline above, but every hash
  // is the KmvDistinct md5 fold (first 12 md5 hex digits base-16 —
  // uniform over [0, 2^48)) and band keys carry the RAW signature rows —
  // so a second engine (the DuckDB oracle) replays signatures, bands,
  // candidate sets, and per-doc profiles END-TO-END, value for value.
  // The in-engine hashes stay the default for pure-Spark deployments
  // (murmur/xxhash are cheaper per element); the portable fold is the
  // interop form, and the one the correctness gate can hash-match.

  /** Prime just above the portable-hash domain: 2^48 + 21. Permutation
    * arithmetic stays below 2^55 (multiplier ≤ 127, hash < 2^48) —
    * overflow-free in any engine's 64-bit integer.
    */
  val PortablePrime = 281474976710677L

  /** Element-wise portable hash of a string array (shingles or tokens):
    * the [[graft.operators.KmvDistinct.portableHash]] fold inside a
    * transform — md5 is a codegen'd builtin, so this fuses into the scan
    * like the murmur form.
    */
  def portableHashes(strs: Column): Column =
    transform(strs, s => graft.operators.KmvDistinct.portableHash(s))

  /** Per-doc portable MinHash signatures: same staging discipline as
    * [[docSignatures]] (tokens → shingle strings → hashes → one-pass
    * codegen signature), with the portable fold and [[PortablePrime]].
    */
  def portableDocSignatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("__toks"))
      .select(col("doc_id"), shinglesFromTokens(col("__toks")).as("__sh"))
      .select(col("doc_id"), portableHashes(col("__sh")).as("__hs"))
      .select(col("doc_id"),
        graft.functions.MinHashSignature
          .minhash_signature(col("__hs"), NumHashes, PortablePrime).as("sig"))

  /** Portable banded LSH keys: band index plus the band's RAW signature
    * rows — no hash at all, so the band GROUPING is replayable in any
    * engine value-for-value. r17: STRUCT keys, not textual join — struct
    * equality is exactly (band, rows) equality, so the candidate sets
    * are bit-identical to the old 'b:v_v' strings (both injective), and
    * the per-row key construction drops the 20 string builds per
    * signature that dominated the banded stage's exec (see [[bandKeys]];
    * sf1 numbers there). The oracle replays the same grouping from the
    * raw rows; it never sees the key representation.
    */
  def portableBandKeys(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)), b =>
      struct(b.as("bi"),
        slice(sig, b * RowsPerBand + 1, lit(RowsPerBand)).as("bv")))

  /** Candidate pairs from portable signatures — identical bucket-join /
    * hot-band-blacklist shape as [[minhashCandidatesFromSigs]], portable
    * band keys.
    */
  def portableMinhashCandidatesFromSigs(sigs: DataFrame): DataFrame =
    candidatesFromBandKeys(sigs, portableBandKeys(col("sig")))

  /** Per-doc portable 48-bit SimHashes: tokens hashed with the portable
    * fold, then the SAME one-pass bit-majority expression
    * ([[graft.functions.SimHash64]]) — fold outputs live in [0, 2^48),
    * so bits 48..63 vote unanimously 0 and the signature is effectively
    * 48-bit, every bit of it replayable from md5 arithmetic.
    *
    * Empty-after-trim docs keep Spark's split(trim('')) = [""] single
    * empty token (one vote of fold("")'s bits) — the oracle replays that
    * branch explicitly, the tokenCount guard discipline.
    */
  def portableDocSimhashes(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        portableHashes(split(trim(col("text")), "\\s+")).as("__hs"))
      .select(col("doc_id"),
        graft.functions.SimHash64.simhash64(col("__hs")).as("simhash"))

  /** Hamming-LSH candidates over portable 48-bit SimHashes: 4 chunks of
    * 12 bits (the 48-bit analogue of the 4×16 split — still catches
    * every pair within Hamming distance 3 by pigeonhole).
    */
  def portableSimhashCandidatesFromSigs(sigs: DataFrame): DataFrame =
    simhashCandidatesFromChunks(sigs, nChunks = 4, chunkBits = 12)

  /** Exact n-gram Jaccard verification of candidate pairs — the expensive
    * set comparison runs only on LSH survivors, never all pairs.
    */
  def verifyJaccard(candidates: DataFrame, docs: DataFrame,
      threshold: Double): DataFrame = {
    val sh = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("__toks"))
      .select(col("doc_id"), shinglesFromTokens(col("__toks")).as("sh"))
    candidates
      .join(sh.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sh", "sh_a"), Seq("doc_a"))
      .join(sh.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sh", "sh_b"), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter"))
          .cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The df-capped distinct word-3-gram stream: slim (doc_id, gram) rows
    * with over-frequent grams removed — the shared candidate-generation
    * substrate of the exact-Jaccard, clustering, and incremental dedup
    * paths (one implementation so the staging/cap discipline cannot
    * drift between them).
    *
    * explode_outer, NOT explode: InferFiltersFromGenerate adds a
    * size(generator) > 0 filter to plain explode, and filter pushdown
    * inlines the whole staged shingle pipeline into it (re-tokenizing
    * per element — measured 14x slower). The outer variant skips the
    * rule; its extra null-gram rows can never match the equi join.
    * localCheckpoint: the gram stream feeds BOTH the df-count and the
    * downstream join — without materialization each consumer re-tokenizes
    * and re-shingles the whole corpus (the expensive part of this
    * pipeline); the blocks are released by Spark's ContextCleaner once
    * the query's frames are collected, like every cold query path here.
    * The df cap is a broadcast blacklist, not count().over(Window
    * .partitionBy(gram)): a stop-gram ("of the and") can be a percent of
    * the corpus, and the window form ships all of it to one task before
    * filtering — the skew guard itself became the hotspot. groupBy.count
    * partial-aggregates map-side; the over-cap gram set is tiny (it is
    * exactly the set being excluded for being common); the anti join is
    * unhinted — the over-cap set is corpus-scaling, AQE sizes it.
    */
  def cappedGrams(docs: DataFrame, maxDf: Int = MaxBucket): DataFrame = {
    val grams0 = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("__toks"))
      .select(col("doc_id"), shinglesFromTokens(col("__toks")).as("__sh"))
      .select(col("doc_id"), explode_outer(col("__sh")).as("gram"))
      .localCheckpoint(true)
    val hotGrams = grams0.groupBy(col("gram")).count()
      .filter(col("count") > maxDf).select(col("gram"))
    grams0
      .join(hotGrams, Seq("gram"), "left_anti")
      .select(col("doc_id"), col("gram"))
  }

  /** Exact-Jaccard near-dup pairs via a gram-key equi join — the
    * hashing-free twin of the LSH path (and therefore DuckDB-oracle-
    * checkable): slim (gram, id) rows from [[cappedGrams]] join on the
    * gram, shared counts become Jaccard exactly.
    *
    * Skew discipline (same as every other candidate join here): grams
    * with document frequency > `maxDf` are dropped from BOTH the join and
    * the set sizes — a gram shared by hundreds of documents carries no
    * discriminating power, and its bucket² term is exactly what turns the
    * join quadratic (measured: the uncapped form cost 20 s at sf0.1, the
    * capped form a fraction of a second). Jaccard is thus over the
    * df-filtered gram sets, identically in both engines.
    */
  def jaccardPairsExact(docs: DataFrame, threshold: Double,
      maxDf: Int = MaxBucket): DataFrame = {
    val grams = cappedGrams(docs, maxDf)
    // Per-doc sizes as a SMALL aggregate joined onto the pair set after
    // the shared-count groupBy — not a doc_id window whose sz column
    // rides every gram row through the Σ bucket² pair stage (that shape
    // shuffles the whole gram stream an extra time and widens the
    // payload for nothing; sizes here is one row per doc).
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // Pair generation (r17, guide §3.3 "join first on the un-exploded
    // key and explode after" / §2.3 aggregate-before-shuffle): bucket
    // the gram stream ONCE (groupBy gram → sorted doc-id list, bounded
    // at maxDf rows by the cappedGrams contract so no collect_list
    // buffer can run away), then explode each bucket's ordered pairs
    // with codegen array expressions. The previous gram self-join
    // sorted the full gram stream TWICE for a sort-merge join and
    // pushed Σ m² rows (both orientations) through the join machinery —
    // at sf1 that stage alone spilled ~14 GB; the bucket form shuffles
    // the stream once, emits only the m(m−1)/2 ordered pairs, and feeds
    // the same (doc_a, doc_b) partial agg. Same multiset of pairs by
    // construction: the bucket list is the gram's exact doc set
    // (distinct per doc), sorted ascending, so (earlier, later) ⟺
    // doc_a < doc_b.
    // fanoutBy before the explode (guide §2.5): the bucket frame is
    // small in BYTES (one row per gram), so AQE coalesces the groupBy
    // exchange to ~1 partition — and the Σ m(m−1)/2 pair fanout plus
    // its partial agg pipeline on top of it (51.7 M pair rows at sf1 on
    // one task, measured 21 s → the whole stage pinned on one core).
    // The explicit width pins the explode+partial-agg stage at session
    // parallelism; the repartition itself moves only the gram buckets.
    val buckets = graft.Tables.fanoutBy(docs.sparkSession,
      grams.groupBy(col("gram"))
        .agg(sort_array(collect_list(col("doc_id"))).as("__ds")),
      col("gram"))
    // Two pipelined generates, not one nested transform/struct/flatten
    // expression: the nested form materializes m small arrays plus one
    // m(m−1)/2 struct array per bucket BEFORE exploding (measured ~40%
    // slower on the 51.7 M-pair sf1 stream).
    val pairsRaw = buckets
      .select(posexplode(col("__ds")).as(Seq("__i", "doc_a")), col("__ds"))
      .select(col("doc_a"), explode(
        slice(col("__ds"), col("__i") + lit(2), size(col("__ds"))))
        .as("doc_b"))
    pairsRaw
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")),
        Seq("doc_b"))
      .filter(col("shared").cast(DoubleType)
        / (col("sza") + col("szb") - col("shared")) >= threshold)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Connected components over an undirected pair set by iterative
    * min-label propagation: every node's label converges to the MINIMUM
    * doc id in its component — deterministic under any partitioning, so
    * cluster ids are stable. Returns (id, cluster_id) for every node that
    * appears in a pair.
    *
    * The driver-side loop carries only iteration control (one tiny
    * converged-count per round); all data movement is joins/aggregations.
    * Rounds = graph diameter, and near-dup clusters are shallow; at
    * pathological diameters swap in large-star/small-star contraction,
    * which keeps this loop shape but halves the diameter every round.
    */
  /** Free a localCheckpoint'd frame's persisted RDD blocks
    * deterministically (they are otherwise reclaimed only when driver GC
    * happens to collect the RDD). LogicalRDD is private[sql], so the
    * persisted RDD is reached via the case-class accessor reflectively —
    * the same pattern as LlmQueries' memo cleanup.
    */
  def unpersistCheckpointBlocks(df: DataFrame): Unit =
    df.queryExecution.optimizedPlan.foreach { node =>
      if (node.getClass.getSimpleName == "LogicalRDD")
        node.getClass.getMethod("rdd").invoke(node) match {
          case r: org.apache.spark.rdd.RDD[_] => r.unpersist(blocking = false)
          case _ => ()
        }
    }

  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponentsCounted(pairs, maxIter)._1

  /** Same fold, also reporting the propagation STEPS consumed to reach
    * the monotone-sum fixpoint (includes the confirming no-op double
    * step) — the `ScaleProbe graphconv` readout for the rounds-vs-scale
    * question.
    */
  def connectedComponentsCounted(pairs: DataFrame, maxIter: Int = 25)
      : (DataFrame, Int) = {
    // localCheckpoint, not cache: caching stores data but the LOGICAL plan
    // of an iterative loop still nests the previous round's plan several
    // times per round — exponential plan growth that OOMs the driver in
    // plan normalization long before the data is big. Checkpointing
    // truncates the lineage to a leaf each round.
    // r17: symmetrize via explode(array(...)) instead of union of two
    // selects — the union form executes the CALLER'S pair pipeline twice
    // (once per orientation leg; free only when the caller passes an
    // already-staged frame, which llm_embed_clusters does not — its pairs
    // are the live LSH-bucket join). Same row multiset by construction,
    // identical distinct — the q39 credit-fan-back lesson applied to the
    // CC entry edge.
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("s"), col("doc_b").as("d")),
        struct(col("doc_b").as("s"), col("doc_a").as("d")))).as("__e"))
      .select(col("__e.s").as("s"), col("__e.d").as("d"))
      .distinct().localCheckpoint(true)
    var labels = edges.select(col("s").as("id")).distinct()
      .select(col("id"), col("id").as("cluster_id")).localCheckpoint(true)
    var iter = 0
    var done = false
    // Convergence check exploits monotonicity: min-propagation labels are
    // NON-INCREASING and the node set is fixed, so Σ cluster_id strictly
    // drops every round in which anything changed and is equal iff the
    // round was a no-op. One partial-aggregated sum per round (decimal —
    // Σ of 1e9 ids overflows a long) instead of a join-and-count — an
    // exact check, not a checksum heuristic.
    //
    // TWO propagation steps run fused per checkpoint+probe: each blocking
    // driver round (an eager localCheckpoint job plus a sum-probe job) is
    // a scheduler synchronization point, and on a multi-round loop any
    // GC/OS stall multiplies across them — the bench-variance finding.
    // Fusing halves the sequential blocking jobs for the same data work;
    // the monotone-sum argument is unchanged (sum equal across the double
    // step ⟺ neither inner step changed any label ⟺ converged).
    def prop(l: DataFrame): DataFrame =
      l.union(edges.join(l, edges("d") === l("id"))
        .select(edges("s").as("id"), col("cluster_id")))
        .groupBy("id").agg(min(col("cluster_id")).as("cluster_id"))
    var prevSum: Option[java.math.BigDecimal] = None
    // maxIter bounds propagation STEPS (not fused rounds); the fused loop
    // consumes them two at a time, so an odd maxIter is rounded DOWN to
    // even — never overshot. Convergence is detectable only on double-step
    // boundaries, which can only fire the fallback a step early (the
    // fallback is output-identical), never return unconverged labels.
    while (!done && iter + 2 <= maxIter) {
      // LAZY checkpoint materialized BY the sum probe (r17): the eager
      // form ran one blocking job to checkpoint and a second to sum —
      // the probe now doubles as the materializing action, halving the
      // loop's sequential job count for the same data work. Safe here
      // because exactly one action touches the lazy checkpoint before
      // the next round consumes its blocks (no concurrent-materialize
      // race — the q33 accumulator lesson only bites racing jobs).
      val next = prop(prop(labels)).localCheckpoint(false)
      val s = next
        .agg(sum(col("cluster_id").cast(DecimalType(38, 0))).as("s"))
        .head.getDecimal(0)
      // round i−1's checkpoint blocks are dead once `next` is
      // materialized (the sum above) — free them now instead of waiting
      // for driver GC; at cluster scale labels are |V|-sized and the
      // loop would otherwise hold every round's copy simultaneously
      unpersistCheckpointBlocks(labels)
      labels = next
      done = prevSum.contains(s)
      prevSum = Some(s)
      iter += 2 // two propagation steps per fused round
    }
    // silent non-convergence = silently WRONG labels (a component deeper
    // than maxIter splits into several clusters); fail loudly instead —
    // callers with deep graphs should use connectedComponentsStar, whose
    // O(log d) rounds make the cap practically unreachable
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter propagation " +
        "steps (component diameter exceeds the cap); raise maxIter or " +
        "use connectedComponentsStar")
    (labels, iter)
  }

  /** Adaptive connected components: min-label propagation first (the
    * cheapest per-round loop — ~3 distributed ops — and near-dup cluster
    * graphs are almost always shallow), falling back to large-star/
    * small-star contraction if the graph turns out deeper than
    * `propRounds`. Both produce cluster id = min doc id in the component,
    * so the fallback is output-identical (equivalence spec-pinned) — the
    * choice is purely a wall-clock one. Measured at sf0.1 with the fused
    * double-step loop (`ScaleProbe ladder`): propagation 2.10 s vs star
    * 2.52 s on the real 477-node pair graph (star's per-round fixed cost
    * only pays off past diameter ~tens, where its O(log d) rounds
    * dominate — ×3.07 at diameter 119, `ScaleProbe cc`).
    */
  def connectedComponentsAdaptive(pairs: DataFrame,
      propRounds: Int = 12): DataFrame =
    try connectedComponents(pairs, maxIter = propRounds)
    catch {
      case e: IllegalStateException
          if e.getMessage != null && e.getMessage.contains("converge") =>
        connectedComponentsStar(pairs)
    }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): each round rewires every node toward the minimum
    * id in its neighborhood, which roughly HALVES the remaining diameter
    * — O(log d) rounds where plain label propagation needs O(d). Same
    * deterministic result as [[connectedComponents]] (cluster id = min id
    * in the component, equivalence spec-pinned); prefer this form when
    * components can be deep (long transitive near-dup chains). Measured
    * (`Test/runMain graft.ScaleProbe cc 120 200`): x3.07 over the fused
    * double-step propagation on 200 disjoint chains of diameter 119,
    * identical outputs.
    *
    *  - large-star: for every edge (u,v) with v > u, link v to the
    *    minimum neighbor of u (including u);
    *  - small-star: for every edge, link the larger endpoint to the
    *    minimum neighbor among the smaller-or-equal ones.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    def canonical(df: DataFrame): DataFrame = df
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // localCheckpoint per round — see connectedComponents: an iterative
    // loop's logical plan multiplies per round without lineage truncation
    var edges = canonical(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
      .localCheckpoint(true)
    // Per-round convergence probe: (row count, Σ xxhash64(u,v) as
    // decimal) — one partial-aggregated scan. Only when the probe says
    // "maybe unchanged" does ONE exact set compare run (with equal
    // counts over distinct sets, next ⊆ edges ⟺ next = edges); the old
    // form ran TWO excepts every round, the dominant per-round cost on
    // small graphs.
    def sig(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0)))).head
      (r.getLong(0), r.getDecimal(1))
    }
    var prevSig = sig(edges)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // adjacency must be symmetric EVERY round — the star steps emit
      // directed (node -> candidate-min) edges, and grouping a one-sided
      // list computes wrong neighborhood minima
      val adj = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      // large-star: neighbors v > u attach to min(neighborhood(u) ∪ {u})
      val minNbr = adj.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      val large = adj.join(minNbr, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(minNbr.select(col("u"), col("m").as("v")))
      // small-star over canonical (larger -> smaller) edges: every smaller
      // neighbor, and the node itself, attaches to the minimum neighbor
      val canon = canonical(large)
      val minSmall = canon.groupBy("u").agg(min(col("v")).as("m"))
      val next = canonical(
        canon.join(minSmall, Seq("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(minSmall.select(col("u"), col("m").as("v"))))
        .localCheckpoint(true)
      val nextSig = sig(next)
      done = nextSig == prevSig && next.except(edges).isEmpty
      prevSig = nextSig
      edges = next
      iter += 1
    }
    // O(log d) halving makes 20 rounds cover diameters ~2^20; if we still
    // didn't converge something is deeply wrong — fail, don't mislabel
    if (!done) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxIter rounds")
    // at convergence every edge is (member, component-minimum); minima
    // appear only on the right — union their self-rows so every member
    // of every component is listed
    edges.select(col("u").as("id"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("id"), col("v").as("cluster_id")))
      .groupBy("id").agg(min(col("cluster_id")).as("cluster_id"))
  }

  /** Token xxhash64 array — stage as its own projection (see
    * minhashSignatureFromHashes for why).
    */
  def tokenHashes(text: Column): Column =
    transform(split(trim(text), "\\s+"), t => xxhash64(t))

  /** 64-bit SimHash from a pre-projected token-hash array: per-bit
    * majority vote; bit b is 1 iff more token hashes have bit b set than
    * unset. Pure column expressions, no shuffle.
    */
  def simhashFromHashes(hs: Column): Column = {
    val bits = (0 until 64).map { b =>
      val votes = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(votes > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Convenience single-expression form — inlines the tokenization into
    * all 64 bit votes, so only for small/test inputs; production paths go
    * through docSimhashes.
    */
  def simhash(text: Column): Column = simhashFromHashes(tokenHashes(text))

  /** Per-doc SimHash: staged token-hash projection, then the codegen'd
    * one-pass expression (graft.functions.SimHash64; equivalence to the
    * composed simhashFromHashes is spec-pinned). Null signatures (empty
    * docs) are dropped.
    */
  def docSimhashes(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokenHashes(col("text")).as("__hs"))
      .select(col("doc_id"),
        graft.functions.SimHash64.simhash64(col("__hs")).as("simhash"))

  /** Hamming-LSH candidates: docs sharing any 16-bit chunk of the SimHash
    * are candidates (guaranteed to catch pairs within Hamming distance 3).
    */
  def simhashCandidates(docs: DataFrame): DataFrame =
    simhashCandidatesFromSigs(docSimhashes(docs))

  /** Candidate generation from pre-computed SimHashes — same
    * share-the-signature-stage contract as minhashCandidatesFromSigs.
    */
  def simhashCandidatesFromSigs(sigs: DataFrame): DataFrame =
    simhashCandidatesFromChunks(sigs, nChunks = 4, chunkBits = 16)

  /** Shared Hamming-LSH candidate join — the 64-bit (4×16) and portable
    * 48-bit (4×12) variants differ only in the chunk split.
    */
  private def simhashCandidatesFromChunks(sigs: DataFrame, nChunks: Int,
      chunkBits: Int): DataFrame = {
    val mask = (1L << chunkBits) - 1
    val chunks = sigs.select(col("doc_id"), col("simhash"),
      explode_outer(array((0 until nChunks).map(c =>
        concat_ws(":", lit(c),
          shiftright(col("simhash"), c * chunkBits).bitwiseAND(mask))): _*))
        .as("chunk"))
    // Same skew-safe cap as the band/gram paths: a window partitioned by
    // the hot chunk would ship every row of that chunk to one task before
    // the filter could drop it. groupBy.count partial-aggregates map-side
    // and the over-cap chunk set is <= |rows|/MaxBucket — corpus-scaling, so
    // the anti join is unhinted (AQE broadcasts while it fits).
    val hotChunks = chunks.groupBy(col("chunk")).count()
      .filter(col("count") > MaxBucket).select(col("chunk"))
    val small = chunks
      .join(hotChunks, Seq("chunk"), "left_anti")
    val a = small.select(col("chunk"), col("doc_id").as("doc_a"),
      col("simhash").as("sim_a"))
    val b = small.select(col("chunk"), col("doc_id").as("doc_b"),
      col("simhash").as("sim_b"))
    a.join(b, Seq("chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Semantic dedup, SemDeDup-style (Abbas et al. 2023, arXiv:2303.09540):
    * partition the embedding space with k-means, then compare vectors
    * pairwise ONLY within their learned cluster and drop every vector
    * that has an earlier-id cluster-mate with cosine >= `tau`. The
    * cluster id plays exactly the role the LSH band key plays in
    * minhashCandidates — a learned equi-join bucket — so candidate
    * generation is a cluster-keyed self-join, never all-pairs.
    *
    * Keeper policy: earliest-id greedy keep. A vector is dropped iff ANY
    * smaller-id same-cluster vector has cosine >= tau with it — even one
    * that is itself dropped (the standard greedy chain: the policy is a pure
    * function of the pair set, deterministic, and exactly expressible as
    * one SQL NOT EXISTS, which is what the oracle checks).
    *
    * Zero-norm vectors carry no direction, so their cosine is undefined:
    * they never enter the pair join and are always kept.
    *
    * 100 TB shape: k is the scale knob — production SemDeDup runs
    * k ~ n/⟨cluster⟩ so each cluster holds thousands of rows, bounding
    * the per-cluster quadratic term the same way MaxBucket bounds a band
    * bucket; the self-join stays cluster-keyed (one shuffle on a learned
    * key). The staged (vec_id, x, cluster) frame is localCheckpoint'd so
    * the self-join's two sides reuse one materialization instead of
    * re-running k-means per side.
    */
  def semanticDedup(emb: DataFrame, k: Int = 8, iters: Int = 2,
      tau: Double = 0.4): DataFrame = {
    val assigned = KMeans.fit(emb, k, iters)
    val v = emb
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("x"))
      .join(assigned, Seq("vec_id"))
      .localCheckpoint(false)
    val nz = v.filter(Similarity.dot(col("x"), col("x")) > 0)
    val a = nz.select(col("cluster"), col("vec_id").as("va"), col("x").as("xa"))
    val b = nz.select(col("cluster"), col("vec_id").as("vb"), col("x").as("xb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("va") < col("vb"))
      .filter(Similarity.cosine(col("xa"), col("xb")) >= tau)
      .select(col("vb").as("vec_id")).distinct()
    // No broadcast hint: the dropped set is O(corpus) at real duplicate
    // rates — the flag join is a plain vec_id-keyed equi join.
    v.join(dropped.withColumn("__dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("__dup").isNull.as("is_kept"))
  }
}
