package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-behavior probes, run ad hoc (none is in `SparkEntry.queries`).
  * Each mode times one operator at a base size and at a multiple of it,
  * or against its naive counterpart; the modes and their arguments are
  * the table in `main`. For example:
  *
  *  - `minhash` (default): replicates the documents corpus N× (distinct
  *    ids) and times the MinHash-LSH candidate stage at 1× and N×.
  *    Candidate generation is band-bucket equi-join with a bucket cap, so
  *    time should grow ~linearly in corpus size.
  *  - `topk`: times per-group top-5 as the window realization (full sort
  *    of every group) vs graft.functions.TopKAggregate (bounded heap,
  *    map-side combine, shuffles ≤ k×groups rows) on a synthetic tall
  *    input — the measurement behind the aggregate's scale claim.
  *  - `cc`: times min-label propagation vs large-star/small-star
  *    contraction on deep-chain graphs — the measurement behind the
  *    O(d)-vs-O(log d) rounds claim in Dedup.connectedComponentsStar.
  *  - `hotgram`: plants one stop-gram in a large fraction of an otherwise
  *    pair-free corpus and times jaccardPairsExact with and without the
  *    planted skew — the measurement behind the broadcast-blacklist df
  *    cap (a hot gram must cost ~nothing, not a one-task hotspot).
  *
  * Usage: sbt "Test/runMain graft.ScaleProbe [mode] [args ...]"
  * (a bare number N runs `minhash` at N×).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Sessions.sfDir
    val mode =
      args.headOption.filterNot(_.forall(_.isDigit)).getOrElse("minhash")
    val mult =
      if (args.length > 1) args(1).toInt
      else if (args.nonEmpty && args(0).forall(_.isDigit)) args(0).toInt
      else 10
    def int(i: Int, default: Int): Int =
      if (args.length > i) args(i).toInt else default
    def long(i: Int, default: Long): Long =
      if (args.length > i) args(i).toLong else default
    val modes: Map[String, SparkSession => Unit] = Map(
      "minhash" -> (minhashProbe(_, sfDir, mult)),
      "topk" -> (topkProbe(_, long(1, 20000000L), int(2, 200))),
      "cc" -> (ccProbe(_, int(1, 120), int(2, 200))),
      "hotgram" -> (hotGramProbe(_, long(1, 200000L), int(2, 50))),
      "ladder" -> (ladderProbe(_, sfDir)),
      "crawl" -> (crawlProbe(_, long(1, 20000000L))),
      "span" -> (spanProbe(_, sfDir, mult)),
      "spanhash" -> (spanHashProbe(_, sfDir, mult)),
      "overlap" -> (overlapProbe(_, long(1, 50000L), int(2, 8))),
      "bpetrain" -> (bpeTrainProbe(_, sfDir, int(1, 8),
        Option.when(args.length > 2)(args(2).toInt))),
      "bpetrain1k" -> (bpeTrain1kProbe(_, int(1, 1))),
      "kmeans" -> (kmeansProbe(_, sfDir, int(1, 8))),
      "hotbucket" -> (hotBucketProbe(_, long(1, 50000L), long(2, 2000L))),
      "multitouch" -> (multitouchProbe(_, sfDir, long(1, 20000L))),
      "cumdistinct" -> (cumDistinctProbe(_, int(1, 365), long(2, 100000L))),
      "prefix" -> (prefixProbe(_, long(1, 20000000L))),
      "fuzzy" -> (fuzzyProbe(_, sfDir, int(1, 10))),
      "pq" -> (pqProbe(_, sfDir, int(1, 10))),
      "trisample" -> (triSampleProbe(_, sfDir)),
      "media" -> (mediaProbe(_, long(1, 20000L),
        if (args.length > 2) args(2).split(",").toSet else Set.empty[String])),
      "graphgc" -> (graphGcProbe(_, sfDir)),
      "bloom" -> (bloomProbe(_, sfDir, int(1, 10))),
      "joinmv" -> (joinMvProbe(_, sfDir, int(1, 10))),
      "robots" -> (robotsProbe(_, long(1, 2000000L))),
      "graphconv" -> (graphConvProbe(_, sfDir, int(1, 10))),
      "histq" -> (histQProbe(_, sfDir, int(1, 10))),
      "gprefix" -> (groupedPrefixProbe(_, long(1, 20000000L), int(2, 5))),
      "zorder" -> (zorderProbe(_, long(1, 20000000L))),
      "pagerank" -> (pagerankProbe(_, long(1, 2000000L), int(2, 10))),
      "bfs" -> (bfsProbe(_, long(1, 2000000L), int(2, 10))),
      "rollingdistinct" ->
        (rollingDistinctProbe(_, long(1, 500000L), int(2, 10))))
    val probe = modes.getOrElse(mode, sys.error(
      s"unknown mode $mode; modes: ${modes.keys.toSeq.sorted.mkString(" ")}"))
    val spark = Sessions.local()
    try probe(spark) finally spark.stop()
  }

  /** `(result, seconds)` of evaluating `f`; `warmUp` evaluates it once,
    * untimed, first (JIT + codegen + cached inputs).
    */
  private def time[A](f: => A, warmUp: Boolean = false): (A, Double) = {
    if (warmUp) f
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def minhashProbe(spark: SparkSession, sfDir: String,
      mult: Int): Unit = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")

    def run(m: Int): (Long, Long, Double) = {
      val d = (0 until m)
        .map(i => docs.withColumn("doc_id",
          col("doc_id") + lit(i.toLong * 10000000L)))
        .reduce(_ union _)
        .cache()
      val n = d.count()
      val (c, dt) = time(llm.Dedup.minhashCandidates(d).count())
      d.unpersist()
      (n, c, dt)
    }

    run(1) // warm-up (codegen + cache machinery)
    val (n1, c1, t1) = run(1)
    val (nm, cm, tm) = run(mult)
    println(f"PROBE base: docs=$n1 candidates=$c1 time=$t1%.1fs")
    println(f"PROBE ${mult}x: docs=$nm candidates=$cm time=$tm%.1fs")
    println(f"PROBE ratio: size x$mult -> time x${tm / t1}%.1f " +
      f"(linear would be ~x$mult, quadratic ~x${mult * mult})")
  }

  private def bpeTrainProbe(spark: SparkSession, sfDir: String, bk: Int,
      bigN: Option[Int]): Unit = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .cache()
    docs.count()
    llm.BpeTrain.trainMerges(spark, docs, 4) // warm-up
    // sequential: one Spark round per merge — the per-round constant
    // is the scheduler overhead a 32k vocab multiplies by 32k
    for (n <- Seq(16, 64, 256)) {
      val (m, t) = time(llm.BpeTrain.trainMerges(spark, docs, n))
      println(f"PROBE bpetrain seq nMerges=$n learned=${m.size} " +
        f"time=$t%.1fs (${t / m.size}%.3fs/merge-round)")
    }
    for (n <- Seq(64, 256)) {
      val (m, t) = time(
        llm.BpeTrain.trainMergesBatched(spark, docs, n, batchK = bk))
      val rounds = m.map(_._5).distinct.size
      println(f"PROBE bpetrain batched nMerges=$n batchK=$bk " +
        f"learned=${m.size} rounds=$rounds time=$t%.1fs " +
        f"(${t / rounds}%.3fs/round)")
    }
    // r8 verdict #3: the 32k-vocab extrapolation rested on a 14-round
    // measurement — one production-round-count lap (nMerges ~ 1k)
    // confirms (or refutes) that the per-round constant holds as the
    // learned vocabulary and the pair-table width grow
    bigN.foreach { bigN =>
      val (m, t) = time(
        llm.BpeTrain.trainMergesBatched(spark, docs, bigN, batchK = bk))
      val rounds = m.map(_._5).distinct.size
      println(f"PROBE bpetrain batched BIG nMerges=$bigN batchK=$bk " +
        f"learned=${m.size} rounds=$rounds time=$t%.1fs " +
        f"(${t / math.max(rounds, 1)}%.3fs/round)")
    }
    docs.unpersist()
  }

  /** The testdata corpus exhausts at ~90 learnable merges, so the
    * bpetrain mode cannot reach production ROUND counts. This mode
    * plants a pair-diverse corpus (seeded: 4k distinct 8–12-char
    * pseudo-words, each repeated ~4×) that sustains >1k merges, then
    * runs a merge-count LADDER at batchK=1 (one round per merge): the
    * MARGINAL s/round between ladder rungs is the late-round constant —
    * super-linear growth as the learned vocabulary widens the
    * symbol/pair tables would show as rising marginal cost.
    */
  private def bpeTrain1kProbe(spark: SparkSession, bk: Int): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val words = (0 until 4000).map { _ =>
      val len = 8 + rnd.nextInt(5)
      (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    val texts = (0 until 2000).map { i =>
      (0 until 8).map(j => words((i * 8 + j * 997) % words.size))
        .mkString(" ")
    }
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text").cache()
    docs.count()
    llm.BpeTrain.trainMergesBatched(spark, docs, 8, batchK = 4) // warm
    var prevT = 0.0; var prevR = 0
    for (n <- Seq(125, 250, 500, 1000)) {
      val (m, t) = time(llm.BpeTrain.trainMergesBatched(spark, docs, n, bk))
      val rounds = m.map(_._5).distinct.size
      val marginal =
        if (rounds > prevR) (t - prevT) / (rounds - prevR) else Double.NaN
      println(f"PROBE bpetrain1k batchK=$bk nMerges=$n learned=${m.size} " +
        f"rounds=$rounds time=$t%.1fs (${t / math.max(rounds, 1)}%.3fs/round, " +
        f"marginal=$marginal%.3fs/round over rounds ${prevR + 1}..$rounds)")
      prevT = t; prevR = rounds
    }
    docs.unpersist()
  }

  private def kmeansProbe(spark: SparkSession, sfDir: String,
      k: Int): Unit = {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val ((nOut, rounds), dt) = time {
      val (asn, rounds) = llm.KMeans.fitConverged(emb, k = k,
        maxIters = 100, eps = 1e-9)
      (asn.count(), rounds)
    }
    println(f"PROBE kmeans: vecs=$n assigned=$nOut rounds=$rounds " +
      f"time=$dt%.1fs (${dt / rounds}%.2fs/round)")
  }

  /** Duplicate-passage scale behavior: replicating the corpus m× is the
    * WORST case for span dedup (every span's df multiplies by m, so every
    * doc becomes fully duplicated), yet time should stay ~linear in
    * corpus size: the span-df aggregate partial-aggregates map-side and
    * the join back is span-keyed equi — nothing quadratic anywhere.
    */
  private def spanProbe(spark: SparkSession, sfDir: String,
      mult: Int): Unit = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    // Replica id stride from the data, not a constant: a fixed 1e7 would
    // silently collide (and merge distinct docs) on any corpus with
    // doc_ids >= 10M, skewing dup counts and the timing ratio.
    val stride = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1L
    def run(m: Int): (Long, Long, Double) = {
      val d = (0 until m)
        .map(i => docs.withColumn("doc_id",
          col("doc_id") + lit(i.toLong * stride)))
        .reduce(_ union _)
        .cache()
      val nd = d.count()
      // sum over the OUTPUT column: a bare count() would let Catalyst
      // eliminate the unique-key left join and skip the whole pipeline
      // (measured: 100x corpus "ran" in 0.5 s)
      val (dup, dt) = time(llm.Dedup.passageDupProfile(d)
        .agg(sum(col("n_dup_spans"))).collect()(0).getLong(0))
      d.unpersist()
      (nd, dup, dt)
    }
    run(1) // warm-up
    val (n1, d1, t1) = run(1)
    val (nm, dm, tm) = run(mult)
    println(f"PROBE span base: docs=$n1 dupspans=$d1 time=$t1%.2fs")
    println(f"PROBE span ${mult}x: docs=$nm dupspans=$dm time=$tm%.2fs")
    println(f"PROBE span ratio: size x$mult -> time x${tm / t1}%.2f " +
      f"(linear ~x$mult, quadratic ~x${mult * mult})")
  }

  /** String-key vs rolling-hash-key span dedup: same corpus, same
    * output (asserted equal), but the hashed plan shuffles 8 bytes per
    * span where the string plan shuffles the whole width-word span —
    * the measurement behind llm_span_dedup_hashed's production-key
    * claim. Shuffle bytes come from a stage-completion listener; laps
    * sleep around the reset because the listener bus is async.
    */
  private def spanHashProbe(spark: SparkSession, sfDir: String,
      mult: Int): Unit = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val stride = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1L
    val d = (0 until mult)
      .map(i => docs.withColumn("doc_id",
        col("doc_id") + lit(i.toLong * stride)))
      .reduce(_ union _)
      .cache()
    val nd = d.count()
    val shuffle = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        shuffle.addAndGet(
          s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    def lap(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : (Long, Double, Long) = {
      Thread.sleep(1000); shuffle.set(0L)
      // sum over the OUTPUT column so the unique-key left join can't be
      // eliminated (the spanProbe lesson)
      val (dup, dt) =
        time(f(d).agg(sum(col("n_dup_spans"))).collect()(0).getLong(0))
      Thread.sleep(1000)
      (dup, dt, shuffle.get)
    }
    lap(llm.Dedup.passageDupProfile(_)) // warm-up: codegen + cache
    val (ds, tStr, bStr) = lap(llm.Dedup.passageDupProfile(_))
    lap(llm.Dedup.passageDupProfileHashed(_))
    val (dh, tHash, bHash) = lap(llm.Dedup.passageDupProfileHashed(_))
    require(ds == dh, s"span profiles disagree: $ds vs $dh")
    println(f"PROBE spanhash: docs=$nd dupspans=$ds " +
      f"string=$tStr%.2fs/${bStr / 1048576.0}%.1fMB " +
      f"hashed=$tHash%.2fs/${bHash / 1048576.0}%.1fMB " +
      f"shuffle x${bStr.toDouble / bHash}%.2f time x${tStr / tHash}%.2f")
  }

  /** Pair-join vs rank-arithmetic overlap counting under growing
    * concurrency: n 10-minute sessions uniform over a fixed 30-day span,
    * so concurrency (and the pair join's intermediate) grows ∝ n while
    * the rank plan touches each interval twice regardless. m× sessions →
    * pair count ×m², so the pair join's time slope must outgrow the rank
    * plan's; both totals are asserted equal at both sizes.
    */
  private def overlapProbe(spark: SparkSession, n: Long, mult: Int): Unit = {
    import org.apache.spark.sql.DataFrame
    def sessions(m: Long): DataFrame = spark.range(m).select(
      col("id").as("sid"),
      timestamp_millis(lit(1704067200000L) +
        pmod(hash(col("id")).cast("long"), lit(2592000000L))).as("st"))
      .withColumn("en", timestamp_millis(unix_millis(col("st")) + 600000L))
      .localCheckpoint(true)
    def viaPairs(s: DataFrame): Long = {
      val a = s.select(col("sid").as("a_sid"), col("st").as("a_st"),
        col("en").as("a_en"))
      val b = s.select(col("sid").as("b_sid"), col("st").as("b_st"),
        col("en").as("b_en"))
      operators.IntervalJoin
        .overlapJoin(a, b, "a_st", "a_en", "b_st", "b_en", 600000L)
        .filter(col("a_sid") =!= col("b_sid"))
        .count()
    }
    def viaRanks(s: DataFrame): Long =
      operators.IntervalJoin.overlapCounts(s, "st", "en", 600000L)
        .agg(sum(col("n_overlap"))).collect()(0).getLong(0)
    viaPairs(sessions(n)); viaRanks(sessions(n)) // warm-up
    val s1 = sessions(n); val sm = sessions(n * mult)
    val (p1, tp1) = time(viaPairs(s1))
    val (r1, tr1) = time(viaRanks(s1))
    require(p1 == r1, s"overlap totals disagree at base: $p1 vs $r1")
    val (pm, tpm) = time(viaPairs(sm))
    val (rm, trm) = time(viaRanks(sm))
    require(pm == rm, s"overlap totals disagree at ${mult}x: $pm vs $rm")
    println(f"PROBE overlap base n=$n pairs=$p1 join=$tp1%.2fs rank=$tr1%.2fs")
    println(f"PROBE overlap ${mult}x n=${n * mult} pairs=$pm " +
      f"join=$tpm%.2fs rank=$trm%.2fs")
    println(f"PROBE overlap slopes: join x${tpm / tp1}%.1f " +
      f"rank x${trm / tr1}%.1f (pairs grew x${pm.toDouble / p1}%.1f)")
  }

  /** Hot-bucket guard measurement (operators.IntervalJoin maxBucketRows):
    * nBg 10-minute background sessions uniform over 30 days (a few rows
    * per bucket) plus `hot` sessions planted inside ONE 10-minute bucket
    * — the pathological co-tenancy hour. The uncapped join's intermediate
    * grows ∝ hot² (that one bucket is a self-cross-join); the capped join
    * blacklists the bucket before any wide move, so its time must stay
    * ~flat as the plant quadruples. On the clean corpus (no plant) capped
    * and uncapped are asserted pair-identical — the cap only ever
    * touches over-cap buckets.
    */
  private def hotBucketProbe(spark: SparkSession, nBg: Long,
      hot: Long): Unit = {
    import org.apache.spark.sql.DataFrame
    val bucketMs = 600000L
    def bg: DataFrame = spark.range(nBg).select(
      col("id").as("sid"),
      timestamp_millis(lit(1704067200000L) +
        pmod(hash(col("id")).cast("long"), lit(2592000000L))).as("st"))
      .withColumn("en", timestamp_millis(unix_millis(col("st")) + bucketMs))
    // planted sessions all start inside one bucket far past the
    // background span, so every planted pair lands in that bucket
    def planted(h: Long): DataFrame = spark.range(h).select(
      (col("id") + 1000000000L).as("sid"),
      timestamp_millis(lit(1709067200000L) +
        pmod(hash(col("id")).cast("long"), lit(bucketMs / 2))).as("st"))
      .withColumn("en", timestamp_millis(unix_millis(col("st")) + 60000L))
    def pairs(s: DataFrame, cap: Long): Long = {
      val a = s.select(col("sid").as("a_sid"), col("st").as("a_st"),
        col("en").as("a_en"))
      val b = s.select(col("sid").as("b_sid"), col("st").as("b_st"),
        col("en").as("b_en"))
      operators.IntervalJoin
        .overlapJoin(a, b, "a_st", "a_en", "b_st", "b_en", bucketMs,
          maxBucketRows = cap)
        .filter(col("a_sid") =!= col("b_sid"))
        .count()
    }
    val cap = 1000L // >> any background bucket, << the plant
    val clean = bg.localCheckpoint(true)
    pairs(clean, Long.MaxValue) // warm-up
    val (pClean, _) = time(pairs(clean, Long.MaxValue))
    val (pCleanCap, _) = time(pairs(clean, cap))
    require(pClean == pCleanCap,
      s"cap changed a clean corpus: $pClean vs $pCleanCap")
    for (h <- Seq(hot, hot * 4)) {
      val c = clean.unionByName(planted(h)).localCheckpoint(true)
      // past ~2e9 intermediate pairs the uncapped lap is not a
      // measurement, it's a hang — which is the guard's whole point;
      // run capped-only there (the 10⁶-concurrency demonstration)
      val uncapped =
        if (h * h <= 2000000000L) {
          val (pu, tu) = time(pairs(c, Long.MaxValue))
          f"uncapped=$tu%.2fs/$pu pairs"
        } else f"uncapped=SKIPPED (~${h * h} intermediate pairs)"
      val (pc, tc) = time(pairs(c, cap))
      println(f"PROBE hotbucket bg=$nBg hot=$h $uncapped " +
        f"capped=$tc%.2fs/$pc pairs (clean bg pairs=$pClean)")
    }
  }

  /** The bot-user blowup in multi-touch attribution
    * (etl_multitouch_attribution's user-keyed join): a user's touch
    * fanout is clicks×purchases, so one bot with h clicks and h/10
    * purchases inside the window injects ~h²/10 pair rows through the
    * join AND the per-purchase window — the quadratic term the clean
    * per-user bound hides. The escape is the cappedGrams discipline:
    * count clicks per user, broadcast-blacklist users over the cap, and
    * drop them from attribution entirely (production bot filtering —
    * crediting a bot's clicks is wrong anyway, so the cap is a
    * correctness policy, not an approximation). The probe measures the
    * real events corpus clean, then with planted bots at h and 4h:
    * capped time must stay at clean-corpus level while uncapped grows
    * ~quadratically (skipped where the pair count makes it a hang).
    */
  private def multitouchProbe(spark: SparkSession, sfDir: String,
      hot: Long): Unit = {
    import org.apache.spark.sql.DataFrame
    val ev = Tables.events(spark, sfDir)
    val clicks0 = ev
      .filter(col("event_type") === "click" && col("user_id").isNotNull)
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val buys0 = ev
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
      .select(col("user_id").as("bu"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
    val base = 1700000000000L
    def bot(h: Long): (DataFrame, DataFrame) = (
      spark.range(h).select(lit(999999999L).as("cu"),
        (col("id") + 2000000000L).as("click_id"),
        timestamp_millis(lit(base) + col("id") % 3600000L).as("click_ts")),
      spark.range(math.max(h / 10, 1L)).select(lit(999999999L).as("bu"),
        (col("id") + 3000000000L).as("buy_id"),
        timestamp_millis(lit(base) + 3600000L + col("id") % 3600000L)
          .as("buy_ts")))
    def attrib(clicks: DataFrame, buys: DataFrame): Long = {
      import org.apache.spark.sql.expressions.Window
      val touch = buys.join(clicks,
        col("bu") === col("cu") &&
          col("buy_ts") >= col("click_ts") &&
          col("buy_ts") < col("click_ts") + expr("INTERVAL 24 HOUR"))
      val wr = Window.partitionBy(col("buy_id"))
        .orderBy(col("click_ts"), col("click_id"))
      touch.withColumn("r", row_number().over(wr))
        .withColumn("k", count(lit(1)).over(wr.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("r"), col("k")).count()
    }
    def capped(clicks: DataFrame, buys: DataFrame, cap: Long): Long = {
      val bots = clicks.groupBy("cu").agg(count(lit(1)).as("n"))
        .filter(col("n") > cap).select(col("cu"))
      attrib(clicks.join(broadcast(bots), Seq("cu"), "left_anti"), buys)
    }
    val cap = 1000L
    attrib(clicks0, buys0) // warm-up
    val (nClean, tClean) = time(attrib(clicks0, buys0))
    val (nCleanCap, _) = time(capped(clicks0, buys0, cap))
    require(nClean == nCleanCap,
      s"cap changed the clean corpus: $nClean vs $nCleanCap")
    println(f"PROBE multitouch clean: touches=$nClean time=$tClean%.2fs")
    for (h <- Seq(hot, hot * 4)) {
      val (bc, bb) = bot(h)
      val c = clicks0.unionByName(bc).localCheckpoint(true)
      val b = buys0.unionByName(bb).localCheckpoint(true)
      val uncapped =
        if (h * (h / 10) <= 2000000000L) {
          val (nu, tu) = time(attrib(c, b))
          f"uncapped=$tu%.2fs/$nu touches"
        } else f"uncapped=SKIPPED (~${h * (h / 10)} bot pairs)"
      val (nc, tc) = time(capped(c, b, cap))
      println(f"PROBE multitouch bot h=$h $uncapped " +
        f"capped=$tc%.2fs/$nc touches (clean=$nClean)")
    }
  }

  /** The expanding-window COUNT(DISTINCT) decomposition behind
    * q63_cumulative_distinct_users, measured: the NAIVE realization
    * expands each distinct (day, user) to every later day (the only
    * window-free way to make each day's cumulative set groupable) —
    * Σ over days of days-remaining ≈ D²/2 expanded rows, quadratic in
    * the horizon — while the first-seen form is one user-keyed MIN +
    * a |days|-frame prefix, linear in the data and independent of the
    * horizon beyond the day frame. Doubling the horizon at constant
    * rows/day should ~quadruple the naive expansion and merely double
    * the first-seen work.
    */
  private def cumDistinctProbe(spark: SparkSession, days: Int,
      usersPerDay: Long): Unit = {
    import org.apache.spark.sql.DataFrame
    def corpus(d: Int): DataFrame = {
      val n = d.toLong * usersPerDay
      spark.range(n).select(
        pmod(hash(col("id")), lit(d)).cast("int").as("day"),
        pmod(hash(col("id") * 31 + 7), lit(usersPerDay * 5)).as("u"))
        .localCheckpoint(true)
    }
    def naive(c: DataFrame, d: Int): Long =
      c.distinct()
        .select(explode(sequence(col("day"), lit(d - 1))).as("target"),
          col("u"))
        .distinct()
        .groupBy("target").agg(count(lit(1)).as("cum"))
        .count()
    def firstSeen(c: DataFrame): Long =
      c.groupBy("u").agg(min(col("day")).as("d0"))
        .groupBy("d0").agg(count(lit(1)).as("nu"))
        .count()
    firstSeen(corpus(days / 4)) // warm-up
    for (d <- Seq(days, days * 2)) {
      val c = corpus(d)
      // expanded rows ≈ distinct pairs × d/2; past ~8e9 the naive lap
      // is an OOM/hang, not a measurement — which is the decomposition's
      // whole point, so report it as structurally un-runnable
      val expandedEst = d.toLong * usersPerDay * d / 2
      val naiveRes =
        if (expandedEst <= 8000000000L) {
          val (nn, tn) = time(naive(c, d))
          f"naive=$tn%.2fs/$nn days"
        } else f"naive=SKIPPED (~$expandedEst expanded rows)"
      val (nf, tf) = time(firstSeen(c))
      println(f"PROBE cumdistinct days=$d rows=${d.toLong * usersPerDay} " +
        f"$naiveRes firstseen=$tf%.2fs/$nf days")
    }
  }

  /** Crawl-family scale probe: synthesize N raw URLs (three spellings
    * of ~N/20 canonical resources — a realistic crawl dup ratio), then
    * time (a) the map-only UrlNormalize parse and (b) the
    * dedup-by-canonical-key groupBy, at N/10 and N. The claims under
    * measurement: parse throughput is linear scan-fused map work (no
    * shuffle), and the dedup shuffles only the canonical string key so
    * it scales ~linearly with the crawl, not with pairwise comparisons.
    */
  private def crawlProbe(spark: SparkSession, rows: Long): Unit = {
    def urls(n: Long) = {
      val id = col("id")
      val g = pmod(id, lit(1000000)).cast("string")
      val m = pmod(id * 7, lit(1000)).cast("string")
      val raw = when(pmod(id, lit(3)) === 0,
          concat(lit("http://www.archive"), g, lit(".example.com/items/"), m, lit("/")))
        .when(pmod(id, lit(3)) === 1,
          concat(lit("HTTP://WWW.ARCHIVE"), g, lit(".EXAMPLE.COM:80/items/./"), m, lit("/")))
        .otherwise(
          concat(lit("http://www.archive"), g, lit(".example.com/items/extra/../"), m, lit("/#top")))
      spark.range(n).select(id.as("doc_id"),
        graft.functions.UrlNormalize.url_normalize(raw)
          .getField("url").as("url"))
    }
    urls(100000).filter(col("url").isNotNull).count() // warm-up
    for (n <- Seq(rows / 10, rows)) {
      val (parsed, tp) = time(urls(n).filter(col("url").isNotNull).count())
      val (distinctUrls, td) = time(urls(n).groupBy("url")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .count())
      println(f"PROBE crawl rows=$n parsed=$parsed parse=$tp%.1fs " +
        f"(${n / tp / 1e6}%.2fM rows/s) dedup=$td%.1fs " +
        f"(${n / td / 1e6}%.2fM rows/s) canonical=$distinctUrls " +
        f"dupRatio=${n.toDouble / distinctUrls}%.1f")
    }
  }

  /** Stage timings of the dedup ladder on the real corpus: pairs alone,
    * then each connected-components realization over the same
    * (checkpointed) pair set — the measurement behind the choice of CC
    * algorithm in llm_dedup_clusters.
    */
  private def ladderProbe(spark: SparkSession, sfDir: String): Unit = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val (_, tPairs) =
      time(llm.Dedup.jaccardPairsExact(docs, 0.8).count(), warmUp = true)
    val pairs = llm.Dedup.jaccardPairsExact(docs, 0.8).localCheckpoint(true)
    val (nProp, tProp) = time(
      llm.Dedup.connectedComponents(pairs).count())
    val (nStar, tStar) = time(
      llm.Dedup.connectedComponentsStar(pairs).count())
    require(nProp == nStar, s"CC disagree: $nProp vs $nStar")
    println(f"PROBE ladder: pairs=$tPairs%.2fs " +
      f"propagation=$tProp%.2fs star=$tStar%.2fs (nodes=$nProp)")
  }

  /** Skew-guard measurement: a synthetic corpus of unique 5-token docs
    * (zero true near-dup pairs), then the same corpus with one planted
    * stop-gram appended to hotPct% of documents. Under the old
    * count().over(Window.partitionBy(gram)) cap, the planted gram's rows
    * all land on one task before the filter runs — max-task time grows
    * with the hot fraction. Under the broadcast-blacklist cap the hot
    * gram is dropped before any wide move, so the hot lap should cost
    * about the same as the clean lap (and emit zero pairs, since the
    * planted gram is over-df and every doc is otherwise unique).
    */
  private def hotGramProbe(spark: SparkSession, nDocs: Long,
      hotPct: Int): Unit = {
    // 5 unique-per-doc tokens -> 3 unique trigrams per doc -> no shared
    // grams except the planted one
    def corpus(hot: Boolean) = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        (0 until 5).map(k => concat(lit("w"), col("id") * 5 + k)) ++
          (if (hot) Seq(when(col("id") % 100 < hotPct, lit("of the and"))
            .otherwise(concat(lit("u"), col("id"))))
           else Seq.empty): _*).as("text"))
    def pairs(df: org.apache.spark.sql.DataFrame): Long =
      llm.Dedup.jaccardPairsExact(df, 0.8).count()
    val (cClean, tClean) = time(pairs(corpus(hot = false)), warmUp = true)
    val (cHot, tHot) = time(pairs(corpus(hot = true)))
    println(f"PROBE hotgram: docs=$nDocs hot=$hotPct%% " +
      f"clean=${tClean}%.1fs/$cClean pairs " +
      f"hot=${tHot}%.1fs/$cHot pairs ratio=x${tHot / tClean}%.2f " +
      f"(unbounded skew would blow the hot lap up)")
  }

  /** Label-propagation vs star-contraction on deep graphs: nChains
    * disjoint chains of length chainLen (diameter = chainLen - 1). Both
    * must produce identical components; propagation needs ~chainLen
    * rounds, star contraction ~log2(chainLen).
    */
  private def ccProbe(spark: SparkSession, chainLen: Int, nChains: Int): Unit = {
    val pairs = spark.range(nChains.toLong * chainLen)
      .filter(col("id") % chainLen =!= (chainLen - 1))
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val (prop, tp) = time(
      llm.Dedup.connectedComponents(pairs, maxIter = chainLen + 2)
        .orderBy("id").collect().toSeq)
    val (star, ts) = time(
      llm.Dedup.connectedComponentsStar(pairs)
        .orderBy("id").collect().toSeq)
    require(prop.map(_.toSeq) == star.map(_.toSeq), "components disagree")
    println(f"PROBE cc: chains=$nChains len=$chainLen " +
      f"propagation=$tp%.1fs star=$ts%.1fs speedup=x${tp / ts}%.2f")
  }

  /** Measures operators.OrderedPrefix (two-phase bucketed global
    * rank+running-sum, the q29/q32/q35 plan) against the single-window
    * form it replaces, on a planted frame large enough that the one-task
    * global sort is the visible cost. Also checks both plans produce the
    * SAME (rank, prefix) on a 100k sample before timing — a probe that
    * measures a wrong plan measures nothing.
    */
  private def prefixProbe(spark: SparkSession, rows: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(rows).select(
      col("id"),
      pmod(hash(col("id")), lit(1000000)).cast("long").as("v"))
      .cache()
    val n = df.count()

    def windowPlan() = {
      val w = Window.orderBy(col("v").desc, col("id"))
      df.withColumn("r", row_number().over(w))
        .withColumn("p", sum(col("v")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
    }
    def bucketPlan() = operators.OrderedPrefix.rankAndPrefix(
        df, lit(0L) - (col("v") / lit(1000)).cast("long"),
        Seq(col("v").desc, col("id")), sumExpr = Some(col("v")))
      .withColumnRenamed("__rank", "r").withColumnRenamed("__prefix", "p")

    // equivalence on a small slice first (full compare would collect n)
    val small = spark.range(100000).select(col("id"),
      pmod(hash(col("id")), lit(1000000)).cast("long").as("v")).cache()
    val wS = Window.orderBy(col("v").desc, col("id"))
    val a = small.withColumn("r", row_number().over(wS))
      .withColumn("p", sum(col("v")).over(
        wS.rowsBetween(Window.unboundedPreceding, 0)))
      .select("id", "r", "p").collect().map(_.toSeq).toSet
    val b = operators.OrderedPrefix.rankAndPrefix(
        small, lit(0L) - (col("v") / lit(1000)).cast("long"),
        Seq(col("v").desc, col("id")), sumExpr = Some(col("v")))
      .select(col("id"), col("__rank").as("r"), col("__prefix").as("p"))
      .collect().map(_.toSeq).toSet
    require(a == b, s"plans disagree on the 100k sample: ${a.size} vs ${b.size}")

    // collect the 1-row max (NOT .count(): column pruning would drop the
    // max expression and the window/rank with it, timing a bare scan)
    val (_, tw) = time(windowPlan().select(max(col("r") + col("p"))).collect(),
      warmUp = true)
    val (_, tb) = time(bucketPlan().select(max(col("r") + col("p"))).collect(),
      warmUp = true)
    println(f"PROBE prefix: rows=$n window=$tw%.2fs " +
      f"two_phase=$tb%.2fs speedup=x${tw / tb}%.2f")
  }

  /** Fuzzy-join scaling on its two independent axes. Axis 1 (DISTINCT
    * growth): m× the customer names made distinct by an id-derived digit
    * suffix — candidate work must grow ~linearly (deletion buckets stay
    * |alphabet|·len-bounded). Axis 2 (DUPLICATE multiplicity): the same
    * names replicated VERBATIM m× under fresh ids — the realistic
    * entity-corpus shape. The distinct-string candidate stage must stay
    * FLAT on this axis (the per-row key generation the operator replaced
    * would go ×m² through the verify); only the output expansion grows,
    * and that growth IS the answer (the pair list is ×m² by definition),
    * so the probe reports the pair count next to the time.
    */
  private def fuzzyProbe(spark: SparkSession, sfDir: String,
      mult: Int): Unit = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val names = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("id"), col("c_name").as("s"))
    val stride = names.agg(max(col("id"))).collect()(0).getLong(0) + 1L
    val shuffle = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        shuffle.addAndGet(
          s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    def run(df: org.apache.spark.sql.DataFrame, hashed: Boolean)
        : (Long, Long, Double, Long) = {
      val d = df.cache(); val n = d.count()
      Thread.sleep(1000); shuffle.set(0L)
      val (pairs, dt) = time(operators.FuzzyJoin
        .pairsWithin1(d, col("id"), col("s"), hashedKeys = hashed)
        .agg(count(lit(1))).collect()(0).getLong(0))
      Thread.sleep(1000)
      d.unpersist()
      (n, pairs, dt, shuffle.get)
    }
    def distinctRep(m: Int) = (0 until m).map(i =>
      names.select((col("id") + lit(i * stride)).as("id"),
        concat(col("s"), lit("#"), lit(i.toString)).as("s")))
      .reduce(_ union _)
    def dupRep(m: Int) = (0 until m).map(i =>
      names.select((col("id") + lit(i * stride)).as("id"), col("s")))
      .reduce(_ union _)
    run(distinctRep(1), hashed = true) // warm-up
    val (n1, p1, t1, b1) = run(distinctRep(1), hashed = true)
    val (nd, pd, td, bd) = run(distinctRep(mult), hashed = true)
    val (nm, pm, tm, bm) = run(dupRep(mult), hashed = true)
    // string-key A/B (r9 verdict #5): same outputs asserted, shuffle
    // bytes compared — the hashed form's whole claim
    val (_, pS1, tS1, bS1) = run(distinctRep(1), hashed = false)
    val (_, pSd, tSd, bSd) = run(distinctRep(mult), hashed = false)
    require(p1 == pS1 && pd == pSd,
      s"hashed/string pair counts disagree: $p1/$pS1 base, $pd/$pSd x$mult")
    println(f"PROBE fuzzy base: rows=$n1 pairs=$p1 time=$t1%.2fs" +
      f" shuffle=${b1 / 1048576.0}%.1fMB")
    println(f"PROBE fuzzy distinct x$mult: rows=$nd pairs=$pd time=$td%.2fs" +
      f" (x${td / t1}%.2f; linear ~x$mult) shuffle=${bd / 1048576.0}%.1fMB")
    println(f"PROBE fuzzy dup x$mult: rows=$nm pairs=$pm time=$tm%.2fs" +
      f" (x${tm / t1}%.2f; pairs x${pm.toDouble / math.max(p1, 1)}%.0f" +
      f" — output-bound, candidate stage flat) shuffle=${bm / 1048576.0}%.1fMB")
    println(f"PROBE fuzzy stringkeys base: time=$tS1%.2fs" +
      f" shuffle=${bS1 / 1048576.0}%.1fMB (hashed x${bS1.toDouble / b1}%.2f" +
      f" fewer bytes, time x${tS1 / t1}%.2f)")
    println(f"PROBE fuzzy stringkeys x$mult: time=$tSd%.2fs" +
      f" shuffle=${bSd / 1048576.0}%.1fMB (hashed x${bSd.toDouble / bd}%.2f" +
      f" fewer bytes, time x${tSd / td}%.2f)")
  }

  /** Bloom-prefilter payoff: the semi-join (fact ⋈ filtered-dim keys,
    * forced shuffle-hash — the "dim too big to broadcast" scenario the
    * operator exists for) timed plain vs behind the map-side Bloom
    * prefilter (BOTH hash families), on the corpus and an m×-replicated
    * fact. What the probe quantifies: the prefilter trades per-row hash
    * CPU for a shuffle that carries only pass-fraction of the fact — on
    * a single box the shuffle is RAM-speed, so the md5 family loses on
    * hash cost alone while the integer multiplicative family is the
    * honest local crossover; on a cluster the shuffle is network-bound
    * and both win by the pass fraction. Also reports the measured pass
    * fraction and false-positive rate at the operator's policy m/k
    * against the real sf key count.
    */
  /** Graph-block GC attribution (r9 verdict #6): the r9 driver run's one
    * self-induced slow window was ~13 s of GC under q37/q39/q40
    * (positions 136–144). Two candidate stories: (a) the cached
    * localCheckpoint blocks of q40's sampled/oriented frames live
    * DESERIALIZED (MEMORY_AND_DISK, row objects on the heap) and the
    * collector pays for them; (b) the GC is TRANSIENT allocation churn —
    * the ~500M pair rows streaming through the wedge joins — and storage
    * level is irrelevant. The probe runs the block both ways: as shipped
    * (localCheckpoint), and with the two frames persisted
    * MEMORY_AND_DISK_SER (serialized bytes off the object heap; lineage
    * kept, which is fine for a probe), reporting per-query wall + GC
    * delta. Whichever is flat names the cause.
    */
  private def graphGcProbe(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.storage.StorageLevel
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def lap(name: String, f: () => org.apache.spark.sql.DataFrame): Unit = {
      val g0 = gcMs
      val (_, dt) = time(noop(f()))
      println(f"PROBE graphgc $name: time=$dt%6.2fs" +
        f" gc=${(gcMs - g0) / 1e3}%5.2fs")
    }
    // q40 pipeline with a pluggable materialization for sampled/oriented
    def q40With(mat: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val li = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey"))
      val a = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("pb"))
      val h = md5(concat(col("pa").cast("string"), lit(":"),
        col("pb").cast("string")).cast("binary"))
      val u = (1 to 6)
        .map(i => ascii(substring(h, i, 1)).cast("long") *
          lit(math.pow(128, i - 1).toLong))
        .reduce(_ + _)
      val sampled = mat(a.join(b, Seq("l_orderkey"))
        .filter(col("pa") < col("pb"))
        .select(col("pa"), col("pb"))
        .filter(u % 999983L < 249996L)
        .distinct())
      val deg = sampled.select(col("pa").as("n"))
        .union(sampled.select(col("pb").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val lower = struct(col("da"), col("pa")) < struct(col("db"), col("pb"))
      val oriented = mat(sampled
        .join(deg.select(col("n").as("pa"), col("d").as("da")), Seq("pa"))
        .join(deg.select(col("n").as("pb"), col("d").as("db")), Seq("pb"))
        .select(when(lower, col("pa")).otherwise(col("pb")).as("u"),
          when(lower, col("pb")).otherwise(col("pa")).as("v")))
      val wedges = oriented.select(col("u").as("ta"), col("v").as("tb"))
        .join(oriented.select(col("u").as("tb"), col("v").as("tc")),
          Seq("tb"))
      val tri = wedges.join(
        oriented.select(col("u").as("ta"), col("v").as("tc")),
        Seq("ta", "tc"))
      tri.agg(count(lit(1)).as("sampled_triangles"))
        .crossJoin(broadcast(sampled.agg(count(lit(1)).as("sampled_edges"))))
    }
    val block = Seq("q37_part_pagerank", "q39_graph_triangles",
      "q40_graph_triangles_approx")
    val qs = graft.SparkEntry.queries
    // warm-up: one full block pass (JIT/codegen)
    block.foreach(n => noop(qs(n)(spark, sfDir)))
    println("PROBE graphgc --- as shipped (localCheckpoint, deserialized) ---")
    block.foreach(n => lap(n, () => qs(n)(spark, sfDir)))
    println("PROBE graphgc --- q40 with MEMORY_AND_DISK_SER persists ---")
    val persisted = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    lap("q40_ser", () => q40With { df =>
      val p = df.persist(StorageLevel.MEMORY_AND_DISK_SER)
      p.count(); persisted += p; p
    })
    persisted.foreach(_.unpersist())
    lap("q40_shipped_rerun", () => qs("q40_graph_triangles_approx")(spark, sfDir))
  }

  /** DOULION p-ladder (r9 verdict #4): q40 ships p = 1/4 fixed, and it
    * is the suite's most expensive query — but DOULION's variance is a
    * known function of p (relative std-err ≈ sqrt((1/p³ − 1)/T) for T
    * true triangles, dominated by 1/(p√p) when triangles are plentiful),
    * so smaller p may buy most of the speed at negligible error on this
    * graph. The probe runs the EXACT q40 pipeline (deterministic
    * md5-ascii coin, degree-ordered orientation) on the ALL-TIME
    * co-purchase graph at p ∈ {1, 1/4, 1/16, 1/64} and reports wall
    * time, sampled edges, the 1/p³-scaled estimate, and relative error
    * vs the exact count — the cheapness frontier behind q40's p policy.
    */
  private def triSampleProbe(spark: SparkSession, sfDir: String): Unit = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
    val a = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
    val b = li.select(col("l_orderkey"), col("l_partkey").as("pb"))
    val h = md5(concat(col("pa").cast("string"), lit(":"),
      col("pb").cast("string")).cast("binary"))
    val u = (1 to 6)
      .map(i => ascii(substring(h, i, 1)).cast("long") *
        lit(math.pow(128, i - 1).toLong))
      .reduce(_ + _)
    // (label, threshold over the 999983 modulus, 1/p³ scale)
    val ladder = Seq(
      ("exact  p=1   ", 999983L, 1L),
      ("approx p=1/4 ", 249996L, 64L),
      ("approx p=1/16", 62499L, 4096L),
      ("approx p=1/64", 15625L, 262144L))
    def lap(threshold: Long): (Long, Long, Double) = {
      val (row, dt) = time {
        val sampled = a.join(b, Seq("l_orderkey"))
          .filter(col("pa") < col("pb"))
          .select(col("pa"), col("pb"))
          .filter(u % 999983L < threshold)
          .distinct().localCheckpoint(false)
        val deg = sampled.select(col("pa").as("n"))
          .union(sampled.select(col("pb").as("n")))
          .groupBy("n").agg(count(lit(1)).as("d"))
        val lower = struct(col("da"), col("pa")) < struct(col("db"), col("pb"))
        val oriented = sampled
          .join(deg.select(col("n").as("pa"), col("d").as("da")), Seq("pa"))
          .join(deg.select(col("n").as("pb"), col("d").as("db")), Seq("pb"))
          .select(when(lower, col("pa")).otherwise(col("pb")).as("u"),
            when(lower, col("pb")).otherwise(col("pa")).as("v"))
          .localCheckpoint(false)
        val wedges = oriented.select(col("u").as("ta"), col("v").as("tb"))
          .join(oriented.select(col("u").as("tb"), col("v").as("tc")),
            Seq("tb"))
        val tri = wedges.join(
          oriented.select(col("u").as("ta"), col("v").as("tc")),
          Seq("ta", "tc"))
        tri.agg(count(lit(1)).as("t"))
          .crossJoin(broadcast(sampled.agg(count(lit(1)).as("e"))))
          .collect()(0)
      }
      (row.getLong(0), row.getLong(1), dt)
    }
    lap(249996L) // warm-up: JIT + codegen for the whole pipeline
    val exact = ladder.head
    val (tExact, _, _) = lap(exact._2)
    ladder.foreach { case (label, thr, scale) =>
      val (t, e, dt) = lap(thr)
      val est = t * scale
      val err = (est - tExact).toDouble / tExact
      println(f"PROBE trisample $label: time=$dt%6.2fs edges=$e%9d " +
        f"sampled_tri=$t%9d est=$est%9d err=${err * 100}%+.2f%%")
    }
  }

  private def bloomProbe(spark: SparkSession, sfDir: String,
      mult: Int): Unit = {
    val mBits = 1 << 15
    val k = 3
    val keys = Tables.part(spark, sfDir).filter(col("p_size") <= 5)
      .select(col("p_partkey")).cache()
    val nKeys = keys.count()
    val li = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_extendedprice")
    def rep(m: Int) = (0 until m).map(_ => li).reduce(_ union _)
    val bitmapMd5 = operators.BloomPrefilter
      .buildBitmap(keys, col("p_partkey"), mBits, k).cache()
    bitmapMd5.count()
    val bitmapLong = operators.BloomPrefilter
      .buildBitmapLong(keys, col("p_partkey"), mBits, k).cache()
    bitmapLong.count()
    def semiCount(df: org.apache.spark.sql.DataFrame): Long =
      df.join(keys.hint("shuffle_hash"),
        col("l_partkey") === col("p_partkey"), "left_semi")
        .agg(count(lit(1))).collect()(0).getLong(0)
    val probe1 = rep(1).cache(); val n1 = probe1.count()
    val probeM = rep(mult).cache(); val nM = probeM.count()
    val passed = operators.BloomPrefilter
      .prefilterLong(probe1, col("l_partkey"), bitmapLong, mBits, k).count()
    val matched = semiCount(probe1)
    // warm each timed form once (codegen compile + broadcast build are
    // one-time costs a serving deployment amortizes)
    def plainRun(df: org.apache.spark.sql.DataFrame): Long = semiCount(df)
    def md5Run(df: org.apache.spark.sql.DataFrame): Long =
      semiCount(operators.BloomPrefilter
        .prefilter(df, col("l_partkey"), bitmapMd5, mBits, k))
    def longRun(df: org.apache.spark.sql.DataFrame): Long =
      semiCount(operators.BloomPrefilter
        .prefilterLong(df, col("l_partkey"), bitmapLong, mBits, k))
    plainRun(probeM); md5Run(probeM); longRun(probeM)
    val (m1p, t1p) = time(plainRun(probe1))
    val (mMp, tMp) = time(plainRun(probeM))
    val (mMm, tMm) = time(md5Run(probeM))
    val (mML, tML) = time(longRun(probeM))
    require(mMp == mMm && mMp == mML, "bloom changed join results")
    val fpRate = (passed - matched).toDouble / math.max(n1 - matched, 1L)
    println(f"PROBE bloom keys=$nKeys mBits=$mBits k=$k: " +
      f"pass=${passed.toDouble / n1}%.4f of $n1 rows " +
      f"(matched=${matched.toDouble / n1}%.4f, fpRate=$fpRate%.5f)")
    println(f"PROBE bloom base rows=$n1: plain=$t1p%.2fs")
    println(f"PROBE bloom x$mult (rows=$nM): plain=$tMp%.2fs " +
      f"md5=$tMm%.2fs (x${tMp / tMm}%.2f) " +
      f"long=$tML%.2fs (x${tMp / tML}%.2f)")
  }

  /** Incremental join-view maintenance payoff: the maintained fold
    * (JoinMv.maintain — pass-through anti join + J-slice recompute)
    * timed against the from-scratch rebuild (compact both changelogs,
    * join) on the corpus and an m×-replicated corpus (user_id-strided
    * copies, so keys and join groups scale with m while the batch
    * fraction stays ~2%). What the probe quantifies: the rebuild pays a
    * compaction window + join shuffle over the TABLE at every refresh;
    * the fold pays map-side broadcast tests over the same scans plus a
    * batch-sized recompute — the gap is the whole point of the delta
    * rule, and it must WIDEN with m if the operator's cost really is
    * batch-scaled.
    */
  private def joinMvProbe(spark: SparkSession, sfDir: String,
      mult: Int): Unit = {
    import graft.operators.{CdcMerge, JoinMv}
    // changelog synthesized from lineitem (the big table): key = line id,
    // join col = partkey, "newer version" = higher linenumber per id
    val ev0 = Tables.lineitem(spark, sfDir)
      .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
        col("l_partkey").as("pk"), col("l_quantity").as("qty"),
        col("l_linenumber").as("ver"))
    val dim0 = Tables.part(spark, sfDir)
      .select(col("p_partkey").as("pk"), col("p_brand"))
    def rep(df: org.apache.spark.sql.DataFrame, m: Int,
        idCols: Seq[String]): org.apache.spark.sql.DataFrame =
      (0 until m).map { i =>
        idCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i * 100000000L)))
      }.reduce(_ unionAll _)
    val aKey = Seq("id"); val aOrd = Seq("ver")
    val serv = lit(true)
    val ev = rep(ev0, mult, Seq("id")).localCheckpoint(false)
    val dim = rep(dim0, mult, Seq("pk"))
      .unionAll(dim0) // originals too: replicated rows keep original pk
      .dropDuplicates("pk").withColumn("dver", lit(1L))
      .localCheckpoint(false)
    def cnt(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(count(lit(1))).collect()(0).getLong(0)
    val results = Seq(5L, 50L, 500L).map { denom =>
      val isNew = pmod(col("id"), lit(denom)) === 0
      val aBase = CdcMerge.compact(ev.filter(!isNew), aKey, aOrd)
        .localCheckpoint(false)
      val aBatch = ev.filter(isNew)
      val view = aBase.join(dim, Seq("pk")).localCheckpoint(false)
      def fold() = cnt(JoinMv.maintain(view, aBase, aBatch, aKey, aOrd,
        serv, dim, dim.limit(0), Seq("pk"), Seq("dver"), serv, Seq("pk")))
      def rebuild() = cnt(CdcMerge.compact(ev, aKey, aOrd)
        .join(dim, Seq("pk")))
      fold(); rebuild() // warm codegen + broadcasts
      val (nF, tF) = time(fold())
      val (nR, tR) = time(rebuild())
      require(nF == nR, s"maintained ($nF) != rebuilt ($nR)")
      (denom, nF, tF, tR)
    }
    val nAll = ev.count()
    results.foreach { case (d, n, tF, tR) =>
      println(f"PROBE joinmv x$mult rows=$nAll batch=1/$d (view=$n): " +
        f"fold=$tF%.2fs rebuild=$tR%.2fs (x${tR / tF}%.2f)")
    }
    val f = results.map(_._3)
    println(f"PROBE joinmv batch-scaling: fold ${f(0)}%.2f → ${f(1)}%.2f → " +
      f"${f(2)}%.2f s as batch shrinks 1/5 → 1/50 → 1/500 " +
      f"(rebuild flat ~${results.map(_._4).sum / 3}%.2f s)")
  }

  /** Histogram-sketch payoff: approximate percentiles (two scans + a
    * B-row frame) timed against the exact two-phase rank (OrderedPrefix
    * — one data shuffle to rank) for the same six percentiles, on the
    * corpus and an m×-replicated value column, plus the max relative
    * estimate error vs exact. The sketch's claim is a SHUFFLE-FREE
    * plan: its time should track the scan while the exact form tracks
    * the shuffle.
    */
  private def histQProbe(spark: SparkSession, sfDir: String,
      mult: Int): Unit = {
    import graft.operators.{HistogramQuantile, OrderedPrefix}
    val pcts = Seq(1, 25, 50, 75, 90, 99)
    val base = Tables.orders(spark, sfDir)
      .select((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("v"))
    def rep(m: Int) = (0 until m).map(_ => base).reduce(_ unionAll _)
      .localCheckpoint(false)
    def sketch(df: org.apache.spark.sql.DataFrame): Map[Int, Double] =
      HistogramQuantile.percentiles(df, col("v"), 256, pcts)
        .select(col("pct"), col("estimate")).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    def exact(df: org.apache.spark.sql.DataFrame): Map[Int, Double] = {
      import spark.implicits._
      val ranked = OrderedPrefix.rankAndPrefix(df,
        call_function("div", col("v"), lit(100000L)), Seq(col("v")))
      val t = pcts.map(p => (p, p.toLong)).toDF("pct", "pn")
      ranked.join(broadcast(t.withColumn("keep", lit(1))),
          col("__rank") === call_function("div",
            col("pn") * col("__n") + 99, lit(100L)))
        .select(col("pct"), col("v").cast("double")).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    }
    val d1 = rep(1); val n1 = d1.count()
    sketch(d1); exact(d1) // warm
    val (s1, ts1) = time(sketch(d1))
    val (e1, te1) = time(exact(d1))
    val dM = rep(mult); val nM = dM.count()
    val (_, tsM) = time(sketch(dM))
    val (_, teM) = time(exact(dM))
    val maxErr = pcts.map(p =>
      math.abs(s1(p) - e1(p)) / math.max(math.abs(e1(p)), 1.0)).max
    println(f"PROBE histq rows=$n1: sketch=$ts1%.2fs exact=$te1%.2fs " +
      f"maxRelErr=$maxErr%.5f")
    println(f"PROBE histq x$mult (rows=$nM): sketch=$tsM%.2fs " +
      f"(x${tsM / ts1}%.2f) exact=$teM%.2fs (x${teM / te1}%.2f) — " +
      f"sketch/exact=x${teM / tsM}%.2f at scale")
  }

  /** ANN serving-ladder scaling: the flat int8 scan (quantizedTopK), the
    * PQ ADC scan (pqSearch), and the routed IVF-PQ (ivfPqSearch) timed on
    * the corpus and on an m×-replicated corpus (vec_id-strided copies;
    * queries and codebook seeds stay the base vectors). All three are
    * structurally linear; what the probe quantifies is the CONSTANT —
    * ADC touches 8 code rows per candidate where the flat scan folds
    * 64-element arrays, and IVF-PQ touches only nprobe/nlist of the
    * candidates.
    */
  private def pqProbe(spark: SparkSession, sfDir: String, mult: Int): Unit = {
    val emb = Tables.embeddings(spark, sfDir)
    val stride = emb.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1L
    val subDim = llm.Similarity.embeddingDim(emb) / llm.Similarity.PqSubspaces
    def rep(m: Int) = (0 until m)
      .map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * stride)))
      .reduce(_ union _).cache()
    // The serving/build split mirrors deployment: codes, lists, and the
    // query LUT are the INDEX (built once, amortized over queries); a
    // query pays only the ADC join. Timing pqSearch end-to-end would
    // charge every query the index build — the r9 first-cut probe did,
    // and "flat beats PQ" was the build cost, not the serving cost.
    def lap(corpus: org.apache.spark.sql.DataFrame)
        : (Long, Double, Double, Double, Double) = {
      import org.apache.spark.sql.DataFrame
      val n = corpus.count()
      val (_, flat) = time(llm.Similarity
        .quantizedTopK(corpus.filter(col("vec_id") < 10), corpus, 5)
        .agg(sum(col("rank").cast("long"))).collect(), warmUp = true)
      def built(df: DataFrame): DataFrame = { df.cache(); df.count(); df }
      val wa = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("cdist"), col("k"))
      val ((d, codes, coarse, assign), build) = time {
        val d = built(llm.Similarity.pqSubDists(corpus, subDim))
        val codes = built({
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("vec_id"), col("m")).orderBy(col("dist"), col("k"))
          d.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
            .select(col("vec_id"), col("m"), col("k").as("code"))
        })
        val coarse = d.groupBy("vec_id", "k").agg(sum(col("dist")).as("cdist"))
        val assign = built(coarse.withColumn("__rn", row_number().over(wa))
          .filter(col("__rn") === 1).select(col("vec_id"), col("k").as("list")))
        (d, codes, coarse, assign)
      }
      val lut = built(d.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("m"),
          col("k").as("code"), col("dist").as("ld")))
      val probes = built(coarse.filter(col("vec_id") < 10)
        .withColumn("__rn", row_number().over(wa)).filter(col("__rn") <= 4)
        .select(col("vec_id").as("query_id"), col("k").as("list")))
      val (_, servePq) = time(llm.Similarity.adcTopK(codes, lut, 5)
        .agg(sum(col("rank").cast("long"))).collect(), warmUp = true)
      val cands = assign.join(broadcast(probes), Seq("list"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("vec_id"), col("query_id"))
      val (_, serveIvf) = time(llm.Similarity
        .adcTopK(codes, lut, 5, Some(cands))
        .agg(sum(col("rank").cast("long"))).collect(), warmUp = true)
      Seq(d, codes, assign, lut, probes).foreach(_.unpersist())
      (n, flat, build, servePq, serveIvf)
    }
    val (n1, f1, b1, p1, i1) = lap(rep(1))
    val (nm, fm, bm, pm, im) = lap(rep(mult))
    println(f"PROBE pq base: n=$n1 flat=$f1%.2fs build=$b1%.2fs " +
      f"adc=$p1%.2fs ivf_adc=$i1%.2fs")
    println(f"PROBE pq ${mult}x: n=$nm flat=$fm%.2fs build=$bm%.2fs " +
      f"adc=$pm%.2fs ivf_adc=$im%.2fs")
    println(f"PROBE pq ratios at x$mult: flat x${fm / f1}%.2f " +
      f"build x${bm / b1}%.2f adc x${pm / p1}%.2f ivf_adc x${im / i1}%.2f " +
      f"(adc/flat ${pm / fm}%.2f, ivf_adc/adc ${im / pm}%.2f)")
  }

  /** Grouped rank/prefix (q42's shape): the partitioned-window form gives
    * each GROUP one task — with few groups (segments: 5) most cores idle
    * and each task sorts n/G rows — while rankAndPrefixBy's two-phase
    * plan partitions by (group, value-bucket), so parallelism is
    * G×buckets regardless of G. Equivalence is asserted on a 100k sample
    * first; the timing then measures exactly the few-mega-group case the
    * q42 docstring claims is the window form's scale hazard.
    */
  private def groupedPrefixProbe(spark: SparkSession, rows: Long,
      groups: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    def frame(n: Long) = spark.range(n).select(
      col("id"),
      pmod(hash(col("id")), lit(groups)).cast("string").as("g"),
      pmod(hash(col("id") + 7), lit(1000000)).cast("long").as("v"))
    val df = frame(rows).cache()
    val n = df.count()

    def windowPlan() = {
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))
      df.withColumn("r", row_number().over(w).cast("long"))
        .withColumn("p", sum(col("v")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
    }
    def groupedPlan() = operators.OrderedPrefix.rankAndPrefixBy(
        df, Seq("g"), lit(0L) - (col("v") / lit(1000)).cast("long"),
        Seq(col("v").desc, col("id")), sumExpr = Some(col("v")))
      .withColumnRenamed("__rank", "r").withColumnRenamed("__prefix", "p")

    val small = frame(100000).cache()
    val wS = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))
    val a = small.withColumn("r", row_number().over(wS).cast("long"))
      .withColumn("p", sum(col("v")).over(
        wS.rowsBetween(Window.unboundedPreceding, 0)))
      .select("id", "r", "p").collect().map(_.toSeq).toSet
    val b = operators.OrderedPrefix.rankAndPrefixBy(
        small, Seq("g"), lit(0L) - (col("v") / lit(1000)).cast("long"),
        Seq(col("v").desc, col("id")), sumExpr = Some(col("v")))
      .select(col("id"), col("__rank").as("r"), col("__prefix").as("p"))
      .collect().map(_.toSeq).toSet
    require(a == b, s"plans disagree on the 100k sample: ${a.size} vs ${b.size}")

    val (_, tw) = time(windowPlan().select(max(col("r") + col("p"))).collect(),
      warmUp = true)
    val (_, tb) = time(groupedPlan().select(max(col("r") + col("p"))).collect(),
      warmUp = true)
    println(f"PROBE gprefix: rows=$n groups=$groups window=$tw%.2fs " +
      f"two_phase=$tb%.2fs speedup=x${tw / tb}%.2f")
  }

  /** File-skipping under z-order vs single-dim sort layout: N rows with
    * two independent uniform 20-bit dims are assigned to 1024 "files"
    * either by the top 10 bits of the (x, y) Morton key or by x-range
    * alone (what ORDER BY x gives a writer). Each file's min/max bounding
    * box — exactly what parquet row-group stats expose — is then tested
    * against (a) a 1%×1% box predicate and (b) a y-only 1% predicate, and
    * the probe reports how many files each layout cannot prune. The
    * driver-side work is the 1024-row box table (model-sized, like the
    * IVF centroid collect), never the data.
    */
  private def zorderProbe(spark: SparkSession, rows: Long): Unit = {
    import graft.operators.ZOrder
    val bits = 10
    val side = 1L << 20
    val df = spark.range(rows).select(
      pmod(hash(col("id")), lit(side)).cast("long").as("x"),
      pmod(hash(col("id") + 1234567L), lit(side)).cast("long").as("y"))
    val zFiles = df
      .withColumn("f", shiftright(ZOrder.interleave(bits,
        ZOrder.bucket(col("x"), lit(0L), lit(side - 1), bits),
        ZOrder.bucket(col("y"), lit(0L), lit(side - 1), bits)), bits))
    val linFiles = df
      .withColumn("f", ZOrder.bucket(col("x"), lit(0L), lit(side - 1), bits))
    def boxes(d: org.apache.spark.sql.DataFrame): Array[(Long, Long, Long, Long)] =
      d.groupBy("f").agg(min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1"))
        .collect().map(r => (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
    val (zb, lb) = (boxes(zFiles), boxes(linFiles))
    val q = side / 100 // 1% of each axis
    val (qx0, qx1, qy0, qy1) = (side / 3, side / 3 + q, side / 7, side / 7 + q)
    def touched(bs: Array[(Long, Long, Long, Long)],
        x0: Long, x1: Long, y0: Long, y1: Long): Int =
      bs.count { case (bx0, bx1, by0, by1) =>
        bx0 <= x1 && x0 <= bx1 && by0 <= y1 && y0 <= by1 }
    val zBox = touched(zb, qx0, qx1, qy0, qy1)
    val lBox = touched(lb, qx0, qx1, qy0, qy1)
    val zY = touched(zb, 0L, side - 1, qy0, qy1)
    val lY = touched(lb, 0L, side - 1, qy0, qy1)
    println(f"PROBE zorder: rows=$rows files=${zb.length}/${lb.length} " +
      f"box1pct z=$zBox lin=$lBox | y-only z=$zY lin=$lY " +
      f"(skip rate z=${100.0 * (1 - zY.toDouble / zb.length)}%.1f%% " +
      f"lin=${100.0 * (1 - lY.toDouble / lb.length)}%.1f%%)")
  }

  /** PageRank iteration-cost growth (the q37 loop on a synthetic graph):
    * times 3 exact-integer power iterations at E and mult·E random edges
    * (nodes = E/20, so degree stays constant as the graph grows — the
    * web-graph shape). Each round is one equi-join + partial-agg shuffle
    * keyed by node; time should grow ~linearly in |edges|. The pair-
    * generation stage of q37 is excluded on purpose — this isolates the
    * iterate, the part that multiplies with iteration count.
    */
  private def pagerankProbe(spark: SparkSession, baseEdges: Long,
      mult: Int): Unit = {
    def run(e: Long): Double = {
      val n = math.max(e / 20, 1L)
      val edges = spark.range(e).select(
        pmod(hash(col("id")), lit(n)).cast("long").as("src"),
        pmod(hash(col("id") + 777L), lit(n)).cast("long").as("dst"))
        .localCheckpoint(false)
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val nn = deg.agg(count(lit(1)).as("n"))
      var ranks = deg.crossJoin(broadcast(nn))
        .select(col("src").as("node"), col("deg"),
          expr("1000000000000 div n").as("r"))
      val t0 = System.nanoTime()
      for (_ <- 1 to 3) {
        val contribs = edges.join(ranks, col("src") === col("node"))
          .select(col("dst"), expr("r div deg").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("s"))
        ranks = deg.join(contribs, col("src") === col("dst"), "left")
          .crossJoin(broadcast(nn))
          .select(col("src").as("node"), col("deg"),
            expr("(15 * (1000000000000 div n)) div 100" +
              " + (85 * coalesce(s, 0)) div 100").as("r"))
      }
      ranks.select(max(col("r"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    run(baseEdges) // warm-up
    val t1 = run(baseEdges)
    val tm = run(baseEdges * mult)
    println(f"PROBE pagerank: edges=$baseEdges 3-iter=$t1%.2fs | " +
      f"edges=${baseEdges * mult} 3-iter=$tm%.2fs -> x${tm / t1}%.2f " +
      f"at x$mult edges (linear would be ~x$mult)")
  }

  /** BFS (q55's 3 unrolled min-relax rounds) on a synthetic edge list at
    * ×1 and ×mult edges: per-round cost is the edges⋈frontier join, and
    * the frontier saturates toward the reached component by round 2–3,
    * so the scaling question is whether the round chain stays linear in
    * |edges| (it is equi joins + node-keyed MIN all the way down).
    */
  private def bfsProbe(spark: SparkSession, baseEdges: Long,
      mult: Int): Unit = {
    def run(e: Long): Double = {
      val n = math.max(e / 20, 1L)
      val edges = spark.range(e).select(
        pmod(hash(col("id")), lit(n)).cast("long").as("src"),
        pmod(hash(col("id") + 777L), lit(n)).cast("long").as("dst"))
        .localCheckpoint(false)
      val t0 = System.nanoTime()
      var dist = edges.agg(min(col("src")).as("n"))
        .select(col("n"), org.apache.spark.sql.functions.lit(0).as("d"))
      for (_ <- 1 to 3) {
        val f = dist.select(col("n").as("fn"), col("d").as("fd"))
        dist = dist.select(col("n"), col("d"))
          .union(edges.join(f, col("src") === col("fn"))
            .select(col("dst").as("n"), (col("fd") + 1).as("d")))
          .groupBy(col("n")).agg(min(col("d")).as("d"))
      }
      dist.groupBy(col("d")).count().collect()
      (System.nanoTime() - t0) / 1e9
    }
    run(baseEdges) // warm-up
    val t1 = run(baseEdges)
    val tm = run(baseEdges * mult)
    println(f"PROBE bfs: edges=$baseEdges 3-round=$t1%.2fs | " +
      f"edges=${baseEdges * mult} 3-round=$tm%.2fs -> x${tm / t1}%.2f " +
      f"at x$mult edges (linear would be ~x$mult)")
  }

  /** Rolling distinct (q58's operator) at ×1 and ×mult planted USER
    * cardinality over 30 days: the exact rung's expanded stream is
    * 7 × the (day, user) distinct pairs — it must grow ~linearly with
    * cardinality — while the sketch rung's is capped at days·m rows no
    * matter the cardinality, so its time should go FLAT. This is the
    * measured version of the operator's central claim.
    */
  private def rollingDistinctProbe(spark: SparkSession, baseUsers: Long,
      mult: Int): Unit = {
    import graft.operators.RollingDistinct
    def mk(users: Long) =
      spark.range(users * 3).select(
        expr("DATE '2024-01-01' + CAST(pmod(hash(id), 30) AS INT)")
          .as("day"),
        pmod(hash(col("id") + 31L), lit(users)).cast("long").as("k"))
    def run(users: Long): (Double, Double) = {
      val df = mk(users).localCheckpoint(false)
      val (_, te) = time(RollingDistinct.exact(df, "day", "k", 7)
        .write.format("noop").mode("overwrite").save())
      val (_, ts) = time(RollingDistinct
        .sketchOccupancy(df, "day", "k", 7, 4096)
        .write.format("noop").mode("overwrite").save())
      (te, ts)
    }
    run(baseUsers) // warm-up
    val (e1, s1) = run(baseUsers)
    val (em, sm) = run(baseUsers * mult)
    println(f"PROBE rollingdistinct: users=$baseUsers exact=$e1%.2fs " +
      f"sketch=$s1%.2fs | users=${baseUsers * mult} exact=$em%.2fs " +
      f"sketch=$sm%.2fs -> exact x${em / e1}%.2f sketch x${sm / s1}%.2f " +
      f"at x$mult cardinality (sketch state capped at 30*4096)")
  }

  /** Window-vs-TopKAggregate crossover measurement. Both plans read the
    * same cached input and produce identical top-5 sets (asserted); the
    * printed times are second-lap (post-JIT).
    */
  private def topkProbe(spark: SparkSession, rows: Long, groups: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(rows).select(
      (col("id") % groups).cast("string").as("g"),
      (pmod(hash(col("id")), lit(1000000)).cast("double")).as("score"),
      concat(lit("t"), pmod(col("id"), lit(99991))).as("tag"))
      .cache()
    val n = df.count()

    val w = Window.partitionBy(col("g"))
      .orderBy(col("score").desc, col("tag"))
    def windowPlan() = df
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("g"), col("tag"), col("score"))
    def aggPlan() = df.groupBy("g")
      .agg(functions.TopKAggregate.top_k(col("score"), col("tag"), 5).as("top"))
      .select(col("g"), explode(col("top")).as("t"))
      .select(col("g"), col("t.tag").as("tag"), col("t.score").as("score"))

    // same answer from both plans (modulo ties broken identically)
    val wSet = windowPlan().collect().map(_.toSeq).toSet
    val aSet = aggPlan().collect().map(_.toSeq).toSet
    require(wSet == aSet, s"plans disagree: ${wSet.size} vs ${aSet.size}")

    val (_, tw) = time(windowPlan().count(), warmUp = true)
    val (_, ta) = time(aggPlan().count(), warmUp = true)
    println(f"PROBE topk: rows=$n groups=$groups window=$tw%.2fs " +
      f"topk_agg=$ta%.2fs speedup=x${tw / ta}%.2f")
    df.unpersist()
  }

  /** Measures the RobotsFilter candidate-match stage with the builtin
    * `regexp_like` (caches only the single last-seen pattern → with a
    * per-row-interleaved broadcast rule set it recompiles near every
    * row) against [[graft.functions.CachedRLike]] (each distinct pattern
    * compiles once per executor). Same plan shape either way — synthetic
    * URL corpus × the 6-rule llm_crawl_robots pattern set, counts
    * asserted equal before timing.
    */
  private def robotsProbe(spark: SparkSession, rows: Long): Unit = {
    import spark.implicits._
    val rules = Seq(("disallow", "/items/"), ("allow", "/items/*0/"),
      ("disallow", "/items/*00/$"), ("allow", "/items/9"),
      ("allow", "/items/1"), ("disallow", "/items/1"))
      .toDF("directive", "pattern")
      .select(col("pattern"),
        graft.operators.RobotsFilter.patternRegex(col("pattern")).as("__rx"))
    val urls = spark.range(rows)
      .select(concat(lit("/items/"), (col("id") % 1000).cast("string"),
        lit("/page"), (col("id") % 37).cast("string")).as("path"))
      .cache()
    urls.count()
    val cand = urls.crossJoin(broadcast(rules))
    def builtinCount(): Long =
      cand.filter(expr("regexp_like(path, __rx)")).count()
    def cachedCount(): Long =
      cand.filter(graft.functions.CachedRLike
        .cached_rlike(col("path"), col("__rx"))).count()
    require(builtinCount() == cachedCount(), "match sets disagree")
    val (_, tb) = time(builtinCount(), warmUp = true)
    val (_, tc) = time(cachedCount(), warmUp = true)
    println(f"PROBE robots: rows=$rows rules=6 builtin_rlike=$tb%.2fs " +
      f"cached_rlike=$tc%.2fs speedup=x${tb / tc}%.2f")
    urls.unpersist()
  }

  /** Rounds-to-fixpoint vs data scale for the two iterative graph
    * blocks (r10 verdict #6 — does round count grow with SF?):
    *
    *  - q69's k-core peel: the real order–part co-occurrence graph at
    *    `sfDir`, then `mult` DISJOINT shifted copies of it (same degree
    *    distribution, ×mult data) — peel rounds depend on the degree
    *    structure, which replication preserves, so a rounds climb here
    *    would indicate scale-sensitivity the 8-round cap must track;
    *  - llm_dedup_clusters' CC: min-label propagation steps to the
    *    monotone-sum fixpoint on the real 0.8-Jaccard pair graph and on
    *    the same ×mult disjoint replication (diameter of a union of
    *    copies equals the max copy diameter — the probe verifies the
    *    step count is scale-INVARIANT while wall grows ~linearly).
    *
    * Prints rounds/steps + per-round walls; the k-core loop runs
    * UNCAPPED (cap 64) so the distance between fixpoint and the
    * production cap (8, = the oracle unroll) is measured, not assumed.
    */
  private def graphConvProbe(spark: SparkSession, sfDir: String,
      mult: Int): Unit = {
    // ---- k-core (the q69 graph) ----
    val sl = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.orders(spark, sfDir)
        .withColumn("__y", year(col("o_orderdate")))
        .withColumn("__my", max(col("__y")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .filter(col("__y") === col("__my") &&
          month(col("o_orderdate")) <= 3)
        .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_partkey"))
    val a = sl.select(col("l_orderkey"), col("l_partkey").as("pa"))
    val b = sl.select(col("l_orderkey"), col("l_partkey").as("pb"))
    val half = a.join(b, Seq("l_orderkey"))
      .filter(col("pa") < col("pb"))
      .select(col("pa"), col("pb")).distinct()
    val base = half.select(col("pa").as("src"), col("pb").as("dst"))
      .union(half.select(col("pb").as("src"), col("pa").as("dst")))
      .localCheckpoint(true)
    def kcore(edges0: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      var edges = edges0
      var prevAlive = -1L
      var alive = edges.select(col("src")).distinct().count()
      var rounds = 0
      val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (rounds < 64 && alive != prevAlive) {
        val t0 = System.nanoTime()
        val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 8).select(col("src").as("node"))
        edges = edges
          .join(broadcast(keep), col("src") === col("node"), "left_semi")
          .join(broadcast(keep), col("dst") === col("node"), "left_semi")
          .localCheckpoint(true)
        prevAlive = alive
        alive = edges.select(col("src")).distinct().count()
        walls += (System.nanoTime() - t0) / 1e9
        rounds += 1
      }
      println(f"PROBE graphconv kcore $tag: rounds_to_fixpoint=$rounds " +
        f"alive=$alive total=${walls.sum}%.2fs " +
        s"per_round=[${walls.map(w => f"$w%.2f").mkString(",")}]")
    }
    kcore(base, s"sf=$sfDir x1")
    val shifted = (0 until mult).map(i => base
      .select((col("src") + lit(i.toLong * 1000000000L)).as("src"),
        (col("dst") + lit(i.toLong * 1000000000L)).as("dst")))
      .reduce(_ union _).localCheckpoint(true)
    kcore(shifted, s"sf=$sfDir x$mult")

    // ---- CC (the llm_dedup_clusters pair graph) ----
    val docs = Tables.documents(spark, sfDir)
    val pairs = llm.Dedup.jaccardPairsExact(docs, 0.8).localCheckpoint(true)
    def cc(p: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val ((n, steps), t) = time {
        val (labels, steps) = llm.Dedup.connectedComponentsCounted(p, 64)
        (labels.count(), steps)
      }
      println(f"PROBE graphconv cc $tag: steps_to_fixpoint=$steps " +
        f"nodes=$n total=$t%.2fs")
    }
    cc(pairs, s"sf=$sfDir x1")
    val pShift = (0 until mult).map(i => pairs
      .select((col("doc_a") + lit(i.toLong * 1000000000L)).as("doc_a"),
        (col("doc_b") + lit(i.toLong * 1000000000L)).as("doc_b")))
      .reduce(_ union _).localCheckpoint(true)
    cc(pShift, s"sf=$sfDir x$mult")
  }

  /** Decode throughput for the compressed-source / codec family
    * (GzipInflate, TarEntries+gzip, ZipEntries, PngPixels, GifPixels,
    * JpegPixels) over REAL encoder blobs (JDK Deflater/GZIP/Zip/
    * ImageIO writers, built once on the driver and replicated as rows)
    * at 1× and 10× — the numbers behind the family's "map-only,
    * scan-bound, linear in input" scale claim. Work is per-row decode
    * of the same blob (expressions cache nothing), so rows/s and MB/s
    * are honest per-core decode rates.
    */
  private def mediaProbe(spark: SparkSession, baseRows: Long,
      only: Set[String] = Set.empty): Unit = {
    import graft.functions._
    val payload = ("the quick brown fox jumps over the lazy dog — " * 200)
      .getBytes("UTF-8") // ~9.4 KB, compressible
    def gzipBytes(p: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(p); g.close(); bos.toByteArray
    }
    val gz = gzipBytes(payload)
    // a 4-entry tarball (hand-framed ustar, checksummed), gzipped
    def tarEntry(name: String, data: Array[Byte]): Array[Byte] = {
      val h = new Array[Byte](512)
      def put(s: String, at: Int): Unit = {
        val b = s.getBytes("UTF-8"); System.arraycopy(b, 0, h, at, b.length)
      }
      put(name, 0); put("0000644 ", 100); put("0000000 ", 108)
      put("0000000 ", 116)
      put(("%011o" format data.length) + " ", 124)
      put("00000000000 ", 136); put("        ", 148)
      h(156) = '0'; put("ustar", 257); h(262) = 0; put("00", 263)
      var sum = 0L
      h.foreach(b => sum += b & 0xff)
      put(("%06o" format sum) + "  ", 148)
      h ++ data ++ new Array[Byte](
        (512 - data.length % 512) % 512)
    }
    val tarGz = gzipBytes(
      (0 until 4).map(i => tarEntry(s"f$i.txt", payload)).reduce(_ ++ _) ++
        new Array[Byte](1024))
    val zip = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      for (i <- 0 until 4) {
        z.putNextEntry(new java.util.zip.ZipEntry(s"f$i.txt"))
        z.write(payload); z.closeEntry()
      }
      z.close(); bos.toByteArray
    }
    // a 64×64 RGB PNG (filter-0 scanlines, real Deflater, real CRCs)
    val png = {
      val raw = new Array[Byte](64 * (1 + 64 * 3))
      val rng = new scala.util.Random(3)
      rng.nextBytes(raw)
      for (r <- 0 until 64) raw(r * 193) = 0
      val d = new java.util.zip.Deflater(6)
      d.setInput(raw); d.finish()
      val comp = new Array[Byte](raw.length + 1024)
      val m = d.deflate(comp)
      val zl = java.util.Arrays.copyOf(comp, m)
      def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
        val c = new java.util.zip.CRC32()
        c.update(typ.getBytes); c.update(data)
        java.nio.ByteBuffer.allocate(12 + data.length)
          .putInt(data.length).put(typ.getBytes).put(data)
          .putInt(c.getValue.toInt).array()
      }
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(64).putInt(64).put(8.toByte).put(2.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte).array()
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
        chunk("IHDR", ihdr) ++ chunk("IDAT", zl) ++
        chunk("IEND", Array.empty[Byte])
    }
    // real JPEGs via the JDK writer: 64×64 gray + color
    def jdkJpeg(gray: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        if (gray) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
        else java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val rng = new scala.util.Random(7)
      for (y <- 0 until 64; x <- 0 until 64)
        img.setRGB(x, y, rng.nextInt(1 << 24))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", bos)
      bos.toByteArray
    }
    val jpegG = jdkJpeg(gray = true)
    val jpegC = jdkJpeg(gray = false)
    // a 100×100 uniform GIF (clear-per-literal LZW; full decoder path)
    val gif = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      def b(v: Int): Unit = out += v.toByte
      "GIF89a".getBytes.foreach(out += _)
      b(100); b(0); b(100); b(0); b(0x86); b(0); b(0)
      for (_ <- 0 until 128) { b(10); b(20); b(30) }
      b(0x2c); b(0); b(0); b(0); b(0); b(100); b(0); b(100); b(0); b(0)
      b(7)
      val data = Array.fill(10000)(Seq(0x80, 0x05)).flatten :+ 0x81
      data.grouped(255).foreach { g => b(g.length); g.foreach(b) }
      b(0); b(0x3b)
      out.toArray
    }
    // real zstd frames via zstd-jni (the reference C library Spark
    // ships for parquet — runtime-classpath only, a probe dependency)
    def zstdBytes(p: Array[Byte]): Array[Byte] = {
      val ctx = new com.github.luben.zstd.ZstdCompressCtx()
      try { ctx.setLevel(3); ctx.setChecksum(true); ctx.compress(p) }
      finally ctx.close()
    }
    val zst = zstdBytes(payload)
    // a 2 MB structured shard (multi-block: >128 KB blocks, treeless/
    // repeat entropy modes hot) — the honest decode-MB/s number; rows
    // are scaled down 100× so both row counts stay comparable work
    val zstBig = zstdBytes {
      val words = ("the quick brown fox jumps over the lazy dog " * 4)
        .split(" ")
      val rng = new scala.util.Random(5)
      val sb = new StringBuilder(2200000)
      while (sb.length < 2097152)
        sb.append(words(rng.nextInt(words.length))).append(' ')
          .append(rng.nextInt(1000)).append(' ')
      sb.toString.take(2097152).getBytes("UTF-8")
    }
    val tarZst = zstdBytes(
      (0 until 4).map(i => tarEntry(s"f$i.txt", payload)).reduce(_ ++ _) ++
        new Array[Byte](1024))
    // real LZ4 frame via lz4-java
    val lz4 = {
      val bos = new java.io.ByteArrayOutputStream()
      val o = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
      o.write(payload); o.close(); bos.toByteArray
    }
    // real bzip2 via commons-compress (r13: the Wikipedia-dump codec)
    def bz2Bytes(p: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val o = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorOutputStream(bos, 9)
      o.write(p); o.close(); bos.toByteArray
    }
    val bz2 = bz2Bytes(payload)
    // real xz via xz-java (r13: the other dump codec; 2 MB shard lane
    // exercises multi-chunk LZMA2 at honest MB/s)
    def xzBytes(p: Array[Byte], preset: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val o = new org.tukaani.xz.XZOutputStream(bos,
        new org.tukaani.xz.LZMA2Options(preset))
      o.write(p); o.close(); bos.toByteArray
    }
    val xz = xzBytes(payload, 6)
    val xzBig = xzBytes({
      val words = ("the quick brown fox jumps over the lazy dog " * 4)
        .split(" ")
      val rng = new scala.util.Random(5)
      val sb = new StringBuilder(2200000)
      while (sb.length < 2097152)
        sb.append(words(rng.nextInt(words.length))).append(' ')
          .append(rng.nextInt(1000)).append(' ')
      sb.toString.take(2097152).getBytes("UTF-8")
    }, 6)
    // real brotli via frozen libbrotli blobs (r14: no JVM brotli encoder
    // exists on this classpath — the blobs are libbrotli q9 output over
    // a rot13 9.4 KB payload and a 2 MB structured shard, stored as
    // resources; rot13 keeps the streams static-dictionary-free, the
    // documented decode bound)
    def probeHexResource(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/probe/$name.hex")
      require(in != null, s"missing /probe/$name.hex")
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      finally in.close()
    }
    val brSmall = probeHexResource("br")
    val brBig = probeHexResource("br_2mb")
    // q11 English prose: the static-DICTIONARY decode path (r15) —
    // word + transform references dominate this stream
    val brDict = probeHexResource("br_dict")
    // a chunked HTTP/1.1 response around the payload (r14 verdict #6:
    // the chunked-decode path had no ×10 linearity measurement) — the
    // body rides 512-byte ASCII-hex-sized chunks with a trailer, the
    // shape llm_crawl_http's lane 1 exercises
    val httpBlob = {
      val sb = new java.lang.StringBuilder
      sb.append("HTTP/1.1 200 OK\r\nServer: probe\r\n")
        .append("Transfer-Encoding: chunked\r\n\r\n")
      var off = 0
      while (off < payload.length) {
        val k = math.min(512, payload.length - off)
        sb.append(Integer.toHexString(k)).append("\r\n")
          .append(new String(payload, off, k, "ISO-8859-1")).append("\r\n")
        off += k
      }
      sb.append("0\r\nX-Meta: done\r\n\r\n")
      sb.toString.getBytes("ISO-8859-1")
    }
    // a complete single-page PDF around the payload text (r16: the
    // pdf_text lane — xref walk + content interpreter + WinAnsi decode
    // throughput over a ~1 MB content stream)
    val pdfBlob = {
      val ascii = new String(payload, "ISO-8859-1")
        .map(ch => if (ch >= ' ' && ch <= '~') ch else ' ')
        .replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
      val content = s"BT /F1 12 Tf ($ascii) Tj ET"
      val objs = Seq(
        "<< /Type /Catalog /Pages 2 0 R >>",
        "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        "<< /Type /Page /Parent 2 0 R /Contents 4 0 R" +
          " /Resources << /Font << /F1 5 0 R >> >> >>",
        s"<< /Length ${content.length} >>\nstream\n$content\nendstream",
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica" +
          " /Encoding /WinAnsiEncoding >>")
      val sb = new StringBuilder("%PDF-1.4\n")
      val offs = objs.indices.map { i =>
        val o = sb.length
        sb.append(s"${i + 1} 0 obj\n${objs(i)}\nendobj\n"); o
      }
      val xref = sb.length
      sb.append(s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n")
      offs.foreach(o => sb.append(f"$o%010d 00000 n \n"))
      sb.append(s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\n" +
        s"startxref\n$xref\n%%EOF")
      sb.toString.getBytes("ISO-8859-1")
    }
    // an HTML page around the payload text (r13: extraction throughput)
    val htmlBlob = ("<!DOCTYPE html><html><head><script>var x=1<2;" +
      "</script><style>p{}</style></head><body><h1>H</h1><p>" +
      new String(payload, "UTF-8").replace("&", "&amp;")
        .replace("<", "&lt;").replace(">", "&gt;") +
      "</p><!-- c --></body></html>").getBytes("UTF-8")
    // a 128×128 flat VP8L (the five-single-symbol-tree template the
    // driver query uses; literal pixels cost zero data bits, so the
    // probe measures the header/transform-free pixel loop)
    val webp = {
      val w = 128; val h = 128; val r = 10; val g = 200; val b = 30
      val word = (w - 1) | ((h - 1) << 14)
      val pl = Array[Int](0x2f, word & 0xff, (word >> 8) & 0xff,
        (word >> 16) & 0xff, (word >> 24) & 0xff,
        40 + (g % 4) * 64, g / 4 + 64, 1 + (r % 128) * 2,
        r / 128 + 10 + (b % 16) * 16, b / 16 + 208, 255, 2, 0)
        .map(_.toByte)
      val bb = java.nio.ByteBuffer.allocate(12 + 8 + pl.length + 1)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(4 + 8 + pl.length + 1)
        .put("WEBP".getBytes).put("VP8L".getBytes).putInt(pl.length)
        .put(pl).put(0.toByte)
      bb.array()
    }
    val cases: Seq[(String, Array[Byte],
        org.apache.spark.sql.Column => org.apache.spark.sql.Column)] = Seq(
      ("gzip", gz, c => octet_length(GzipInflate.gzip_inflate(c))),
      ("targz", tarGz,
        c => size(TarEntries.tar_entries(GzipInflate.gzip_inflate(c)))),
      ("zip", zip, c => size(ZipEntries.zip_entries(c))),
      ("zstd", zst, c => octet_length(ZstdInflate.zstd_inflate(c))),
      ("zstd_2mb", zstBig, c => octet_length(ZstdInflate.zstd_inflate(c))),
      ("tarzst", tarZst,
        c => size(TarEntries.tar_entries(ZstdInflate.zstd_inflate(c)))),
      ("lz4", lz4, c => octet_length(Lz4Inflate.lz4_inflate(c))),
      ("bz2", bz2, c => octet_length(Bz2Inflate.bz2_inflate(c))),
      ("xz", xz, c => octet_length(XzInflate.xz_inflate(c))),
      ("xz_2mb", xzBig, c => octet_length(XzInflate.xz_inflate(c))),
      ("br", brSmall, c => octet_length(BrotliInflate.brotli_inflate(c))),
      ("br_2mb", brBig,
        c => octet_length(BrotliInflate.brotli_inflate(c))),
      ("br_dict", brDict,
        c => octet_length(BrotliInflate.brotli_inflate(c))),
      ("html", htmlBlob, c => length(HtmlText.html_text(c))),
      ("pdf", pdfBlob, c => length(PdfText.pdf_text(c))),
      ("sniff", htmlBlob,
        c => length(WhatwgDecode.whatwg_decode(c, lit("iso-8859-1")))),
      ("http", httpBlob,
        c => octet_length(HttpBody.http_body(c).getField("body"))),
      ("png", png, c => PngPixels.png_pixels(c).getField("n_px")),
      ("gif", gif, c => GifPixels.gif_pixels(c).getField("n_px")),
      ("webp", webp, c => WebpPixels.webp_pixels(c).getField("n_px")),
      ("jpeg_gray", jpegG, c => JpegPixels.jpeg_pixels(c).getField("n_px")),
      ("jpeg_rgb", jpegC, c => JpegPixels.jpeg_pixels(c).getField("n_px")))
    cases.filter(c => only.isEmpty || only(c._1))
        .foreach { case (name, blob, decode) =>
      val mb = blob.length / 1048576.0
      // the 2 MB shard lane runs 100× fewer rows (same order of decoded
      // bytes as the small lanes at their row counts)
      val rowsBase = if (name.endsWith("_2mb")) baseRows / 100 else baseRows
      for (n <- Seq(rowsBase, rowsBase * 10)) {
        // the id-guarded CASE keeps the blob expression NON-FOLDABLE:
        // without it Catalyst constant-folds the whole decode once at
        // plan time and the probe measures nothing
        val df = spark.range(n)
          .select(when(col("id") >= 0, lit(blob)).as("b"))
        df.select(sum(decode(col("b")))).collect() // warm-up + correctness
        val (_, t) = time(df.select(sum(decode(col("b")))).collect())
        println(f"PROBE media $name rows=$n blob=${blob.length}%d " +
          f"time=$t%.2fs rate=${n / t}%.0f rows/s " +
          f"${n * mb / t}%.1f MB/s")
      }
    }
  }
}
