package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  * Failed queries are recorded as -1 and excluded from the total, so a
  * time-to-throw can never masquerade as a slow success.
  *
  * SELF-ATTRIBUTING (r8 verdict #1): a ×44 reading on one query in the
  * official run was undecidable between regression and environment from
  * the artifact alone. Every lap therefore records its own telemetry —
  * GC-time delta, shuffle read/write bytes, spill bytes, summed task
  * peak-execution-memory, post-lap heap — and a fixed CONTROL query is
  * re-timed every [[ControlEvery]] queries (with the cache's mem/disk
  * residency sampled at the same instant), so the three candidate causes
  * separate in the data:
  *   - time-windowed co-tenant contention → the control inflates in the
  *     same window while telemetry stays flat;
  *   - memory pressure → GC deltas spike, heap rides the -Xmx ceiling,
  *     cached blocks migrate mem→disk in the control samples;
  *   - a real plan regression → the query inflates while its own GC and
  *     the surrounding controls stay flat.
  * The full telemetry lives in bench_full.json (committed); stdout gets
  * one compact "bench_controls" line that survives capture truncation.
  */
object Bench {

  /** Accumulates cluster-wide work counters from completed stages.
    * Values are SUMS over tasks (StageInfo.taskMetrics is the aggregated
    * view), so peakExec is the summed per-task peak — a pressure signal,
    * not a true high-water mark.
    */
  private final class WorkListener extends SparkListener {
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val spill = new java.util.concurrent.atomic.AtomicLong
    val peakExec = new java.util.concurrent.atomic.AtomicLong
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peakExec.addAndGet(m.peakExecutionMemory)
      }
    }
    def snap(): (Long, Long, Long, Long) =
      (shufWrite.get, shufRead.get, spill.get, peakExec.get)
  }

  /** One timed lap with its attribution telemetry. */
  private final case class Lap(sec: Double, gcMs: Long, shufWriteB: Long,
      shufReadB: Long, spillB: Long, peakExecB: Long, heapUsedB: Long)

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  private val ControlEvery = 8

  /** The committed sf0.1 anchor, relative to the working directory. */
  val AnchorFile = "bench_full.json"

  /** Per-query seconds: the `queries` object of a Bench artifact (the
    * first of its one-line JSON objects; its values hold no braces).
    */
  def anchorLaps(path: String): Map[String, Double] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    val key = "\"queries\":{"
    val at = txt.indexOf(key)
    require(at >= 0, s"$path has no queries object")
    val body = txt.substring(at + key.length, txt.indexOf("}", at))
    "\"([^\"]+)\":(-?[0-9.]+)".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** `f`, or `default` after naming the failure on stderr. */
  private def orElse[A](what: String, default: A)(f: => A): A =
    try f
    catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] $what FAILED: $e")
        default
    }

  def main(args: Array[String]): Unit = {
    val sfDir = Sessions.sfDir
    val cpus = Sessions.defaultCpus
    val spark = Sessions.local(cpus)
    val work = new WorkListener
    spark.sparkContext.addSparkListener(work)
    def fmt(v: Double): String =
      "%.4f".formatLocal(java.util.Locale.ROOT, v)
    def loadAvg1m(): Double =
      orElse("load average read", -1.0)(java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble)
    def ownCpuSec(): Double =
      orElse("own cpu read", -1.0) {
        // /proc/self/stat fields 14/15 (utime, stime) in clock ticks;
        // comm (field 2) can contain spaces but is parenthesized — split
        // after the closing paren
        val s = java.nio.file.Files.readString(
          java.nio.file.Paths.get("/proc/self/stat"))
        val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
        (rest(11).toLong + rest(12).toLong) / 100.0
      }
    // Scheduler-latency control: 8 sequential tiny jobs over a 32-row
    // range — near-zero work, so its time ≈ 8 × (job submit + schedule +
    // collect round-trip), the term co-tenant load multiplies. Kept off
    // the SQL path (no plan cache interaction with the workload).
    def schedChain(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < 8) { spark.sparkContext.range(0, 32, 1, 4).count(); i += 1 }
      (System.nanoTime() - t0) / 1e9
    }
    // ---- COLD-SCAN LANE (r17, guide §6) ------------------------------
    // One uncached noop lap per base table, run before ANYTHING warms the
    // session: the suite's timed laps run against cached tables (the
    // warmed-warehouse protocol below), so parquet scan / column pruning /
    // predicate pushdown work was invisible to the gate — this lane makes
    // it measurable. "Cold" = Spark-level (no CacheManager entry, fresh
    // JVM); OS page cache is whatever the host has, identical for every
    // round. The extra lineitem lap scans ONE pruned column under a
    // pushed l_shipdate range, so ReadSchema/PushedFilters regressions
    // show up as a number, not just a plan diff. Recorded as its own
    // stdout line and bench_full.json field — NOT in `queries` and NOT in
    // any total, so every primary gate number keeps its shape.
    val coldScanJson: String = {
      def lapCold(name: String,
          df: => org.apache.spark.sql.DataFrame): Option[(String, Double)] =
        orElse(s"cold scan $name", Option.empty[(String, Double)]) {
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          Some(name -> ((System.nanoTime() - t0) / 1e9))
        }
      val full = Tables.All.flatMap { t =>
        lapCold(t, if (t == "events") Tables.events(spark, sfDir)
          else Tables.load(spark, sfDir, t))
      }
      val pruned = lapCold("lineitem__pruned_filtered",
        Tables.load(spark, sfDir, "lineitem")
          .filter(org.apache.spark.sql.functions.col("l_shipdate") >=
            java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
          .select(org.apache.spark.sql.functions.col("l_extendedprice")))
      (full ++ pruned).map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    }
    println(s"""{"metric":"coldscan","unit":"sec","scans":$coldScanJson}""")
    schedChain(); schedChain() // warm the sched control itself
    // Untimed warm-up: JVM/codegen/classloading, plus hot-cache the tables
    // — CacheManager matches later identical scans by logical plan, so the
    // timed queries run against memory like a warmed warehouse. (At 100 TB
    // you cache dims + hot partitions, not the full fact; at bench scale
    // everything fits.)
    Tables.preloadAll(spark, sfDir)
    // Deterministic sorted order + a per-query untimed first lap + best of
    // two timed laps: hash-Map iteration order with one global warm-up made
    // whichever query ran first eat all JIT/codegen warm-up (q03 measured
    // 4x its twin q02), and a single timed lap still caught GC/OS noise
    // spikes. Min-of-2 post-warm-up is stable and attributable across runs.
    // Action = noop-sink write, NOT count(): under `count()` Catalyst's
    // ColumnPruning deletes every projected column and EliminateSorts drops
    // the final orderBy, so map-only queries (text scoring, normalization,
    // byte stats) were being timed as bare cached scans. The noop sink
    // consumes every column of every row — the full real plan runs — while
    // writing nothing (the standard Spark benchmarking pattern).
    // Attribution note: llm_dedup_survivors reuses the session-memoized
    // components stage (LlmQueries.dedupComponents — computed during its
    // warm-up lap), so its number is the MARGINAL cost of the survivors
    // view; the full cold pairs+components pipeline is what
    // llm_dedup_clusters measures (it bypasses the memo by design).
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def lap(fn: () => org.apache.spark.sql.DataFrame): Lap = {
      GraftSparkBridge.drainListenerBus(spark.sparkContext)
      val gc0 = gcMillis(); val (w0, r0, s0, p0) = work.snap()
      val t0 = System.nanoTime()
      run(fn())
      val sec = (System.nanoTime() - t0) / 1e9
      GraftSparkBridge.drainListenerBus(spark.sparkContext)
      val rt = Runtime.getRuntime
      val (w1, r1, s1, p1) = work.snap()
      Lap(sec, gcMillis() - gc0, w1 - w0, r1 - r0, s1 - s0, p1 - p0,
        rt.totalMemory - rt.freeMemory)
    }
    // Fixed control: a star-join + agg over the CACHED tables, warmed
    // once, re-timed every ControlEvery queries. It rides the same cached
    // scans the workload does, so both contention (its time inflates) and
    // cache eviction (cached bytes migrate mem→disk in the paired storage
    // sample) show up exactly where they would hurt the real queries.
    //
    // r9 finding: this single-job control is BLIND to the contention class
    // that actually produced the r8 bimodal anomaly. A deliberately
    // contended run (sbt test suite sharing the machine) reproduced the
    // driver's signature — multi-round queries (chunk_overlap_plan ×3.6,
    // bpe_train_batched ×3.4) inflated while THIS control sat flat at
    // ~0.4 s: one short saturating job still gets its cores, but a chain
    // of small scheduler round-trips pays the co-tenant tax on every hop.
    // Two additions close the blind spot:
    //  - a SECOND control (`ctl_sched`) that is a chain of 8 tiny
    //    blocking jobs — the shape that magnifies contention — so the
    //    subset-inflation class is visible in-artifact;
    //  - OS-level attribution per sample: /proc/loadavg 1-min load vs
    //    THIS JVM's own cpu-seconds delta (utime+stime from
    //    /proc/self/stat). load >> own-cpu ⇒ a co-tenant exists, from
    //    the artifact alone, no same-machine rerun needed.
    val controlDf = {
      import org.apache.spark.sql.functions._
      Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))
    }
    run(controlDf); run(controlDf) // warm: JIT + cached-scan match
    // (pos, sec, cachedMemMB, cachedDiskMB, cumGcSec, schedSec, load1m,
    // ownCpuSec, busDepth, cleanerRefs): pos = how many workload queries
    // had completed when the sample was taken. ownCpuSec is CUMULATIVE —
    // consumers diff neighbors and compare against wall × avail_procs
    // and load1m to separate "we were busy" from "someone else was".
    // busDepth/cleanerRefs (r9 verdict #2) probe the driver-internal-
    // accumulation hypothesis for the late-run sched-×9 signature: a
    // backlogged listener bus stalls every drainListenerBus() in the lap
    // protocol, and a monotone cleaner-reference climb is the "driver
    // fills up after ~170 queries" signature — both previously invisible.
    final case class Ctl(pos: Int, sec: Double, memMB: Long, diskMB: Long,
        gcSec: Double, schedSec: Double, load1m: Double, ownCpu: Double,
        busDepth: Long, cleanerRefs: Long)
    val controls = scala.collection.mutable.ArrayBuffer.empty[Ctl]
    def sampleControl(pos: Int): Unit = {
      val t0 = System.nanoTime()
      run(controlDf)
      val sec = (System.nanoTime() - t0) / 1e9
      val schedSec = schedChain()
      val infos = spark.sparkContext.getRDDStorageInfo
      controls += Ctl(pos, sec, infos.map(_.memSize).sum >> 20,
        infos.map(_.diskSize).sum >> 20, gcMillis() / 1e3,
        schedSec, loadAvg1m(), ownCpuSec(),
        GraftSparkBridge.listenerQueueDepth(spark.sparkContext),
        GraftSparkBridge.cleanerRefCount(spark.sparkContext))
    }
    sampleControl(0)
    // Per-query LAPS are recorded in the artifact (not just the min): a
    // multi-round iterative query (the CC loop) is a chain of blocking
    // jobs, so one scheduler/GC stall multiplies across rounds and a
    // single bad lap can misread as a plan regression — recording the
    // spread makes environmental variance visible where the gate reads
    // it. When the two timed laps disagree by >1.3x, a third runs: min-of-3
    // bounds the reported number's spread without paying a third lap for
    // the ~60 stable queries.
    // Seeded deterministic SHUFFLE of execution order (r9 verdict #2):
    // alphabetical order coupled whole query families to whatever the
    // machine does late in the run — the stream_*/q6x families ate the
    // contended tail window two rounds running, reading as family-wide
    // regressions. A recorded-seed shuffle decorrelates name from
    // position (any contention window now hits a random cross-section),
    // while staying replayable: the same seed reproduces the order.
    val benchSeed = sys.env.getOrElse("SPARK_GRAFT_BENCH_SEED", "10").toLong
    // SPARK_GRAFT_BENCH_ONLY=a,b,c — targeted quiet re-laps (regression
    // adjudication) without the full-suite wall cost; the anchor file is
    // NEVER written from a subset run (guarded below), so a partial total
    // cannot clobber the committed full-suite anchor.
    val onlySet: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val benched = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => onlySet.isEmpty || onlySet(q._1))
    val execOrder = new scala.util.Random(benchSeed).shuffle(benched)
    var done = 0
    val results: Seq[(String, Double, Seq[Lap])] =
      execOrder.map { case (name, fn) =>
        // stderr marker: lets any log noise (codegen fallbacks,
        // accumulator-cleanup races) be attributed to a query by
        // timestamp — the r14 accumulator-tail triage had no anchor
        System.err.println(s"[bench] start $name")
        val r = try {
          run(fn(spark, sfDir)) // warm-up lap: JIT + codegen + shuffle
          def one(): Lap = lap(() => fn(spark, sfDir))
          var laps = Seq(one(), one())
          def secs = laps.map(_.sec)
          if (secs.max > 1.3 * secs.min) laps = laps :+ one()
          // r5 finding: a single 10s stall (llm_ngram_profile read 10.16
          // vs 0.78/0.84) blows far past the 1.3x trigger — when ANY lap
          // exceeds 2x the min, keep lapping (up to 5 total) until the
          // two best laps agree within 1.3x, so one OS/GC outlier can
          // never be half of a min-of-2 readout
          while (laps.size < 5 &&
              secs.sorted.take(2).reverse.head > 1.3 * secs.min &&
              secs.max > 2.0 * secs.min)
            laps = laps :+ one()
          (name, secs.min, laps)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            (name, -1.0, Seq.empty[Lap])
        }
        done += 1
        if (done % ControlEvery == 0) sampleControl(done)
        r
      }
    sampleControl(done)
    // r11 verdict #5 — WINDOW-DECORRELATED ANCHOR: the suite total is
    // dominated by its most expensive queries, and a ±15 % machine
    // window hitting one of them inflates the committed anchor even
    // under min-of-2, because both laps sit back-to-back INSIDE the
    // same window (four same-code laps spanned 158.9–205.9 s in r11).
    // The most expensive queries are therefore re-lapped at the END of
    // the run — a different time window — and the reported value is the
    // min across BOTH visits: a window now has to span the whole run to
    // bias a top query. The revisit laps are appended to the laps
    // artifact (visible protocol), and the names are recorded under
    // "revisit" in env.
    //
    // r12 verdict #6 — the fixed top-20 left ~40 % of wall in the
    // single-window tail, and that is exactly where the r12
    // driver-window noise (×2.7–4 on sub-second rows) landed. The
    // revisit set is now SHARE-DRIVEN: the smallest descending-cost
    // prefix covering [[RevisitShare]] of total measured wall (with the
    // old top-20 as a floor), so the un-revisited residual is bounded
    // at ≤ 1−share of wall by construction rather than by query count.
    val RevisitShare = 0.80
    val RevisitTopFloor = 20
    val okResults = results.filter(_._2 >= 0).sortBy(-_._2)
    val totalWall = okResults.map(_._2).sum
    val revisitNames: Set[String] = {
      var acc = 0.0
      val byShare = okResults.takeWhile { r =>
        val take = acc < RevisitShare * totalWall
        acc += r._2
        take
      }.map(_._1)
      (byShare ++ okResults.take(RevisitTopFloor).map(_._1)).toSet
    }
    val revisited: Map[String, Seq[Lap]] =
      execOrder.filter(q => revisitNames(q._1)).map { case (name, fn) =>
        val extra =
          try Seq(lap(() => fn(spark, sfDir)), lap(() => fn(spark, sfDir)))
          catch {
            case NonFatal(e) =>
              System.err.println(
                s"[bench] revisit $name FAILED: ${e.getMessage}")
              Seq.empty[Lap]
          }
        name -> extra
      }.toMap
    val finalResults: Seq[(String, Double, Seq[Lap])] =
      results.map { case (name, v, laps) =>
        val extra = revisited.getOrElse(name, Seq.empty)
        if (v < 0 || extra.isEmpty) (name, v, laps ++ extra)
        else (name, math.min(v, extra.map(_.sec).min), laps ++ extra)
      }
    sampleControl(done + 1) // bracket the revisit block too
    // r14 verdict #5 — WINDOW FLAG: the anchor-vs-driver delta kept
    // needing manual control-series reading (the r14 driver run sat 15 %
    // over the committed anchor with a 17.8 s control spike mid-run).
    // Surface the attribution in the artifact itself: p95/median over
    // the fixed-control laps — ~1.0 on a quiet machine, >1.5 means some
    // window of the run was contended and absolute totals from it
    // should not be compared against quiet anchors.
    val windowFlag: Double = {
      val s = controls.map(_.sec).sorted
      if (s.isEmpty || s(s.size / 2) <= 0) 0.0
      else {
        val p95 = s(math.min(s.size - 1,
          math.ceil(0.95 * s.size).toInt - 1))
        p95 / s(s.size / 2)
      }
    }
    // r15 verdict #8 — AUTO-QUIET RE-LAP: the r15 driver bench ran in a
    // contended window (window_flag 2.77) and the artifact still led
    // with the inflated total. When the flag fires, the queries sitting
    // far above the COMMITTED anchor are re-lapped once more at the very
    // end (a third time window) and a corrected secondary total is
    // emitted beside the honest primary — the flag attributes, the
    // requiet quantifies.
    val prevAnchor: Map[String, Double] =
      orElse(s"anchor read of $AnchorFile", Map.empty[String, Double])(
        anchorLaps(AnchorFile))
    val requieted: Map[String, Double] =
      if (windowFlag <= 1.5 || prevAnchor.isEmpty || onlySet.nonEmpty)
        Map.empty
      else {
        val fnByName = SparkEntry.queries
        val worst = finalResults
          .filter { case (name, v, _) =>
            v > 0.5 && prevAnchor.get(name).exists(pv =>
              pv > 0 && v > 1.5 * pv)
          }
          .sortBy(-_._2).take(24)
        worst.map { case (name, v, _) =>
          System.err.println(s"[bench] requiet $name")
          val best =
            try math.min(lap(() => fnByName(name)(spark, sfDir)).sec,
              lap(() => fnByName(name)(spark, sfDir)).sec)
            catch {
              case NonFatal(e) =>
                System.err.println(
                  s"[bench] requiet $name FAILED: ${e.getMessage}")
                v
            }
          name -> math.min(v, best)
        }.toMap
      }
    if (requieted.nonEmpty) sampleControl(done + 2)
    // Emission maps are name-sorted regardless of execution order (stable
    // cross-round diffs); the executed order is recorded separately.
    val sorted = finalResults.sortBy(_._1)
    val qs = sorted.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val lapsJson = sorted.map { case (k, _, ls) =>
      "\"" + k + "\":" + ls.map(l => fmt(l.sec)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Per-lap telemetry, file-artifact only (too big for stdout capture):
    // [sec, gc_ms, shuffle_write_b, shuffle_read_b, spill_b,
    //  sum_task_peak_exec_b, heap_used_mb] per lap.
    val telemetryJson = sorted.map { case (k, _, ls) =>
      "\"" + k + "\":" + ls.map(l =>
        s"[${fmt(l.sec)},${l.gcMs},${l.shufWriteB},${l.shufReadB},${l.spillB},${l.peakExecB},${l.heapUsedB >> 20}]")
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val controlsJson = controls.map { c =>
      s"[${c.pos},${fmt(c.sec)},${c.memMB},${c.diskMB},${fmt(c.gcSec)},${fmt(c.schedSec)},${fmt(c.load1m)},${fmt(c.ownCpu)},${c.busDepth},${c.cleanerRefs}]"
    }.mkString("[", ",", "]")
    val envJson = {
      val rt = Runtime.getRuntime
      val rev = revisitNames.toSeq.sorted.map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val covered =
        okResults.filter(r => revisitNames(r._1)).map(_._2).sum
      val share = if (totalWall > 0) covered / totalWall else 0.0
      val rq = requieted.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"heap_max_mb":${rt.maxMemory >> 20},"cpus":"$cpus","avail_procs":${rt.availableProcessors},"bench_seed":$benchSeed,"window_flag":${fmt(windowFlag)},"revisit_share_target":$RevisitShare,"revisit_share_actual":${fmt(share)},"revisit":$rev,"requieted":$rq}"""
    }
    val orderJson =
      execOrder.map(q => "\"" + q._1 + "\"").mkString("[", ",", "]")
    val total = finalResults.map(_._2).filter(_ >= 0).sum
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"laps":$lapsJson,"telemetry":$telemetryJson,"controls":$controlsJson,"env":$envJson,"exec_order":$orderJson,"coldscan":$coldScanJson,"sf":"$sfDir"}"""
    println(fullJson)
    // r7 finding: the driver's stdout tail window truncates the big line,
    // leaving ~half the per-query times unrecoverable from the BENCH
    // artifact. The COMPLETE map is therefore also written to a file in
    // the repo — per-query regression tracking reads this, not stdout.
    // r9 finding: a smoke run at another SF silently CLOBBERED the
    // committed sf0.1 anchor (the cross-run control comparison then read
    // nonsense) — only the anchor SF writes the anchor file; other SFs
    // write a -smoke sidecar.
    // r9 advice: endsWith("sf0.1") mis-routed both ways — a trailing
    // slash demoted a real anchor run to the smoke file, and any
    // directory merely ENDING in "sf0.1" (alt-sf0.1) clobbered the
    // committed anchor. Normalize and compare the final path segment.
    val isAnchorSf =
      orElse(s"anchor check of $sfDir", false)(java.nio.file.Paths.get(sfDir)
        .normalize().getFileName.toString == "sf0.1") && onlySet.isEmpty
    val benchPath =
      if (isAnchorSf) AnchorFile else "bench_full_smoke.json"
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(benchPath),
        (fullJson + "\n").getBytes("UTF-8"))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] bench_full.json write failed: ${e.getMessage}")
    }
    // Artifact robustness (r5: the driver's capture truncated the HEAD of
    // the one-line JSON, making "value" unreadable while the tail
    // survived): a second, laps-free line printed LAST carries the number
    // the gate reads even when the big line's head is eaten.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    // Compact self-attribution line: control-query timeline + env. Small
    // enough (≤ ~20 samples) to survive any capture window, so anomalies
    // in the official run are explainable from the official artifact even
    // if bench_full.json's telemetry block is all that's lost.
    println(s"""{"metric":"bench_controls","env":$envJson,"every":$ControlEvery,"samples":$controlsJson}""")
    // r6 finding: at 89 queries even the laps-free line outgrows the tail
    // window, losing its head (and the total with it). The LAST line is
    // therefore MINIMAL — no queries map, so it fits any capture window
    // whole and the full-suite total is always recoverable.
    val nOk = finalResults.count(_._2 >= 0)
    // requieted_total: the corrected secondary total after the
    // auto-quiet pass (== the primary total when the flag never fired)
    val requietedTotal = finalResults
      .filter(_._2 >= 0)
      .map { case (name, v, _) => requieted.getOrElse(name, v) }.sum
    println(s"""{"metric":"bench_total","value":${fmt(total)},"unit":"sec","n":$nOk,"n_failed":${finalResults.size - nOk},"window_flag":${fmt(windowFlag)},"requieted_total":${fmt(requietedTotal)}}""")
    spark.stop()
  }
}
