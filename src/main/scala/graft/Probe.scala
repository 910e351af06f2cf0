package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Single-query perf and plan probes over `SPARK_GRAFT_SF_DIR`, on the same
  * session shape and noop-sink action as graft.Bench, for the named
  * queries only (none named = every query):
  *
  *  - `time`: min of three warm noop-sink laps (`TIME`);
  *  - `phases`: a warm lap split into planning (construction +
  *    analysis + optimization + physical planning, forced via
  *    executedPlan) and execution, with the jobs execution submits —
  *    Catalyst/AQE overhead apart from cluster work (`PHASE`);
  *  - `plan`: construction (including any eager work the builder does),
  *    analysis, optimization, physical planning and execution, twice
  *    (`PLANTIME`);
  *  - `size`: optimized-plan expression-node count, descending — the
  *    metric the PlanSweep plan-size tripwire bounds (`PLAN`);
  *  - `explain`: the formatted physical plan of each named query, or a
  *    join/exchange/pushed-filter summary of every query (`=====`).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.Probe <mode> [query ...]
  */
object Probe {

  private val Modes = Seq("time", "phases", "plan", "size", "explain")

  /** Expression nodes of the optimized plan: what gets serialized per
    * task, so a builder that re-inlines a subtree shows here first.
    */
  def exprNodes(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(e => e.collect { case _ => 1L }.sum).sum
    }.sum

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && Modes.contains(args(0)),
      s"usage: Probe <${Modes.mkString("|")}> [query ...]")
    val mode = args(0)
    val named = args.toSeq.drop(1)
    val unknown = named.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val names =
      if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = Sessions.sfDir
    val spark = Sessions.local()
    def each(prefix: String)(body: (String, () => DataFrame) => Unit): Unit =
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        try body(name, () => fn(spark, sfDir))
        catch {
          case NonFatal(e) => println(s"$prefix $name FAILED ${e.getMessage}")
        }
      }
    try {
      // the timing modes lap against cached tables, like Bench; size and
      // explain read the plans over the parquet scans
      if (mode != "size" && mode != "explain") Tables.preloadAll(spark, sfDir)
      mode match {
        case "time" =>
          each("TIME") { (name, q) =>
            noop(q()) // warm lap: JIT + codegen + shuffle files
            val laps = Seq.fill(3) {
              val t0 = System.nanoTime(); noop(q())
              secs(t0, System.nanoTime())
            }
            println(f"TIME $name min=${laps.min}%.3f laps=" +
              laps.map(l => f"$l%.3f").mkString(","))
          }
        case "phases" =>
          val jobs = new AtomicInteger
          spark.sparkContext.addSparkListener(new SparkListener {
            override def onJobStart(j: SparkListenerJobStart): Unit =
              jobs.incrementAndGet()
          })
          each("PHASE") { (name, q) =>
            noop(q())
            val laps = Seq.fill(2) {
              val t0 = System.nanoTime()
              val df = q()
              df.queryExecution.executedPlan
              val t1 = System.nanoTime()
              val j0 = jobs.get()
              noop(df)
              (secs(t0, t1), secs(t1, System.nanoTime()), jobs.get() - j0)
            }
            val (plan, exec, n) = laps.minBy(l => l._1 + l._2)
            println(f"PHASE $name plan=$plan%.3f exec=$exec%.3f jobs=$n")
          }
        case "plan" =>
          each("PLANTIME") { (name, q) =>
            noop(q())
            (1 to 2).foreach { i =>
              val t0 = System.nanoTime()
              val df = q()
              val t1 = System.nanoTime()
              df.queryExecution.analyzed
              val t2 = System.nanoTime()
              df.queryExecution.optimizedPlan
              val t3 = System.nanoTime()
              df.queryExecution.executedPlan
              val t4 = System.nanoTime()
              noop(df)
              val t5 = System.nanoTime()
              def d(a: Long, b: Long) = f"${secs(a, b)}%.3f"
              println(s"PLANTIME $name lap$i fn=${d(t0, t1)}" +
                s" analyze=${d(t1, t2)} optimize=${d(t2, t3)}" +
                s" physical=${d(t3, t4)} exec=${d(t4, t5)}")
            }
          }
        case "size" =>
          val counts = Seq.newBuilder[(String, Long)]
          each("PLAN")((name, q) => counts += name -> exprNodes(q()))
          counts.result().sortBy(-_._2)
            .foreach { case (name, n) => println(f"PLAN $n%8d $name") }
        case "explain" =>
          each("=====") { (name, q) =>
            val plan = q().queryExecution
            println(s"===== $name =====")
            if (named.nonEmpty) println(plan.explainString(FormattedMode))
            else plan.executedPlan.toString.linesIterator
              .filter(l => l.contains("Join") || l.contains("Exchange")
                || l.contains("PushedFilters"))
              .foreach(l => println("  " + l.trim.take(120)))
          }
      }
    } finally spark.stop()
  }
}
