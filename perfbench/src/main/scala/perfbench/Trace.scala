package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** In-memory spans recorded by the benchmark around its calls into the
  * engine. Each span has a name, start, end (epoch ms) and the span that
  * caused it; they are written out once, when the run ends. With tracing
  * off, `span` only evaluates its body.
  */
final class Trace(val on: Boolean) {
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()

  /** Epoch milliseconds at nanosecond resolution, from one monotonic base,
    * so spans, due times and Spark's progress timestamps share a clock.
    */
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  import Trace.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(1)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def currentId: Int = stack.get.headOption.getOrElse(0)

  /** Parent every span the calling thread opens from now on under
    * `parent` — for worker threads that act for a span of another thread.
    */
  def adopt(parent: Int): Unit = stack.set(if (parent == 0) Nil else List(parent))

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.getAndIncrement()
      val parent = currentId
      stack.set(id :: stack.get)
      val start = nowMs()
      try body
      finally {
        spans.add(Span(id, parent, name, start, nowMs()))
        stack.set(stack.get.tail)
      }
    }

  /** A span known only after the fact (a micro-batch, from its progress). */
  def record(name: String, parent: Int, start: Double, end: Double): Unit =
    if (on) spans.add(Span(ids.getAndIncrement(), parent, name, start, end))

  def write(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, start: Double,
      end: Double)
}

/** Job, stage, shuffle and spill counts per benchmark call. A call is
  * named by the job group the benchmark sets around it (`bench/...`);
  * jobs launched on threads the benchmark does not own (a streaming
  * query's own thread) go to the call currently marked `active`.
  */
final class JobStats extends SparkListener {
  @volatile var active: String = "other"
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, AtomicLong]()

  private def add(key: String, v: Long): Unit =
    counters.computeIfAbsent(key, _ => new AtomicLong()).addAndGet(v)

  def get(key: String): Long =
    Option(counters.get(key)).map(_.get).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("bench/"))
    val tag = group.map(_.stripPrefix("bench/")).getOrElse(active)
    add(s"$tag.jobs", 1)
    e.stageIds.foreach(stageTag.put(_, tag))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val tag = Option(stageTag.remove(e.stageInfo.stageId)).getOrElse(active)
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      add(s"$tag.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("all.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Just enough JSON writing for the harness's result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
