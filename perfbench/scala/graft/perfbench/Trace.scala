package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Benchmark-side tracing. Spans are recorded around every call the
  * benchmark makes into a layer's public function; they stay in memory
  * and are written out once, when the run ends. Spark work is
  * attributed to the enclosing operation through the `perfbench.op`
  * local property, which a job inherits from the thread that submits
  * it. With tracing off, `span` only runs its body and no listener is
  * registered.
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile private var root: Int = 0

  /** Time `body` as a span named `name`, child of the innermost open
    * span on this thread, or of the root. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val p = outer.headOption.getOrElse(root)
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, p, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  /** Open the workload's root span; every span without another parent
    * hangs off it. Returns its start, for [[closeRoot]]. */
  def openRoot(): Long = { root = ids.incrementAndGet(); System.nanoTime() }
  def closeRoot(name: String, t0: Long): Unit =
    if (enabled) spans.add(Span(root, 0, name, t0, System.nanoTime()))

  def allSpans: Seq[Span] = spans.iterator().asScala.toSeq.sortBy(_.id)

  // ---- Spark-side attribution (registered only when enabled) ----

  private val opOfStage = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val jobsByOp = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
  private val taskStats = new ConcurrentLinkedQueue[TaskStat]()
  val progress = new ConcurrentLinkedQueue[Progress]()

  def register(sc: SparkContext, spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).getOrElse("-")
        e.stageIds.foreach(s => opOfStage.put(s, op))
        jobsByOp.computeIfAbsent(op, _ => new AtomicInteger()).incrementAndGet()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        val op = Option(opOfStage.get(e.stageId)).getOrElse("-")
        if (m != null) taskStats.add(TaskStat(op, e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.jvmGCTime))
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        progress.add(Progress(p.numInputRows, d("latestOffset") + d("getBatch"),
          d("queryPlanning"), d("walCommit") + d("commitOffsets")))
      }
    })
  }

  /** Task aggregates of every op whose name satisfies `sel`. */
  def tasks(sel: String => Boolean): Seq[TaskStat] = taskStats.iterator().asScala.filter(t => sel(t.op)).toSeq

  def jobs(sel: String => Boolean): Int =
    jobsByOp.asScala.collect { case (k, v) if sel(k) => v.get }.sum
}

object Trace {
  val OpProperty = "perfbench.op"

  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
  final case class TaskStat(op: String, launch: Long, finish: Long, shuffleWrite: Long,
                            spill: Long, gcMs: Long)
  final case class Progress(rows: Long, sourceMs: Double, planningMs: Double, commitMs: Double)

  /** Run `body` with Spark jobs it submits attributed to `op`. */
  def withOp[T](sc: SparkContext, op: String)(body: => T): T = {
    val prev = sc.getLocalProperty(OpProperty)
    sc.setLocalProperty(OpProperty, op)
    try body finally sc.setLocalProperty(OpProperty, prev)
  }

  /** Wall time not covered by any task of the op's jobs, in ms. */
  def uncoveredMs(wallStart: Long, wallEnd: Long, tasks: Seq[TaskStat]): Double = {
    val iv = tasks.map(t => (math.max(t.launch, wallStart), math.min(t.finish, wallEnd)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    math.max(0.0, (wallEnd - wallStart - covered).toDouble)
  }
}

/** Order statistics as the benchmark reports them. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = q * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile, at most p95, that leaves at least ten
    * samples beyond it (the median when there are fewer than 20). */
  def tail(xs: Seq[Double]): Double =
    quantile(xs, math.min(0.95, math.max(0.5, 1.0 - 10.0 / math.max(1, xs.size))))

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else BigDecimal(d).round(new java.math.MathContext(10)).bigDecimal.stripTrailingZeros.toPlainString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
