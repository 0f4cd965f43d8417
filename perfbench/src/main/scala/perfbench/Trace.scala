package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._

/** The traced run's recorder.
  *
  * A span wraps one call the benchmark makes into a layer's public entry
  * point. Its id travels as a Spark local property, so jobs carry it in
  * their properties, tasks see it through `TaskContext`, and driver
  * threads the call spawns inherit it. Every Spark job, task metric, file
  * system operation and written byte is charged to the innermost open
  * span; children are subtracted when a span's own figures are reported.
  * Spans stay in memory and are written out once, at the end of the run.
  * When tracing is off, [[span]] is a plain call.
  */
object Trace {
  val key = "perfbench.span"

  final class Span(val id: Int, val name: String, val parent: Int, val tag: String,
      val thread: String, val startNs: Long) {
    @volatile var endNs: Long = 0L
    val jobs = new AtomicInteger()
    val fsOps = new ConcurrentHashMap[String, AtomicLong]()
    val bytesWritten = new AtomicLong()
    val taskCpuNs = new AtomicLong()
    val taskRunMs = new AtomicLong()
    val shuffleBytes = new AtomicLong()
    def wallS: Double = (endNs - startNs) / 1e9
    def fsTotal: Long = fsOps.values.asScala.map(_.get).sum
  }

  @volatile private var sc: SparkContext = null
  @volatile var enabled = false
  private val nextId = new AtomicInteger()
  private val spans = new ConcurrentHashMap[Int, Span]()
  /** Charges made outside every span (Spark's own threads, set-up). */
  val unattributed = new Span(0, "unattributed", -1, "", "", 0L)
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  def enable(context: SparkContext): Unit = {
    sc = context
    enabled = true
    context.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val id = Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .map(_.toInt).getOrElse(0)
        spanOf(id).jobs.incrementAndGet()
        e.stageIds.foreach(s => stageSpan.put(s, id))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val s = spanOf(stageSpan.getOrDefault(e.stageId, 0))
          s.taskCpuNs.addAndGet(m.executorCpuTime)
          s.taskRunMs.addAndGet(m.executorRunTime)
          s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
  }

  private def spanOf(id: Int): Span =
    if (id == 0) unattributed else Option(spans.get(id)).getOrElse(unattributed)

  /** The span open on this thread: the task's when called from a task,
    * otherwise the calling driver thread's; 0 when none is open. */
  def current(): Int = {
    val tc = TaskContext.get()
    val v = if (tc != null) tc.getLocalProperty(key)
      else if (sc != null) sc.getLocalProperty(key) else null
    if (v == null) 0 else v.toInt
  }

  def fsOp(kind: String): Unit = if (enabled)
    spanOf(current()).fsOps.computeIfAbsent(kind, _ => new AtomicLong()).incrementAndGet()

  def bytesWritten(span: Int, n: Long): Unit = if (enabled) spanOf(span).bytesWritten.addAndGet(n)

  /** Run `f` inside a span named `<layer>.<call>`. `tag` groups the spans
    * of one batch, for write amplification. */
  def span[T](name: String, tag: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val parent = current()
      val s = new Span(nextId.incrementAndGet(), name, parent, tag,
        Thread.currentThread().getName, System.nanoTime())
      spans.put(s.id, s)
      sc.setLocalProperty(key, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        sc.setLocalProperty(key, if (parent == 0) null else parent.toString)
      }
    }

  /** Increment bytes landed per batch tag: the denominator of a write
    * span's amplification. */
  val landedBytes = new ConcurrentHashMap[String, java.lang.Long]()
  def landed(tag: String, bytes: Long): Unit = landedBytes.put(tag, bytes)

  def all: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  /** Wall time of `s` not covered by any of its children; children may
    * overlap when a call fans out over a driver thread pool. */
  def selfS(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (c.startNs.max(s.startNs), c.endNs.min(s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    if (curB > curA) covered += curB - curA
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  def spanJson(s: Span, self: Double): Map[String, Any] = Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "tag" -> s.tag,
    "thread" -> s.thread, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "wall_s" -> s.wallS, "self_s" -> self, "jobs" -> s.jobs.get,
    "fs_ops" -> s.fsOps.asScala.map { case (k, v) => k -> v.get }.toMap,
    "bytes_written" -> s.bytesWritten.get, "task_cpu_s" -> s.taskCpuNs.get / 1e9,
    "task_run_s" -> s.taskRunMs.get / 1e3, "shuffle_write_bytes" -> s.shuffleBytes.get)
}
