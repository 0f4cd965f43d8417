package perfbench

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Command line of one benchmark JVM. */
final case class Opts(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, data: String, out: String, raw: String, spans: String,
    expected: String, record: Option[String], scale: Option[Double])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}") }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("work"), req("data"), req("out"), req("raw"), req("spans"), req("expected"),
      m.get("record"), m.get("scale").map(_.toDouble))
  }
}

/** One timed client operation: its kind, wall seconds and Spark jobs. */
final case class Op(kind: String, seconds: Double, jobs: Int, label: String)

/** State shared by a run: the session, the closed-loop operation record,
  * the job counter and the output checks. */
final class Run(val spark: SparkSession, val opts: Opts) {
  private val jobCount = new AtomicInteger()
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobCount.incrementAndGet(); () }
  })

  val ops = ArrayBuffer.empty[Op]
  var attempted = 0
  var failed = 0
  val errors = ArrayBuffer.empty[String]
  val checkFailures = ArrayBuffer.empty[String]
  private var deadlineNs = Long.MaxValue

  def startClock(): Unit = deadlineNs = System.nanoTime() + opts.seconds * 1000000000L
  def remainingS: Double = (deadlineNs - System.nanoTime()) / 1e9

  /** Spark jobs started so far, exact: waits for the listener bus. */
  def jobs(): Int = { Bus.drain(spark.sparkContext); jobCount.get }

  /** Time one client operation. A failure is counted and never recorded
    * as a timing; the workload stops issuing operations after one. */
  def op[T](kind: String, label: String = "")(f: => T): Option[T] = {
    val j0 = jobs()
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      ops += Op(kind, dt, jobs() - j0, label)
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$kind $label: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        e.printStackTrace()
        None
    }
  }

  def seconds(kind: String): Seq[Double] = ops.filter(_.kind == kind).map(_.seconds).toSeq

  def check(ok: Boolean, what: => String): Unit = if (!ok) checkFailures += what

  def healthy: Boolean = failed == 0
}

/** A named workload: untimed input preparation, repeatable set-up, the
  * timed closed loop, and the output checks that follow it. */
trait Workload {
  /** Untimed, outside set-up: derive this run's inputs from the seed. */
  def prepare(): Unit
  /** Set-up into fresh state: the bootstrap the timed region starts from,
    * and the run's JIT and code generator warm-up. */
  def setup(): Unit
  /** The timed region: a closed loop of operations, from a fixed minimum
    * until the run's time is used. */
  def run(): Unit
  /** Output checks after the timed region. */
  def verify(): Unit
  /** The kinds of the big and the small timed operations. */
  def cycleKind: String
  def opKind: String
  /** End-to-end metrics under the names a reader of this workload knows. */
  def namedMetrics: Seq[(String, Double, String)]
  /** Values for the expectations file in record mode. */
  def recorded: Map[String, Any] = Map.empty
}
