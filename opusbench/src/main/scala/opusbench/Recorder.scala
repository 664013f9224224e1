package opusbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkContext

/** A correctness check that failed: aborts the run and names the check. */
final class GateFailed(val check: String, detail: String)
    extends RuntimeException(s"gate '$check' failed: $detail")

/** Everything one run measures, from outside the engine: latency
  * samples, operation counts and failures, and — in traced runs —
  * spans. Times are epoch milliseconds with sub-millisecond digits, so
  * harness spans and Spark listener timestamps share one clock.
  */
final class Recorder(val trace: Boolean) {
  private val nanos0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nanos0) / 1e6

  private val samples = TrieMap.empty[String, ConcurrentLinkedQueue[Double]]
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, new ConcurrentLinkedQueue[Double]()).add(v)
  def allSamples: Map[String, Seq[Double]] =
    samples.iterator.map { case (k, q) => k -> q.asScala.toSeq }.toMap

  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val errors = new ConcurrentLinkedQueue[String]()

  /** First gate failure seen by any client thread; every loop stops on it. */
  val abort = new AtomicReference[GateFailed]()
  def aborted: Boolean = abort.get != null

  def gate(check: String)(ok: Boolean, detail: => String): Unit =
    if (!ok) {
      val g = new GateFailed(check, detail)
      abort.compareAndSet(null, g)
      throw g
    }

  // ---- spans (traced runs only) ----------------------------------------
  // one row per span: id, parent, op, name, startMs, endMs
  val spans = new ConcurrentLinkedQueue[Array[Any]]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val opOf = new ThreadLocal[Long] {
    override def initialValue(): Long = -1L
  }
  @volatile private var sc: SparkContext = _
  def bind(context: SparkContext): Unit = sc = context

  /** Local properties ride every Spark job the calling thread submits:
    * the listener attributes jobs to the innermost open span and op.
    */
  private def publish(): Unit = if (sc != null) {
    sc.setLocalProperty(Recorder.SpanProp, stack.get.headOption.map(_.toString).orNull)
    sc.setLocalProperty(Recorder.OpProp,
      if (opOf.get < 0) null else opOf.get.toString)
  }

  def span[T](name: String)(body: => T): T =
    if (!trace) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      publish()
      val t0 = nowMs
      try body
      finally {
        spans.add(Array[Any](id, parent, opOf.get, name, t0, nowMs))
        stack.set(stack.get.tail)
        publish()
      }
    }

  /** One client operation: counted, timed into `<kind>_ms`, and
    * isolated — an exception is logged and counted as failed, never
    * fatal. A failed gate is the exception: it aborts the run.
    */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    val id = if (trace) ids.incrementAndGet() else -1L
    opOf.set(id)
    val t0 = nowMs
    try {
      val r = span(kind)(body)
      sample(s"${kind}_ms", nowMs - t0)
      Some(r)
    } catch {
      case g: GateFailed => throw g
      case NonFatal(e) =>
        failed.incrementAndGet()
        val msg = s"$kind failed: ${e.getClass.getName}: ${e.getMessage}"
        errors.add(msg.take(2000))
        System.err.println(s"[opusbench] $msg")
        None
    } finally {
      opOf.set(-1L)
      publish()
    }
  }
}

object Recorder {
  val SpanProp = "opusbench.span"
  val OpProp = "opusbench.op"
}
