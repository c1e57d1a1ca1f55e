package graft.cdcbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution

import scala.jdk.CollectionConverters._

/** One timed call into an engine layer. `batch` is the micro-batch the span
  * ran in, or -1 outside the stream.
  */
final case class Span(id: Long, parent: Long, name: String, batch: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span (or to one whole run). */
final class Work {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val bytesWritten = new AtomicLong
}

/** In-memory spans plus a [[SparkListener]] that charges each Spark job,
  * its tasks and their shuffle and output bytes to the span that submitted
  * it.
  *
  * A span sets the thread-local Spark property [[SpanKey]] for the span's
  * extent; jobs inherit local properties from the submitting thread, so
  * `onJobStart` sees which span a job belongs to. Spans nest per thread
  * and stay in memory until the run ends.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val nextId = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val spansQ = new ConcurrentLinkedQueue[Span]()
  private val spanWork = new ConcurrentHashMap[Long, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val batchJobs = new ConcurrentHashMap[Long, AtomicLong]()
  private val markers = ConcurrentHashMap.newKeySet[String]()
  /** Everything the listener saw, whichever span it belonged to. */
  val total = new Work

  def span[T](name: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parents = stack.get()
    val parent = parents.headOption.getOrElse(0L)
    stack.set(id :: parents)
    sc.setLocalProperty(SpanKey, id.toString)
    // set by the stream on its own thread for the span of each batch
    val batch = Option(sc.getLocalProperty(MicroBatchExecution.BATCH_ID_KEY))
      .map(_.toLong).getOrElse(-1L)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(parents)
      sc.setLocalProperty(SpanKey, parents.headOption.map(_.toString).orNull)
      spansQ.add(Span(id, parent, name, batch, t0, t1))
    }
  }

  def spans: Seq[Span] = spansQ.asScala.toSeq
  def work(spanId: Long): Option[Work] = Option(spanWork.get(spanId))
  def jobsInBatch(batchId: Long): Long =
    Option(batchJobs.get(batchId)).map(_.get).getOrElse(0L)

  /** Running totals: jobs, tasks, shuffle bytes written, task run ms. */
  def totals: Seq[Double] = Seq(total.jobs.get, total.tasks.get,
    total.shuffleBytes.get, total.runMs.get).map(_.toDouble)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(MarkerKey))) match {
      case Some(token) => markers.add(token); return
      case None => ()
    }
    total.jobs.incrementAndGet()
    props.flatMap(p => Option(p.getProperty(MicroBatchExecution.BATCH_ID_KEY)))
      .foreach(b => batchJobs.computeIfAbsent(b.toLong, _ => new AtomicLong).incrementAndGet())
    props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).foreach { id =>
      spanWork.computeIfAbsent(id, _ => new Work).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageSpan.put(s, id))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val targets = Seq(total) ++ Option(stageSpan.get(e.stageId))
      .map(id => spanWork.computeIfAbsent(id, _ => new Work))
    targets.foreach { w =>
      w.tasks.incrementAndGet()
      w.runMs.addAndGet(m.executorRunTime)
      w.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      w.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Block until the listener bus has delivered every event posted before
    * this call: a marker job is submitted and its start awaited (the bus
    * delivers one listener's events in order).
    */
  def drain(): Unit = {
    val token = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(MarkerKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!markers.contains(token) && System.nanoTime() < deadline) Thread.sleep(5)
    require(markers.contains(token), "Spark listener bus did not drain within 30 s")
  }

  def install(): Unit = sc.addSparkListener(this)
  def uninstall(): Unit = sc.removeSparkListener(this)
}

object Tracer {
  val SpanKey = "cdcbench.span"
  val MarkerKey = "cdcbench.marker"
}
