package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where a workload reports the layer calls it makes. The untraced
  * run passes [[NoSpans]], which runs each body and records nothing;
  * the traced run passes a [[Tracer]]. */
trait Spans {
  def apply[T](name: String)(body: => T): T
  /** A layer call returning a frame: traced, the frame is planned and
    * materialised inside the span, so its cost lands on that layer
    * and not on whichever layer consumes it next. */
  def frame(name: String)(df: => DataFrame): DataFrame
  def traced: Boolean
}

object NoSpans extends Spans {
  def apply[T](name: String)(body: => T): T = body
  def frame(name: String)(df: => DataFrame): DataFrame = df
  def traced = false
}

/** One span per layer call: name, start, end and parent, kept in
  * memory. A SparkListener charges each finished task's metrics to the
  * innermost span that was open on the submitting thread when its
  * stage was submitted (the span id travels as a local property, which
  * threads started inside a span, such as a streaming query's, also
  * inherit). */
final class Tracer(spark: SparkSession) extends Spans {
  import Tracer._

  final case class Span(id: Int, name: String, parent: Int,
      startNs: Long, endNs: Long)

  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private val stageSpan = new ConcurrentHashMap[Int, Integer]
  private val bySpan = new ConcurrentHashMap[Int, TaskAcc]
  private val checkpointed = ArrayBuffer.empty[DataFrame]
  @volatile private var drainJob = -1
  @volatile private var drained: CountDownLatch = null

  private val listener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .foreach(id => stageSpan.put(e.stageInfo.stageId, id.toInt))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (id != null && m != null) {
        val acc = bySpan.computeIfAbsent(id, _ => new TaskAcc)
        acc.tasks += 1
        acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        acc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        acc.cpuNs += m.executorCpuTime
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(DrainKey) != null))
        drainJob = e.jobId

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == drainJob && drained != null) drained.countDown()
  }
  sc.addSparkListener(listener)

  def traced = true

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prev)
      spans += Span(id, name, parent, t0, t1)
    }
  }

  def frame(name: String)(df: => DataFrame): DataFrame = apply(name) {
    val d = df
    apply("plans.planning") { d.queryExecution.executedPlan }
    val out = d.localCheckpoint(eager = true)
    checkpointed += out
    out
  }

  /** Free the blocks of every frame materialised since the last call. */
  def release(): Unit = {
    checkpointed.foreach(_.unpersist(blocking = false))
    checkpointed.clear()
  }

  /** Wait until the listener has seen every task that ended before
    * this call: listener events arrive in order, so once a marker
    * job's end is delivered, all earlier task ends have been too. */
  def drain(): Unit = {
    drained = new CountDownLatch(1)
    sc.setLocalProperty(DrainKey, "1")
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(DrainKey, null)
    require(drained.await(60, TimeUnit.SECONDS),
      "listener did not deliver the drain marker within 60 s")
  }

  def close(): Unit = sc.removeSparkListener(listener)

  /** Self time (duration minus the part covered by child spans) per
    * span name, and task metrics per layer (the name's prefix before
    * the first '.'), over the spans with id >= `fromId`. */
  def summary(fromId: Int): (Map[String, Double], Map[String, TaskAcc]) = {
    val sel = spans.filter(_.id >= fromId)
    val childNs = sel.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    val self = sel.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum
    }
    val tasks = sel.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      val acc = new TaskAcc
      ss.flatMap(s => Option(bySpan.get(s.id))).foreach { a =>
        acc.tasks += a.tasks
        acc.shuffleWriteBytes += a.shuffleWriteBytes
        acc.spillBytes += a.spillBytes
        acc.cpuNs += a.cpuNs
      }
      layer -> acc
    }
    (self, tasks)
  }

  def mark: Int = nextId
}

/** Task metrics summed over the tasks charged to a span or layer. */
final class TaskAcc {
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var cpuNs = 0L
}

object Tracer {
  val SpanKey = "perfbench.span"
  val DrainKey = "perfbench.drain"
}
