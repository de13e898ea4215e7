package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's calls into each layer, plus the
  * Spark jobs and stages each span caused.
  *
  * A span is (id, parent, name, start, end); the action names what the
  * benchmark applied to a lazily evaluated result inside the span, so
  * the span covers the work the call planned. Spans live in memory and
  * are written out once, when the run ends. With tracing on, the span id
  * is set as a Spark local property before each call, and the listener
  * files every job and stage under the span whose call submitted it.
  */
final class Trace(val on: Boolean) {
  import Trace._

  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var sc: Option[SparkContext] = None
  val listener = new Attribution

  /** Epoch milliseconds on the span clock (the listener's clock). */
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6

  def attach(context: SparkContext): Unit = if (on) {
    sc = Some(context)
    context.addSparkListener(listener)
    context.setLocalProperty(SpanKey, "0")
  }

  def span[T](name: String, action: String = "")(f: => T): T = {
    val s = Span(spans.size + 1, stack.head, name, action, nowMs, Double.NaN)
    spans += s
    stack = s.id :: stack
    sc.foreach(_.setLocalProperty(SpanKey, s.id.toString))
    try f
    finally {
      s.endMs = nowMs
      stack = stack.tail
      sc.foreach(_.setLocalProperty(SpanKey, stack.head.toString))
    }
  }

  def all: Seq[Span] = spans.toSeq
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, action: String,
      startMs: Double, var endMs: Double)

  final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long)

  final case class Stage(id: Int, attempt: Int, span: Int, tasks: Int,
      runMs: Long, cpuMs: Double, gcMs: Long, scanBytes: Long,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long)

  /** Files jobs and completed stages under the span of the thread that
    * submitted them (Spark propagates local properties to the jobs of
    * AQE stages and broadcasts). Jobs without the property get span 0.
    */
  final class Attribution extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    private val stageSpan =
      new java.util.concurrent.ConcurrentHashMap[(Int, Int), Int]()

    private def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(SpanKey)))
        .flatMap(_.toIntOption).getOrElse(0)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Job(e.jobId, spanOf(e.properties), e.time, -1L))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSpan.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
        spanOf(e.properties))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val span = Option(stageSpan.get((i.stageId, i.attemptNumber())))
        .getOrElse(0)
      if (m != null)
        stages.add(Stage(i.stageId, i.attemptNumber(), span, i.numTasks,
          m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
          m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled))
    }
  }
}
