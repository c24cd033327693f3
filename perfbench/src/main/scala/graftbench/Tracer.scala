package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `kind` is `layer` for a call from the benchmark
  * into one of the engine's modules, or `build`/`plan`/`exec` for the
  * phases of that call: `build` runs from call entry until the frame
  * returns (the eager jobs a call runs while it builds the frame),
  * `plan` is Catalyst analysis + optimization + physical planning of
  * the result query, `exec` runs it.
  */
final case class Span(id: Int, name: String, layer: String, kind: String,
                      parent: Int, request: Int, startMs: Long, startNs: Long) {
  var endMs: Long = 0L
  var endNs: Long = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class JobRec(span: Int, startMs: Long, var endMs: Long = 0L)
final case class TaskRec(span: Int, stage: Int, runMs: Long, cpuNs: Long, waitMs: Long,
                         shuffleWrite: Long, input: Long, spill: Long)
final case class PhaseRec(startMs: Long, seconds: Double)

/** Spark-side counters, attributed to spans through the job property
  * [[Tracer.SpanKey]] that the benchmark sets on its client thread
  * before each call. Jobs inherit it (broadcast and AQE stage threads
  * included), stages and tasks map to it through their job, and
  * Catalyst phases map to the span whose interval holds the phase start.
  */
final class Events extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val tasks = mutable.ArrayBuffer[TaskRec]()
  val stages = mutable.ArrayBuffer[(Int, Int)]() // (span, stage) completed
  val phases = mutable.ArrayBuffer[PhaseRec]()
  private val jobById = mutable.Map[Int, JobRec]()
  private val stageSpan = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    val j = JobRec(span, e.time)
    jobs += j; jobById(e.jobId) = j
    e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += ((stageSpan.getOrElse(e.stageInfo.stageId, 0), e.stageInfo.stageId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val dur = e.taskInfo.duration
      val wait = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime) + m.executorDeserializeTime
      tasks += TaskRec(stageSpan.getOrElse(e.stageId, 0), e.stageId, m.executorRunTime,
        m.executorCpuTime, wait, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead, m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      if (name != "parsing") phases += PhaseRec(p.startTimeMs, p.durationMs / 1000.0)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Spans around every call the benchmark makes into a layer. With
  * tracing off the same code path runs with no spans, no job property
  * and no listener, so the traced ÷ untraced ratio is the tracing cost.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var events: Option[Events] = None
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  /** Request id stamped on spans: the pass number. */
  var request = 0

  def enabled: Boolean = events.isDefined

  def start(): Unit = {
    val e = new Events
    sc.addSparkListener(e)
    spark.listenerManager.register(e)
    events = Some(e)
  }

  /** Stop tracing and return the delivered events. */
  def stop(): Events = {
    val e = events.get
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(e)
    spark.listenerManager.unregister(e)
    events = None
    e
  }

  def span[T](name: String, layer: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, layer, kind, stack.headOption.fold(0)(_.id),
        request, System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** A lazy layer call: `build` calls the layer and returns its frame,
    * `result` shapes it into the small frame the benchmark collects and
    * checks. The result query is planned before it runs, traced or not,
    * and `collect` reuses that plan, so nothing is planned twice.
    */
  def query(layer: String, op: String)(build: => DataFrame)(result: DataFrame => DataFrame): Array[Row] =
    span(s"$layer.$op", layer, "layer") {
      val df = span("build", layer, "build")(build)
      val q = span("plan", layer, "plan") { val q = result(df); q.queryExecution.executedPlan; q }
      span("exec", layer, "exec")(q.collect())
    }

  /** An eager layer call (a write, a driver-side read): all of it is `exec`. */
  def eager[T](layer: String, op: String)(body: => T): T =
    span(s"$layer.$op", layer, "layer")(span("exec", layer, "exec")(body))
}

object Tracer {
  val SpanKey = "graftbench.span"
}
