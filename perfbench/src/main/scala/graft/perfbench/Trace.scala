package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark-side tracing. Everything here observes the engine from
  * outside: spans wrap the benchmark's own calls into public functions,
  * and Spark jobs/stages are attributed to the innermost `graft.*` frame
  * of their call site by a listener the benchmark registers. Nothing is
  * recorded, and no listener is registered, until the tracer is activated.
  *
  * All times are wall-clock milliseconds (`System.currentTimeMillis`
  * scale, fractional from `nanoTime`), the scale Spark's listener events
  * carry, so spans and jobs share one timeline.
  */
final class Tracer {
  import Tracer._

  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  def nowMs: Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextOp = 0L

  /** A fresh operation id; spans of one operation share it. */
  def newOp(): Long = { nextOp += 1; nextOp }

  def apply[A](name: String, op: Long = 0L)(f: => A): A =
    if (!on) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val t0 = nowMs
      spans += Span(id, parent, name, op, t0, t0)
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = nowMs)
      }
    }

  val jobs = new JobListener
  val executions = mutable.ArrayBuffer[QueryExecution]()

  /** Off until activated; activation registers the listeners. */
  var on = false

  def activate(spark: SparkSession): Unit = {
    on = true
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executions.synchronized(executions += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Let the asynchronous listener bus deliver every pending event. */
  def drain(spark: SparkSession): Unit = if (on) {
    org.apache.spark.perfbridge.Bus.waitUntilEmpty(spark.sparkContext, 30000L)
  }

  /** Spark jobs whose interval lies inside [t0, t1]. */
  def jobsIn(t0: Double, t1: Double): Seq[Job] =
    jobs.done.filter(j => j.startMs >= t0 - 1 && j.endMs <= t1 + 1).toSeq

  /** Stack samples of the thread that calls into the engine: (time, layer
    * of the innermost engine frame, or `driver_residual` when no engine
    * frame is on the stack). Spark submits adaptive query stages from its
    * own thread pool, and Structured Streaming stamps every micro-batch job
    * with the query's start site, so job call sites alone cannot attribute
    * time; the calling thread's stack can.
    */
  val samples = mutable.ArrayBuffer[(Double, String)]()
  @volatile private var sampling = false

  /** Sample the thread `find` returns (looked up again while it is not
    * alive) every `everyMs` until [[stopSampling]].
    */
  def startSampling(find: () => Option[Thread], everyMs: Long = 5L): Unit = {
    sampling = true
    val t = new Thread(() => {
      var target: Thread = null
      while (sampling) {
        if (target == null || !target.isAlive) target = find().orNull
        if (target != null) {
          val frame = innermostFrame(target.getStackTrace.mkString("\n"))
          val layer = if (frame.isEmpty) Residual else layerOf(frame)
          samples.synchronized(samples += ((nowMs, layer)))
        }
        Thread.sleep(everyMs)
      }
    }, "perfbench-sampler")
    t.setDaemon(true)
    t.start()
  }
  def stopSampling(): Unit = sampling = false

  /** A finder for the first live thread whose name starts with `prefix`. */
  def threadNamed(prefix: String): () => Option[Thread] = () =>
    Thread.getAllStackTraces.keySet.asScala.find(_.getName.startsWith(prefix))

  /** Self time per layer inside [t0, t1] from the stack samples, scaled so
    * the parts add back up to t1 - t0.
    */
  def sampledSelfTimes(t0: Double, t1: Double): Map[String, Double] = {
    val in = samples.synchronized(samples.filter(s => s._1 >= t0 && s._1 <= t1)
      .toSeq)
    if (in.isEmpty) Map(Residual -> (t1 - t0))
    else in.groupBy(_._2).map { case (l, xs) =>
      l -> (t1 - t0) * xs.size / in.size }
  }

  /** Driver time inside [t0, t1] that no Spark job covers. */
  def residualMs(t0: Double, t1: Double): Double = {
    var covered = 0.0
    var end = t0
    jobsIn(t0, t1).map(j => (math.max(t0, j.startMs), math.min(t1, j.endMs)))
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > math.max(a, end)) { covered += b - math.max(a, end); end = b }
      }
    (t1 - t0) - covered
  }

  def spansJson: String = spans.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":${s.op},""" +
      f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val Residual = "driver_residual"

  /** Layers the benchmark reports self time for (module names). */
  val Layers: Seq[String] = Seq("sources", "operators.Replay",
    "operators.Dedup", "operators.Merge", "operators.SqlMerge",
    "operators.Changes", "operators.SchemaEvolution", "functions",
    "icelite", "streaming", "other", Residual)

  final case class Span(id: Int, parent: Int, name: String, op: Long,
      startMs: Double, endMs: Double) {
    def wallMs: Double = endMs - startMs
  }

  final case class Stage(id: Int, attempt: Int, numTasks: Int,
      wallMs: Double, taskMs: Seq[Double], gcMs: Double, runMs: Double,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, inBytes: Long,
      inRecords: Long, outBytes: Long, outRecords: Long)

  final case class Job(id: Int, startMs: Double, endMs: Double,
      frame: String, layer: String, executionId: String, stages: Seq[Stage]) {
    def wallMs: Double = endMs - startMs
  }

  /** Layer of a call-site frame such as
    * `graft.icelite.IceLite$.stageFiles(IceLite.scala:552)`.
    */
  def layerOf(frame: String): String = {
    val cls = frame.takeWhile(_ != '(').split('.').dropRight(1)
      .mkString(".").stripSuffix("$")
    val pkg = cls.split('.').dropRight(1).mkString(".")
    if (cls.startsWith("graft.operators.SqlMerge") ||
        cls.startsWith("graft.operators.SqlDml")) "operators.SqlMerge"
    else if (pkg == "graft.operators") {
      val simple = cls.split('.').last.takeWhile(_ != '$')
      if (Layers.contains(s"operators.$simple")) s"operators.$simple"
      else "other"
    }
    else if (pkg == "graft.sources") "sources"
    else if (pkg == "graft.functions") "functions"
    else if (pkg == "graft.icelite") "icelite"
    else if (pkg == "graft.streaming") "streaming"
    else "other"
  }

  /** Innermost engine frame of a long-form call site, skipping the
    * `graft.util` wrappers (phase timing) that sit around engine calls.
    */
  def innermostFrame(details: String): String =
    details.linesIterator.map(frameName)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.perfbench") &&
        !l.startsWith("graft.util."))
      .getOrElse("")

  /** A stack frame line without its class-loader or module prefix
    * (`app//graft.X.f(X.scala:1)` → `graft.X.f(X.scala:1)`).
    */
  def frameName(line: String): String = {
    val l = line.trim
    val paren = l.indexOf('(')
    val slash = l.lastIndexOf('/', if (paren < 0) l.length else paren)
    if (slash >= 0) l.substring(slash + 1) else l
  }
}

/** Job/stage/task recorder: per stage it keeps task run, GC, shuffle and
  * spill bytes, records read and written, and every task's duration.
  */
final class JobListener extends SparkListener {
  import Tracer._

  private case class Acc(var gc: Double = 0, var run: Double = 0,
      var sw: Long = 0, var sr: Long = 0, var spill: Long = 0,
      var ib: Long = 0, var ir: Long = 0, var ob: Long = 0, var or: Long = 0,
      tasks: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer())

  private val starts = mutable.Map[Int, (Double, String, String, Seq[Int])]()
  private val stageAcc = mutable.Map[(Int, Int), Acc]()
  private val stageDone = mutable.Map[Int, Stage]()
  val done = mutable.ArrayBuffer[Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val frame = e.stageInfos.sortBy(-_.stageId).headOption
      .map(s => innermostFrame(s.details)).getOrElse("")
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    starts(e.jobId) = (e.time.toDouble, frame, execution, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), Acc())
      a.gc += m.jvmGCTime
      a.run += m.executorRunTime
      a.sw += m.shuffleWriteMetrics.bytesWritten
      a.sr += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      a.ib += m.inputMetrics.bytesRead
      a.ir += m.inputMetrics.recordsRead
      a.ob += m.outputMetrics.bytesWritten
      a.or += m.outputMetrics.recordsWritten
      a.tasks += e.taskInfo.duration.toDouble
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val a = stageAcc.remove((si.stageId, si.attemptNumber()))
        .getOrElse(Acc())
      val wall = (for (s <- si.submissionTime; c <- si.completionTime)
        yield (c - s).toDouble).getOrElse(0.0)
      stageDone(si.stageId) = Stage(si.stageId, si.attemptNumber(),
        si.numTasks, wall, a.tasks.toSeq, a.gc, a.run, a.sw, a.sr, a.spill,
        a.ib, a.ir, a.ob, a.or)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (t0, frame, execution, stageIds) =>
      val stages = stageIds.flatMap(stageDone.get)
      done += Job(e.jobId, t0, e.time.toDouble, frame, layerOf(frame),
        execution, stages)
    }
  }
}
