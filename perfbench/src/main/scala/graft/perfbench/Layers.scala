package graft.perfbench

import graft.icelite.IceLite

/** Per-layer metric helpers shared by the workloads. */
object Layers {
  import Common._

  /** Self seconds per layer, averaged over the given operation spans, plus
    * the mean span wall time: `self.<layer>_s` summed over every layer
    * (driver residual included) equals `trace.op_wall_s`.
    */
  def selfTimes(tr: Tracer, out: Outcome, ops: Seq[Tracer.Span]): Unit = {
    val n = math.max(1, ops.size).toDouble
    val per = ops.map(s => tr.sampledSelfTimes(s.startMs, s.endMs))
    Tracer.Layers.foreach { l =>
      out.put(s"self.${l}_s", per.map(_.getOrElse(l, 0.0)).sum / n / 1e3, "s")
    }
    val wall = ops.map(_.wallMs).sum / n / 1e3
    val sum = per.map(_.values.sum).sum / n / 1e3
    out.put("trace.op_wall_s", wall, "s")
    out.put("trace.self_sum_error_s", math.abs(wall - sum), "s")
    out.put("trace.ops", ops.size.toDouble, "count")
  }

  /** Jobs of the SQL executions that write files: the salted write's
    * shuffle (map) jobs and its file-writing (reduce) jobs. Adaptive
    * execution runs each query stage as its own job; the execution id ties
    * them together.
    */
  private def writeJobs(js: Seq[Tracer.Job]): Seq[Tracer.Job] = {
    val writing = js.filter(_.stages.exists(_.outBytes > 0))
      .map(_.executionId).filter(_.nonEmpty).toSet
    js.filter(j => writing(j.executionId))
  }

  /** Salted-write metrics over the file-writing executions of each
    * operation (medians across operations).
    */
  def writeMetrics(out: Outcome, jobsPer: Seq[Seq[Tracer.Job]]): Unit = {
    val w = jobsPer.map(writeJobs)
    def med(f: Seq[Tracer.Job] => Double) = median(w.map(f))
    val stages = (js: Seq[Tracer.Job]) => js.flatMap(_.stages)
    out.put("write.map_stage_s", med(js =>
      stages(js).filter(_.outBytes == 0).map(_.wallMs).sum / 1e3), "s")
    out.put("write.reduce_stage_s", med(js =>
      stages(js).filter(_.outBytes > 0).map(_.wallMs).sum / 1e3), "s")
    out.put("write.shuffle_bytes", med(js =>
      stages(js).map(_.shuffleWrite.toDouble).sum), "bytes")
    out.put("write.task_skew", med(js => {
      val r = stages(js).filter(_.outBytes > 0).sortBy(-_.wallMs).headOption
      r.map(s => s.taskMs.max / math.max(1.0, median(s.taskMs))).getOrElse(0.0)
    }), "ratio")
    out.put("write.gc_frac", med(js => {
      val ss = stages(js)
      ss.map(_.gcMs).sum / math.max(1.0, ss.map(_.runMs).sum)
    }), "ratio")
  }

  /** Size of every data file under the table's data/ directory (live or
    * superseded) over the bytes of the live snapshot's files.
    */
  def storedPerLive(dir: String): Double = {
    val live = filesBytes(IceLite.load(dir).files).toDouble
    if (live == 0) 0.0 else dirBytes(s"$dir/data") / live
  }

  /** Planning time of a query execution: every tracker phase. */
  def planningMs(qe: org.apache.spark.sql.execution.QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs.toDouble).sum
}
