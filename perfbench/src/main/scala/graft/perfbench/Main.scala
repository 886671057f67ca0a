package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** JVM side of the benchmark. `run.py` builds the classpath and calls
  *
  * {{{
  *   Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outJson>
  *        <size full|tiny> <corrupt none|table|digest>
  * }}}
  *
  * The result (correctness counts, metrics with units, host health and the
  * trace spans) is written to `outJson`; `run.py` turns it into the one
  * line the benchmark prints.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, outPath, size, corrupt) =
      args
    val o = Opts(workload, seed.toLong, seconds.toDouble, trace == "1", work,
      size, corrupt)
    val tr = new Tracer
    val out = new Outcome
    // run.py sets the processors the JVM sees (-XX:ActiveProcessorCount)
    val spark = Common.session(Runtime.getRuntime.availableProcessors, work)
    out.mark("session")
    try {
      workload match {
        case "stream_upsert" => StreamUpsert.run(spark, o, tr, out)
        case "table_ops" => TableOps.run(spark, o, tr, out)
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        out.fail(s"workload aborted: $e")
        e.printStackTrace()
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.getDefaultSession.foreach(_.stop())
    }
    out.put("peak_rss_mb", Common.peakRssMb(), "MB")
    out.mark("workload")
    val health = Health.probe(work)
    out.mark("probes")
    Files.write(Paths.get(outPath), render(o, out, tr, health)
      .getBytes(StandardCharsets.UTF_8))
  }

  private def render(o: Opts, out: Outcome, tr: Tracer,
      health: Seq[(String, Double)]): String = {
    import Common.jsonStr
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
    val metrics = out.metrics.map { case (k, (v, u)) =>
      s"${jsonStr(k)}:{\"value\":${num(v)},\"unit\":${jsonStr(u)}}"
    }.mkString("{", ",", "}")
    val hl = health.map { case (k, v) => s"${jsonStr(k)}:${num(v)}" }
      .mkString("{", ",", "}")
    val detail = out.detail.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString("{", ",", "}")
    val failures = out.failures.map(jsonStr).mkString("[", ",", "]")
    s"""{"workload":${jsonStr(o.workload)},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"failures":$failures,"metrics":$metrics,""" +
      s""""host":$hl,"detail":$detail,"spans":${tr.spansJson}}"""
  }
}

/** Host-health records kept beside every run's metrics, for reporting
  * only: width-1 and width-4 CPU probes and the fresh-page allocation
  * probe from the frozen `Bench`, and the free space where the run writes.
  */
object Health {
  def probe(work: String): Seq[(String, Double)] = {
    val store = Files.getFileStore(Paths.get(work))
    Seq(
      "cpu_probe_w1_ms" -> graft.Bench.hostProbeMs(1).toDouble,
      "cpu_probe_w4_ms" -> graft.Bench.hostProbeMs(4).toDouble,
      "alloc_probe_ms" -> math.min(graft.Bench.allocProbeMs(),
        graft.Bench.allocProbeMs()).toDouble,
      "work_free_mb" -> store.getUsableSpace / 1048576.0,
      "shm_free_mb" -> shmFreeMb)
  }

  private def shmFreeMb: Double = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm)) Files.getFileStore(shm).getUsableSpace / 1048576.0
    else 0.0
  }
}

/** Deliberate corruption for the benchmark's self-check: the checks must
  * report these as failures.
  */
object Corrupt {
  /** Delete one live row of an IceLite table through the SQL surface. */
  def dropOneRow(spark: SparkSession, dir: String): Unit = {
    val url = graft.icelite.IceLite.read(spark, dir).select("url").head()
      .getString(0)
    val t = s"corrupt_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $t USING icelite OPTIONS (path '$dir')")
    spark.sql(s"DELETE FROM $t WHERE url = '$url'")
    spark.sql(s"DROP TABLE $t")
  }
}
