package graft.perfbench

import graft.icelite.IceLite
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Options every workload receives. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, size: String, corrupt: String) {
  def tiny: Boolean = size == "tiny"
}

/** What a workload run hands back: correctness counts, the metrics of
  * its mode, and free-form detail for the trace file.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val detail = mutable.LinkedHashMap[String, String]()

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 50) failures += what }
  }
  def fail(what: String): Unit = check(ok = false, what)
  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Record when a phase of the run ended (seconds since JVM start). */
  def mark(phase: String): Unit =
    detail(s"t.$phase") = f"${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f"
}

object Common {

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.GraftExtensions)
      .appName(s"thorspark-perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        "2")
      .config("spark.hadoop.fs.file.impl",
        "org.apache.hadoop.fs.RawLocalFileSystem")
      // streaming bookkeeping that would otherwise land on a different
      // micro-batch of every run: no empty batches, no file-source log
      // compaction and no state-store maintenance within a run's minute
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.sql.streaming.fileSource.log.compactInterval", "1000")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, secs(t0))
  }

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val it = Files.list(p)
      try it.iterator().asScala.foreach(deleteRecursively) finally it.close()
    }
    Files.deleteIfExists(p)
  }
  def delete(dir: String): Unit = deleteRecursively(Paths.get(dir))

  def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally w.close()
  }

  /** Total bytes of the regular files under `dir`. */
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally w.close()
    }
  }

  def fileBytes(path: String): Long = {
    val p = Paths.get(path.stripPrefix("file:"))
    if (Files.exists(p)) Files.size(p) else 0L
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Every metadata version of an IceLite table, oldest first. */
  def versions(dir: String): Seq[IceLite.Metadata] =
    (1 to IceLite.currentVersion(dir)).map(IceLite.loadVersion(dir, _))

  /** Buckets whose manifest reference differs between two versions. */
  def changedBuckets(a: IceLite.Metadata, b: IceLite.Metadata): Set[Int] = {
    val ra = a.manifests.map(r => r.bucket -> r.path).toMap
    val rb = b.manifests.map(r => r.bucket -> r.path).toMap
    (ra.keySet ++ rb.keySet).filter(k => ra.get(k) != rb.get(k))
  }

  def filesBytes(fs: Seq[IceLite.DataFileEntry]): Long =
    fs.map(f => fileBytes(f.path)).sum

  /** Size of the newest metadata JSON of a table. */
  def metadataJsonBytes(dir: String): Long =
    fileBytes(s"$dir/metadata/v${IceLite.currentVersion(dir)}.metadata.json")

  def md5Hex(b: Array[Byte]): String =
    if (b == null) "null"
    else java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"$x%02x").mkString

  /** Live rows of an IceLite table, collected to the driver, keyed by the
    * first column; every value rendered as text (binary as its md5), the
    * columns in name order.
    */
  def tableRows(spark: SparkSession, dir: String): Map[String, Seq[String]] = {
    val df = IceLite.read(spark, dir)
    val cols = df.columns.sorted
    val key = df.columns.head
    df.select(cols.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .collect().map { r =>
        val vs = cols.indices.map(i => r.get(i) match {
          case null => "null"
          case b: Array[Byte] => md5Hex(b)
          case t: java.sql.Timestamp => t.getTime.toString
          case v => v.toString
        })
        r.getAs[String](key) -> vs
      }.toMap
  }

  /** Keys whose rows differ between two collected tables. */
  def rowDiff(a: Map[String, Seq[String]], b: Map[String, Seq[String]]): Int =
    (a.keySet ++ b.keySet).count(k => a.get(k) != b.get(k))

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
