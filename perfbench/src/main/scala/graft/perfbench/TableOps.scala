package graft.perfbench

import graft.icelite.IceLite
import graft.operators.{Changes, Replay}
import graft.sources.Ledger
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

import scala.collection.mutable

/** `table_ops`: writes beside reads on one IceLite table. Set-up preloads
  * the base table; one closed-loop client then runs a seeded mix in whole
  * rounds — point SELECTs by url (most operations), a 10-key UPDATE, a
  * ~10-row MERGE INTO with matched and unmatched keys, a 1–3-key DELETE,
  * and `Changes.between(before, after)` after every write. The client keeps
  * a model of the values it wrote and checks every point read against it.
  */
object TableOps {
  import Common._

  val Buckets = 16
  val ReadsPerWrite = 8

  def ledgerConfig(o: Opts): Ledger.Config =
    if (o.tiny) Ledger.Config(seed = o.seed, nEvents = 2000, nDomains = 20,
      pagesPerDomain = 10, partitions = 4, segments = 1,
      duplicateRate = 0.03, deleteRate = 0.04)
    else Ledger.Config(seed = o.seed, nEvents = 4000, nDomains = 20,
      pagesPerDomain = 50, partitions = 4, segments = 1,
      duplicateRate = 0.03, deleteRate = 0.04)

  /** Span name of a statement kind: the layer it calls, then the call. */
  def spanName(kind: String): String = kind match {
    case "read" => "icelite.read"
    case "changes" => "operators.Changes.between"
    case dml => s"operators.SqlMerge.$dml"
  }

  /** One statement. A change read records the write kind it follows in
    * `of`; the throughput mix tells the two apart, since a change read
    * after a MERGE spans more rows than one after a DELETE.
    */
  private final case class Op(kind: String, of: String, seconds: Double,
      startMs: Double, endMs: Double, execs: Seq[QueryExecution], before: Int,
      after: Int) {
    def mixKind: String = if (of.isEmpty) kind else s"$kind.$of"
  }

  /** Statements per second over the fixed round mix, each statement kind
    * taken at its median latency in the window: a slow spell of the host
    * moves a median less than a sum.
    */
  private def throughput(ops: Seq[Op]): Double =
    ops.size / ops.groupBy(_.mixKind).values
      .map(xs => xs.size * median(xs.map(_.seconds))).sum

  def run(spark: SparkSession, o: Opts, tr: Tracer, out: Outcome): Unit = {
    val cfg = ledgerConfig(o)
    val rnd = new scala.util.Random(o.seed)
    val universe = (for (d <- 0 until cfg.nDomains; p <- 0 until cfg.pagesPerDomain)
      yield s"https://www.d$d.example.com/page/$p").toIndexedSeq

    // set-up: the ledger is synthesized three times (setup_s takes the
    // median), then the base table is loaded once; the warm-up pass below
    // is set-up too
    val ledger = s"${o.work}/ledger"
    val builds = (1 to 3).map { _ =>
      delete(ledger)
      timed(Ledger.synthesize(spark, cfg, ledger))._2
    }
    out.mark("build")
    val (table, dir) = ("pages", s"${o.work}/pages")
    val (_, load) = timed {
      Replay.full(spark, ledger, dir, nBuckets = Buckets, epochPrefix = "base")
      spark.sql(s"CREATE TABLE $table USING icelite OPTIONS (path '$dir')")
    }

    val model = mutable.Map[String, String]()
    def loadModel(): Unit = {
      model.clear()
      IceLite.read(spark, dir).select("url", "lang").collect()
        .foreach(r => model(r.getString(0)) = r.getString(1))
    }
    var newKeys = 0
    val ops = mutable.ArrayBuffer[Op]()
    val metaLoadMs = mutable.ArrayBuffer[Double]()
    var lastWritten = Set.empty[String]

    def op(kind: String, of: String = "")(f: => Unit): Unit = {
      val before = IceLite.currentVersion(dir)
      val n0 = tr.executions.size
      val s0 = tr.nowMs
      val (_, t) = timed(tr(spanName(kind), tr.newOp())(f))
      val s1 = tr.nowMs
      tr.drain(spark)
      val execs = tr.executions.synchronized(tr.executions.drop(n0))
      val (after, lt) = timed(IceLite.load(dir).version)
      metaLoadMs += lt * 1e3
      ops += Op(kind, of, t, s0, s1, execs.toSeq, before, after)
      if (after != before) {
        // every write is followed by the change read it produced
        op("changes", of = kind) {
          val keys = Changes.between(spark, dir, before, Some(after))
            .select("url").collect().map(_.getString(0)).toSet
          out.check(keys.subsetOf(lastWritten), s"change read reported " +
            s"keys outside the write: ${(keys -- lastWritten).take(3)}")
        }
      }
    }
    def live(n: Int) = rnd.shuffle(model.keys.toSeq.sorted).take(n)
    def inList(us: Seq[String]) = us.map(u => s"'$u'").mkString(", ")

    def pointRead(): Unit = {
      val url = universe(rnd.nextInt(universe.size))
      op("read") {
        val rows = spark.sql(s"SELECT url, lang FROM $table WHERE url = '$url'")
          .collect()
        val want = model.get(url)
        out.check(rows.length == want.size &&
          rows.headOption.forall(_.getString(1) == want.get),
          s"point read of $url: got ${rows.toSeq}, model says $want")
      }
    }
    def update(): Unit = {
      val keys = live(10)
      val lang = s"u${rnd.nextInt(1000)}"
      lastWritten = keys.toSet
      op("update")(spark.sql(
        s"UPDATE $table SET lang = '$lang' WHERE url IN (${inList(keys)})"))
      keys.foreach(model(_) = lang)
    }
    def merge(): Unit = {
      import spark.implicits._
      val matched = live(6)
      val unmatched = (1 to 4).map { _ => newKeys += 1
        s"https://new.example.com/${o.seed}/$newKeys" }
      val rows = (matched ++ unmatched).map(u => (u, s"m${rnd.nextInt(1000)}"))
      rows.toDF("url", "lang").createOrReplaceTempView("merge_src")
      lastWritten = rows.map(_._1).toSet
      op("merge")(spark.sql(s"""
        MERGE INTO $table t USING merge_src s ON t.url = s.url
        WHEN MATCHED THEN UPDATE SET t.lang = s.lang
        WHEN NOT MATCHED THEN INSERT (url, warc_ts, html, text, lang)
          VALUES (s.url, TIMESTAMP '2024-06-01 00:00:00', NULL, NULL, s.lang)
      """))
      rows.foreach { case (u, l) => model(u) = l }
    }
    def deleteKeys(): Unit = {
      val keys = live(1 + rnd.nextInt(3))
      lastWritten = keys.toSet
      op("delete")(spark.sql(
        s"DELETE FROM $table WHERE url IN (${inList(keys)})"))
      keys.foreach(model.remove)
    }
    // one round of the fixed statement schedule: for each of UPDATE, MERGE
    // and DELETE in turn, `reads` point reads and then the write (each
    // write is followed by its change read)
    def round(reads: Int): Unit =
      Seq(() => update(), () => merge(), () => deleteKeys()).foreach { w =>
        (1 to reads).foreach(_ => pointRead())
        w()
      }

    // warm-up (part of set-up): one round with one read per write, untimed
    loadModel()
    val (_, warm) = timed(round(1))
    out.put("setup_s", median(builds) + load + warm, "s")
    if (o.corrupt == "table") model(model.keys.min) = "corrupted"
    out.mark("setup")
    ops.clear(); metaLoadMs.clear()

    // closed loop: the next statement starts when the previous one ends;
    // the window runs whole rounds, at least one, until time is up, so
    // every window holds the same statement mix
    def window(seconds: Double): Seq[Op] = {
      val from = ops.size
      val t0 = System.nanoTime()
      do round(ReadsPerWrite) while (secs(t0) < seconds)
      ops.drop(from).toSeq
    }
    // a traced run measures one untraced window, then one traced window
    val measured =
      if (!o.trace) window(o.seconds)
      else {
        val plain = window(o.seconds)
        tr.activate(spark)
        val main = Thread.currentThread
        tr.startSampling(() => Some(main))
        val traced = window(o.seconds)
        tr.stopSampling()
        tr.drain(spark)
        overhead(out, plain, traced)
        layerMetrics(tr, out, dir, traced)
        out.put("meta.load_ms_p50", median(metaLoadMs.toSeq), "ms")
        traced
      }
    val reads = measured.filter(_.kind == "read").map(_.seconds)
    out.put("throughput", throughput(measured), "1/s")
    out.put("latency_p50_s", median(reads), "s")
    out.put("latency_p75_s", quantile(reads, 0.75), "s")
    out.detail("statements") = measured.size.toString
    out.detail("statement_s") = measured.map(o =>
      f"${o.mixKind}:${o.seconds}%.3f").mkString(" ")
    out.mark("window")

    // the table read back whole must equal the model too
    val final_ = IceLite.read(spark, dir).select("url", "lang").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    out.check(final_ == model.toMap, "table contents differ from the " +
      s"client's model (${(final_.toSet diff model.toSet).size} rows)")
  }

  private def overhead(out: Outcome, plain: Seq[Op], traced: Seq[Op]): Unit = {
    def reads(xs: Seq[Op]) = xs.filter(_.kind == "read").map(_.seconds)
    out.put("overhead.throughput",
      throughput(traced) / throughput(plain) - 1, "ratio")
    out.put("overhead.latency_p50_s",
      median(reads(traced)) / median(reads(plain)) - 1, "ratio")
    out.put("overhead.latency_p75_s", quantile(reads(traced), 0.75) /
      quantile(reads(plain), 0.75) - 1, "ratio")
  }

  private def layerMetrics(tr: Tracer, out: Outcome, dir: String,
      ops: Seq[Op]): Unit = {
    val spans = tr.spans.toSeq
      .filter(s => ops.exists(o => math.abs(o.startMs - s.startMs) < 5))
    Layers.selfTimes(tr, out, spans)
    def of(kinds: String*) = ops.filter(o => kinds.contains(o.kind))
    def jobs(o: Op) = tr.jobsIn(o.startMs, o.endMs)
    val reads = of("read")
    out.put("read.planning_ms_p50",
      median(reads.map(_.execs.map(Layers.planningMs).sum)), "ms")
    def scanMetric(o: Op, name: String) = o.execs.map { qe =>
      qe.executedPlan.collectLeaves().flatMap(_.metrics.get(name))
        .map(_.value.toDouble).sum
    }.sum
    out.put("read.files_scanned_p50",
      median(reads.map(scanMetric(_, "numFiles"))), "count")
    out.put("read.bytes_scanned_p50",
      median(reads.map(scanMetric(_, "filesSize"))), "bytes")
    out.put("read.jobs_per_query", reads.map(jobs(_).size).sum.toDouble /
      math.max(1, reads.size), "count")
    out.put("meta.json_bytes_end", metadataJsonBytes(dir).toDouble, "bytes")

    val writes = of("update", "merge", "delete")
    val diffs = writes.map { o =>
      val a = IceLite.loadVersion(dir, o.before)
      val b = IceLite.loadVersion(dir, o.after)
      (changedBuckets(a, b).size.toDouble,
        filesBytes(a.files.filterNot(f => b.files.exists(_.path == f.path))),
        filesBytes(b.files.filterNot(f => a.files.exists(_.path == f.path))))
    }
    out.put("dml.update_p50_s", median(of("update").map(_.seconds)), "s")
    out.put("dml.merge_p50_s", median(of("merge").map(_.seconds)), "s")
    out.put("dml.delete_p50_s", median(of("delete").map(_.seconds)), "s")
    out.put("dml.jobs_per_stmt_p50",
      median(writes.map(jobs(_).size.toDouble)), "count")
    out.put("dml.buckets_rewritten_p50", median(diffs.map(_._1)), "count")
    out.put("dml.target_bytes_read_p50", median(diffs.map(_._2.toDouble)),
      "bytes")
    out.put("dml.bytes_written_p50", median(diffs.map(_._3.toDouble)), "bytes")
    out.put("dml.driver_residual_ms_p50",
      median(writes.map(o => tr.residualMs(o.startMs, o.endMs))), "ms")

    val changes = of("changes")
    val changed = changes.map { o =>
      // a change read spans the versions of the write just before it
      val w = writes.filter(_.endMs <= o.startMs).lastOption
      w.map { w =>
        val a = IceLite.loadVersion(dir, w.before)
        val b = IceLite.loadVersion(dir, w.after)
        val bs = changedBuckets(a, b)
        (bs.size.toDouble, (filesBytes(a.files.filter(f => bs(f.bucket))) +
          filesBytes(b.files.filter(f => bs(f.bucket)))).toDouble)
      }.getOrElse((0.0, 0.0))
    }
    out.put("changes.read_p50_s", median(changes.map(_.seconds)), "s")
    out.put("changes.buckets_read_p50", median(changed.map(_._1)), "count")
    out.put("changes.bytes_read_p50", median(changed.map(_._2)), "bytes")
  }
}
