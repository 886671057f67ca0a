package graft.perfbench

import graft.icelite.IceLite
import graft.operators.Replay
import graft.sources.Ledger
import graft.streaming.Pipeline
import graft.util.Det
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery,
  StreamingQueryProgress, Trigger}

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `stream_upsert`: the incremental path. Set-up preloads the base table;
  * then a single-thread, open-loop generator offers pre-synthesized ledger
  * segments into the tailed directory by atomic rename on a fixed
  * schedule, while `Pipeline.run` runs under a ProcessingTime trigger.
  * Every micro-batch pays a copy-on-write bucket rewrite, several IceLite
  * commits, dedup state and planning.
  *
  * Freshness of a segment = the time it was due to be offered →
  * `committedAtMs` of the first table snapshot whose epoch's lineage rows
  * cover all of the segment's offsets, computed after the run from table
  * metadata and the lineage table (no polling). Timing from the due time
  * counts a late generator against freshness.
  */
object StreamUpsert {
  import Common._

  val Buckets = 4
  /** Offered load, events per second (fixed, absolute). */
  val OfferedRate = 30.0
  val SegmentEvents = 10
  val TriggerMs = 250L
  /** Offered before the window, in warm-up batches of two segments. */
  val WarmSegments = 6
  /** Offered just before the window in batches of one quarter each:
    * measures capacity.
    */
  val BurstSegments = 120
  val BurstBatches = 4

  private final case class Layout(root: String) {
    val baseLedger = s"$root/base-ledger"
    val staging = s"$root/staging"
    val tail = s"$root/tail"
    val table = s"$root/pages"
    val checkpoint = s"$root/checkpoint"
    val lineage = s"$root/lineage"
    val metrics = s"$root/metrics"
    val refTable = s"$root/ref-pages"
  }

  def baseConfig(o: Opts): Ledger.Config =
    if (o.tiny) Ledger.Config(seed = o.seed, nEvents = 2000, nDomains = 20,
      pagesPerDomain = 10, partitions = 4, segments = 1,
      duplicateRate = 0.03, deleteRate = 0.04)
    else Ledger.Config(seed = o.seed, nEvents = 4000, nDomains = 20,
      pagesPerDomain = 50, partitions = 4, segments = 1,
      duplicateRate = 0.03, deleteRate = 0.04)

  /** Stream events continue the base ledger's index space (so positions
    * never collide) under a new seed; one addColumn ALTER sits at `alterAt`.
    * Each event carries the segment it is offered in.
    */
  def streamEvents(spark: SparkSession, base: Ledger.Config, nStream: Long,
      alterAt: Long): DataFrame = {
    import spark.implicits._
    val cfg = base.copy(seed = base.seed * 1000003L + 17,
      alterAt = Map(alterAt -> Ledger.addColumnJson("fetch_ms", "long")))
    val cdf = Det.zipfCdf(cfg.nDomains, cfg.zipfSkew)
    val lo = base.nEvents
    val seg = SegmentEvents
    val events = spark.range(lo, lo + nStream)
      .map(i => (Ledger.makeEvent(cfg, cdf, i), ((i - lo) / seg).toInt))
    val dups = spark.range(lo + 1, lo + nStream)
      .filter(i => Det.uniform(cfg.seed, i, 5) < cfg.duplicateRate)
      .map { i =>
        val back = 1 + Det.uniformInt(cfg.seed, i, 6, 64)
        (Ledger.makeEvent(cfg, cdf, math.max(lo, i - back)),
          ((i - lo) / seg).toInt)
      }
    events.union(dups).toDF("e", "seg").select(col("e.*"), col("seg"))
  }

  /** Highest data-event offset per partition of segment `k`. */
  def segmentMaxOffsets(base: Ledger.Config, k: Int,
      alterAt: Long): Map[Int, Long] = {
    val lo = base.nEvents + k.toLong * SegmentEvents
    (lo until lo + SegmentEvents).filter(_ != alterAt)
      .groupBy(i => (i % base.partitions).toInt)
      .map { case (p, is) => p -> is.max / base.partitions }
  }

  /** Offer `segs` in groups of `per`, each once the last one committed,
    * so that each group is one batch.
    */
  private def offerInBatches(l: Layout, q: StreamingQuery, segs: Range,
      per: Int): Unit =
    segs.grouped(per).foreach { part =>
      part.foreach(offer(l, _))
      q.processAllAvailable()
    }

  private def offer(l: Layout, k: Int): Unit = {
    val dir = Paths.get(l.staging, s"seg=$k")
    val files = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    files.foreach { f =>
      val target = Paths.get(l.tail, f"seg-$k%05d-${f.getFileName}")
      Files.move(f, target, StandardCopyOption.ATOMIC_MOVE)
      Files.setLastModifiedTime(target, FileTime.fromMillis(
        System.currentTimeMillis()))
    }
  }

  private def pipelineConfig(l: Layout) = Pipeline.Config(
    ledgerDir = l.tail, tableDir = l.table, checkpointDir = l.checkpoint,
    lineageDir = l.lineage, metricsDir = l.metrics, nBuckets = Buckets,
    maxFilesPerTrigger = 10000)

  def run(spark: SparkSession, o: Opts, tr: Tracer, out: Outcome): Unit = {
    val base = baseConfig(o)
    val periodMs = SegmentEvents * 1000.0 / OfferedRate
    // a traced run offers one untraced window, then one traced window
    val windowSecs = if (o.trace) 2 * o.seconds else o.seconds
    val windowSegs = math.ceil(windowSecs * OfferedRate / SegmentEvents).toInt
    // segments in offer order: warm-up, burst, window
    val winFrom = WarmSegments + BurstSegments
    val nSegs = winFrom + windowSegs
    val nStream = nSegs.toLong * SegmentEvents
    val alterAt = base.nEvents +
      (winFrom + windowSegs / 2).toLong * SegmentEvents + 7

    // set-up: the base ledger is synthesized three times (setup_s takes the
    // median); then, once, the stream segments are staged, the base table
    // is loaded, and the measured query starts and runs three warm-up
    // batches before the window opens
    val l = Layout(s"${o.work}/stream")
    val builds = (1 to 3).map { _ =>
      delete(l.baseLedger)
      timed(Ledger.synthesize(spark, base, l.baseLedger))._2
    }
    out.mark("build")
    val (_, load) = timed {
      streamEvents(spark, base, nStream, alterAt).repartition(col("seg"))
        .write.partitionBy("seg").parquet(l.staging)
      Replay.full(spark, l.baseLedger, l.table, nBuckets = Buckets,
        epochPrefix = "base")
      copyTree(Paths.get(l.table), Paths.get(l.refTable))
      Files.createDirectories(Paths.get(l.tail))
    }
    val (q, warm) = timed {
      val q = Pipeline.run(spark, pipelineConfig(l),
        Trigger.ProcessingTime(TriggerMs))
      offerInBatches(l, q, 0 until WarmSegments, 2)
      q
    }
    out.put("setup_s", median(builds) + load + warm, "s")
    out.mark("setup")

    // capacity: a burst of fixed-size batches just before the window
    val burstFrom = System.currentTimeMillis()
    offerInBatches(l, q, WarmSegments until winFrom,
      BurstSegments / BurstBatches)
    val burstTo = System.currentTimeMillis()

    // measured window: open-loop generator on this thread
    val offeredMs = mutable.Map[Int, Long]()
    val dueMs = mutable.Map[Int, Double]()
    var lateMax = 0.0
    val t0 = System.currentTimeMillis()
    val traceFrom =
      if (o.trace) t0 + (o.seconds * 1000).toLong else Long.MaxValue
    var k = 0
    while (k < windowSegs) {
      val due = t0 + k * periodMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      if (!tr.on && System.currentTimeMillis() >= traceFrom) {
        tr.activate(spark)
        tr.startSampling(tr.threadNamed("stream execution thread"))
      }
      offer(l, winFrom + k)
      val now = System.currentTimeMillis()
      offeredMs(k) = now
      dueMs(k) = due
      lateMax = math.max(lateMax, now - due)
      k += 1
    }
    val windowEnd = System.currentTimeMillis()
    out.mark("window")
    q.processAllAvailable()
    q.stop()
    tr.stopSampling()
    tr.drain(spark)
    out.mark("drain")
    val progress = q.recentProgress.toSeq

    // freshness from table metadata + lineage, after the run
    val commitMs = versions(l.table).collect {
      case m if m.epochKey.matches("stream\\.\\d+") =>
        m.epochKey.stripPrefix("stream.").toLong -> m.committedAtMs
    }.toMap
    val lineage = IceLite.read(spark, l.lineage)
      .select("epoch_id", "partition", "max_offset").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val epochs = lineage.map(_._1).distinct.sorted
    val cover = mutable.Map[Int, Long]()
    val coverAt = epochs.map { e =>
      lineage.filter(_._1 == e).foreach { case (_, p, hi) =>
        cover(p) = math.max(cover.getOrElse(p, -1L), hi)
      }
      e -> cover.toMap
    }
    val visibleMs = (0 until windowSegs).map { s =>
      val need = segmentMaxOffsets(base, winFrom + s, alterAt)
      coverAt.find { case (_, c) =>
        need.forall { case (p, off) => c.getOrElse(p, -1L) >= off }
      }.flatMap { case (e, _) => commitMs.get(e) }
    }
    val fresh = (0 until windowSegs).flatMap { s =>
      visibleMs(s).map(v => (s, (v - dueMs(s)) / 1e3))
    }
    out.check(fresh.size == windowSegs,
      s"${windowSegs - fresh.size} offered segments never became visible")

    // capacity: the median over the burst batches of events per second of
    // batch time (fixed-size batches, larger than the offered rate ever
    // fills)
    val dataBatches = progress.filter(_.numInputRows > 0)
    val burstBatches = dataBatches.filter(p =>
      startMs(p) >= burstFrom && startMs(p) <= burstTo)
    val capacity = median(burstBatches.map(p => p.numInputRows * 1000.0 /
      math.max(1L, dur(p, "triggerExecution"))))

    // open-loop integrity: generator lateness, backlog at the end, and an
    // offered rate at or above capacity, under which the backlog grows
    def backlog(t: Long) = (0 until windowSegs).count(s =>
      offeredMs(s) <= t && visibleMs(s).forall(_ > t))
    val endBacklog = backlog(windowEnd)
    out.check(capacity > OfferedRate, s"offered rate $OfferedRate/s is not " +
      s"below capacity ($capacity/s): the backlog grows")
    out.detail("gen.late_ms_max") = lateMax.toString
    out.detail("segments_not_visible_at_end") = endBacklog.toString
    out.detail("segments_offered") = windowSegs.toString
    out.detail("batches") = dataBatches.map(p =>
      s"${startMs(p) - t0}:${dur(p, "triggerExecution")}:${p.numInputRows}")
      .mkString(" ")

    val measured = fresh.filter(f => offeredMs(f._1) < traceFrom).map(_._2)
    out.put("throughput", capacity, "1/s")
    out.put("latency_p50_s", median(measured), "s")
    out.put("latency_p75_s", quantile(measured, 0.75), "s")
    if (o.trace) {
      val traced = fresh.filter(f => offeredMs(f._1) >= traceFrom).map(_._2)
      out.put("overhead.latency_p50_s",
        median(traced) / median(measured) - 1, "ratio")
      out.put("overhead.latency_p75_s",
        quantile(traced, 0.75) / quantile(measured, 0.75) - 1, "ratio")
      out.put("gen.late_ms_max", lateMax, "ms")
      out.put("stream.segments_not_visible_at_end", endBacklog, "count")
      layerMetrics(spark, tr, out, l, progress, traceFrom, windowEnd)
    }

    // batch ≡ stream: Replay.full of every offered segment into a copy of
    // the base table taken right after the base load
    out.mark("metrics")
    if (o.trace) {
      val main = Thread.currentThread
      tr.startSampling(() => Some(main))
    }
    tr("operators.Replay.full", tr.newOp()) {
      Replay.full(spark, l.tail, l.refTable, nBuckets = Buckets)
    }
    tr.stopSampling()
    if (o.trace) {
      tr.drain(spark)
      replayMetrics(spark, tr, out, l.tail, l.refTable)
    }
    out.mark("ref-replay")
    if (o.corrupt == "table") Corrupt.dropOneRow(spark, l.table)
    val diff = rowDiff(tableRows(spark, l.table), tableRows(spark, l.refTable))
    out.check(diff == 0, s"stream table differs from batch replay: $diff urls")
    out.check(IceLite.load(l.table).currentSchema.fields.exists(
      _.name == "fetch_ms"), "mid-stream ALTER did not reach the table")
  }

  private def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  private def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  private def layerMetrics(spark: SparkSession, tr: Tracer, out: Outcome,
      l: Layout, progress: Seq[StreamingQueryProgress],
      traceFrom: Long, windowEnd: Long): Unit = {
    // the traced half of the window: data batches that started in it
    val batches = progress.filter(p => p.numInputRows > 0 &&
      startMs(p) >= traceFrom && startMs(p) < windowEnd)
    val spans = batches.map { p =>
      val s = startMs(p).toDouble
      Tracer.Span(-1, -1, "streaming.batch", p.batchId, s,
        s + dur(p, "triggerExecution"))
    }
    Layers.selfTimes(tr, out, spans)
    val jobsPer = spans.map(s => tr.jobsIn(s.startMs, s.endMs))
    def p50(k: String*) = median(batches.map(p => k.map(dur(p, _)).sum / 1e3))
    out.put("stream.batches", batches.size, "count")
    out.put("stream.batch_s_p50", p50("triggerExecution"), "s")
    out.put("stream.add_batch_s_p50", p50("addBatch"), "s")
    out.put("stream.planning_s_p50", p50("queryPlanning"), "s")
    out.put("stream.offsets_s_p50", p50("latestOffset", "getBatch"), "s")
    out.put("stream.wal_s_p50", p50("walCommit", "commitOffsets"), "s")
    out.put("stream.jobs_per_batch",
      jobsPer.map(_.size).sum.toDouble / math.max(1, spans.size), "count")
    out.put("stream.driver_residual_s_p50",
      median(spans.map(s => tr.residualMs(s.startMs, s.endMs) / 1e3)), "s")
    val tableVs = versions(l.table)
    val side = Seq(l.lineage, l.metrics).flatMap(versions)
    def inBatch(ms: Long) = spans.exists(s => ms >= s.startMs && ms <= s.endMs)
    val commits = (tableVs ++ side).count(v => inBatch(v.committedAtMs))
    out.put("stream.commits_per_batch",
      commits.toDouble / math.max(1, batches.size), "count")
    val last = progress.lastOption.toSeq.flatMap(_.stateOperators)
    out.put("stream.state_rows_end", last.map(_.numRowsTotal).sum, "count")
    out.put("stream.late_dropped_rows", batches.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum, "count")

    // merge commits of the traced batches: bucket, byte and row counts
    val merges = tableVs.zip(tableVs.drop(1)).filter { case (_, b) =>
      b.epochKey.matches("stream\\.\\d+") && inBatch(b.committedAtMs)
    }
    def added(a: IceLite.Metadata, b: IceLite.Metadata) =
      b.files.filterNot(f => a.files.exists(_.path == f.path))
    def removed(a: IceLite.Metadata, b: IceLite.Metadata) =
      a.files.filterNot(f => b.files.exists(_.path == f.path))
    out.put("merge.buckets_rewritten_per_batch",
      median(merges.map { case (a, b) => changedBuckets(a, b).size.toDouble }),
      "count")
    out.put("merge.bytes_written_per_batch", median(merges.map {
      case (a, b) => filesBytes(added(a, b)).toDouble }), "bytes")
    out.put("merge.target_bytes_read_per_batch", median(merges.map {
      case (a, b) => filesBytes(removed(a, b)).toDouble }), "bytes")
    out.put("merge.shuffle_bytes_per_batch", median(jobsPer.map(js =>
      js.flatMap(_.stages).map(_.shuffleWrite.toDouble).sum)), "bytes")
    val applied = IceLite.read(spark, l.lineage)
      .filter(col("epoch_id").isin(batches.map(_.batchId): _*))
      .agg(sum("rows_applied")).head()
    val rowsApplied = if (applied.isNullAt(0)) 0L else applied.getLong(0)
    val rowsWritten = jobsPer.flatten.flatMap(_.stages).map(_.outRecords).sum
    out.put("merge.write_amp_rows",
      rowsWritten.toDouble / math.max(1L, rowsApplied), "ratio")
    out.put("icelite.bytes_stored_per_live_byte", Layers.storedPerLive(l.table),
      "ratio")
  }

  /** Layer metrics of the batch-reference `Replay.full` (bulk path). */
  private def replayMetrics(spark: SparkSession, tr: Tracer, out: Outcome,
      ledger: String, table: String): Unit = {
    val span = tr.spans.filter(_.name == "operators.Replay.full").last
    val js = tr.jobsIn(span.startMs, span.endMs)
    val stages = js.flatMap(_.stages)
    val events = Ledger.scan(spark, ledger).count()
    val self = tr.sampledSelfTimes(span.startMs, span.endMs)
    def layerS(l: String) = self.getOrElse(l, 0.0) / 1e3
    out.put("replay.wall_s", span.wallMs / 1e3, "s")
    out.put("replay.evps", events / (span.wallMs / 1e3), "1/s")
    out.put("sources.events_scanned", stages.map(_.inRecords).sum, "count")
    out.put("sources.scan_bytes", stages.map(_.inBytes).sum, "bytes")
    out.put("replay.alters_scan_s", layerS("operators.Replay"), "s")
    out.put("replay.driver_residual_s",
      tr.residualMs(span.startMs, span.endMs) / 1e3, "s")
    out.put("dedup.winners_s", layerS("operators.Dedup"), "s")
    out.put("dedup.winners_per_event",
      IceLite.readInternal(spark, table).count().toDouble / events, "ratio")
    Layers.writeMetrics(out, Seq(js))
    val m = IceLite.load(table)
    out.put("icelite.files_written", m.files.size, "count")
    out.put("icelite.bytes_written", filesBytes(m.files), "bytes")
  }
}
