package perfbench

import scala.jdk.CollectionConverters._

/** Process-wide counters at one instant; a window's figures are the
  * difference of two snapshots. */
final case class Snapshot(atUs: Long, gcMs: Long, heapPeakMb: Double, bulkCalls: Long,
                          actions: Long, bytes: Long, busyNs: Long, conflicts: Long,
                          notFound: Long, upserts: Long)

object Snapshot {
  /** The heap peak is the peak since the previous snapshot. */
  def take(): Snapshot = {
    val s = Snapshot(Clock.nowUs(), Jvm.gcMs(), Jvm.heapPeakMb(), MockEs.bulkCalls.get,
      MockEs.actions.get, MockEs.bytes.get, MockEs.busyNanos.get, MockEs.conflicts.get,
      MockEs.notFound.get, MockEs.upserts.get)
    Jvm.resetPeaks()
    s
  }
}

/** Lists the versioned state directory from outside the program: each
  * committed version's bytes, and how many versions are on disk. A new
  * version `v<batch>` becomes a `state.version` span of that batch, from
  * its first file's modification time to its `_SUCCESS` marker's. */
final class StateWatch(val dir: String, spans: Spans) {
  val versionBytes = scala.collection.mutable.LinkedHashMap[String, Long]()
  var maxOnDisk = 0
  def look(): Unit = {
    val vs = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.matches("v-?\\d+") && new java.io.File(f, "_SUCCESS").exists)
    maxOnDisk = math.max(maxOnDisk, vs.size)
    vs.filterNot(v => versionBytes.contains(v.getName)).foreach { v =>
      val files = Option(v.listFiles()).toSeq.flatten
      val bytes = files.map(_.length).sum
      versionBytes(v.getName) = bytes
      val first = files.map(_.lastModified).min
      val done = new java.io.File(v, "_SUCCESS").lastModified
      spans.add("state.version", v.getName.drop(1).toLong,
        Clock.nanosOfUs(first * 1000), Clock.nanosOfUs(done * 1000), bytes)
    }
  }
}

/** Per-layer metrics and the self-time table of a traced run. */
object Layers {
  private def m(name: String, v: Double, unit: String) = Metric(name, if (v.isNaN) 0.0 else v, unit)
  private def med(xs: Iterable[Double]) = Stats.median(xs.toSeq)

  /** Backend calls that `SinkWriter.writeBatch` makes; the per-layer calls
    * inside `applyPreDelete` are nested in the first. */
  private val TopCalls = Seq("sink.pre_delete", "sink.state_view", "sink.delete")
  private val SinkLayers = Seq("sink.pre_delete", "sink.bulk_upsert", "sink.history",
    "sink.drops", "sink.state_view", "sink.delete")

  /** One batch's (or backfill pass's) self times, by layer, in ms. */
  private def selfTimes(b: BatchRec, spans: Seq[Span], stateMerge: Boolean): Seq[(String, Double)] = {
    val ph = b.phases.withDefaultValue(0L)
    val mine = spans.filter(_.batch == b.id)
    val top = mine.filter(s => TopCalls.contains(s.name))
    val esUnion = Stats.unionLength(mine.filter(_.name == "es.bulk")
      .map(s => (s.startNs / 1e6, s.endNs / 1e6)))
    val backend = top.map(_.ms).sum
    val add = ph("addBatch").toDouble
    val phaseSum = (b.phases - "triggerExecution").values.sum.toDouble
    val trig = ph("triggerExecution").toDouble
    Seq(
      "source.poll" -> ph("latestOffset").toDouble,
      "stream.plan" -> (ph("queryPlanning") + ph("getBatch")).toDouble,
      "stream.commit" -> (ph("walCommit") + ph("commitOffsets")).toDouble) ++
      (if (stateMerge) Seq("state.merge" -> add)
       else Seq("sink.writer" -> (add - backend), "sink.backend" -> (backend - esUnion),
         "es.bulk" -> esUnion)) :+
      ("unattributed" -> (trig - phaseSum))
  }

  private def table(rows: Seq[(BatchRec, Seq[(String, Double)])]): Seq[String] = {
    val names = rows.headOption.map(_._2.map(_._1)).getOrElse(Nil)
    val wall = rows.map(_._1.phases.getOrElse("triggerExecution", 0L).toDouble).sum
    val lines = names.map { n =>
      val xs = rows.map(_._2.toMap.apply(n))
      f"  $n%-16s ${med(xs)}%10.1f ${xs.sum}%10.0f ${if (wall > 0) 100 * xs.sum / wall else 0.0}%6.1f%%"
    }
    val unattr = rows.map(_._2.toMap.apply("unattributed")).sum
    (f"self time by layer     p50 ms/batch   total ms  share" +: lines) :+
      f"  attributed to named layers: ${if (wall > 0) 100 * (1 - unattr / wall) else 0.0}%.1f%% of ${rows.size} batches' wall"
  }

  /** Writes the spans of a traced run as JSON lines. */
  private def writeSpans(ctx: Ctx, bs: Seq[BatchRec], spans: Seq[Span]): String = {
    val dir = new java.io.File(s"${ctx.work}/trace"); dir.mkdirs()
    val f = new java.io.File(dir, s"${ctx.args.workload}-seed${ctx.args.seed}.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      bs.foreach { b =>
        val ph = b.phases.map { case (k, v) => s""""$k":$v""" }.mkString(",")
        w.println(s"""{"span":"stream.batch","batch":${b.id},"start_us":${b.startMs * 1000},""" +
          s""""end_us":${b.commitMs * 1000},"rows":${b.rows},"phases_ms":{$ph}}""")
      }
      spans.sortBy(_.startNs).foreach { s =>
        w.println(s"""{"span":"${s.name}","batch":${s.batch},"start_us":${Clock.usOfNanos(s.startNs)},""" +
          s""""end_us":${Clock.usOfNanos(s.endNs)},"count":${s.count}}""")
      }
    } finally w.close()
    f.getPath
  }

  private def sparkMetrics(ctx: Ctx, bs: Seq[BatchRec]): Seq[Metric] = {
    val probe = ctx.probe.get
    val ids = bs.map(_.id).toSet
    val jobs = probe.jobs.asScala.toSeq.map(_.longValue).filter(ids)
    val stages = probe.stages.asScala.toSeq.filter(s => ids(s.batch))
    val share = bs.map { b =>
      val iv = stages.filter(_.batch == b.id)
        .map(s => (math.max(s.submitMs, b.startMs).toDouble, math.min(s.endMs, b.commitMs).toDouble))
      if (b.wallMs <= 0) 0.0 else 1.0 - Stats.unionLength(iv) / b.wallMs
    }
    val per = (f: Long => Double) => med(bs.map(b => f(b.id)))
    Seq(
      m("spark.jobs_per_batch", per(id => jobs.count(_ == id).toDouble), "count"),
      m("spark.stages_per_batch", per(id => stages.count(_.batch == id).toDouble), "count"),
      m("spark.tasks_per_batch", per(id => stages.filter(_.batch == id).map(_.tasks).sum.toDouble), "count"),
      m("spark.executor_cpu_ms", stages.map(_.cpuNs).sum / 1e6, "ms"),
      m("spark.shuffle_write_bytes", stages.map(_.shuffleWrite).sum.toDouble, "bytes"),
      m("spark.spill_bytes", stages.map(_.spill).sum.toDouble, "bytes"),
      m("spark.driver_share", med(share), "ratio"))
  }

  private def sinkMetrics(bs: Seq[BatchRec], spans: Seq[Span], events: Double,
                          before: Snapshot, after: Snapshot): Seq[Metric] = {
    def perBatch(name: String) = bs.map(b => spans.filter(s => s.batch == b.id && s.name == name).map(_.ms).sum)
    SinkLayers.map(n => m(n + "_ms_p50", med(perBatch(n)), "ms")) ++ Seq(
      m("sink.writer_other_ms_p50", med(bs.map(b =>
        b.phases.getOrElse("addBatch", b.wallMs) -
          spans.filter(s => s.batch == b.id && TopCalls.contains(s.name)).map(_.ms).sum)), "ms"),
      m("sink.upserts_per_event", (after.upserts - before.upserts) / math.max(events, 1.0), "ratio"))
  }

  private def esMetrics(before: Snapshot, after: Snapshot): Seq[Metric] = {
    val actions = (after.actions - before.actions).toDouble
    val scans = MockEs.scans.asScala.toSeq
      .filter { case (us, _) => us >= before.atUs && us <= after.atUs }.map(_._2.toDouble)
    Seq(
      m("es.bulk_calls", (after.bulkCalls - before.bulkCalls).toDouble, "count"),
      m("es.actions", actions, "count"),
      m("es.bytes", (after.bytes - before.bytes).toDouble, "bytes"),
      m("es.busy_ms", (after.busyNs - before.busyNs) / 1e6, "ms"),
      m("es.conflict_ratio", if (actions == 0) 0.0
        else (after.conflicts - before.conflicts + after.notFound - before.notFound) / actions, "ratio"),
      m("es.scan_rows_p50", med(scans), "count"))
  }

  private def jvmMetrics(before: Snapshot, after: Snapshot): Seq[Metric] = Seq(
    m("jvm.gc_ms", (after.gcMs - before.gcMs).toDouble, "ms"),
    m("jvm.heap_peak_mb", after.heapPeakMb, "MB"))

  def tail(ctx: Ctx, bs: Seq[BatchRec], src: ScheduledTransport, winStartUs: Long, winEndUs: Long,
           nWarm: Int, before: Snapshot, after: Snapshot, state: Option[StateWatch],
           store: Option[MockEsStore]): (Seq[Metric], Seq[String]) = {
    val spans = ctx.spans.get.all.asScala.toSeq
    val polls = src.polls.asScala.toSeq.filter(p => p.atUs >= winStartUs && p.atUs <= winEndUs)
    val waits = for (b <- bs; i <- math.max(b.from, nWarm) until b.until)
      yield b.startMs - src.dueUs(i) / 1000.0
    val ph = (k: String) => med(bs.map(_.phases.getOrElse(k, 0L).toDouble))
    val events = bs.map(_.rows).sum.toDouble
    val metrics = Seq(
      m("stream.batches", bs.size, "count"),
      m("stream.rows_per_batch_p50", med(bs.map(_.rows.toDouble)), "count"),
      m("stream.batch_ms_p50", med(bs.map(_.wallMs.toDouble)), "ms"),
      m("stream.batch_ms_p99", Stats.pct(bs.map(_.wallMs.toDouble), 0.99), "ms"),
      m("stream.planning_ms_p50", ph("queryPlanning"), "ms"),
      m("stream.add_batch_ms_p50", ph("addBatch"), "ms"),
      m("stream.commit_ms_p50", med(bs.map(b =>
        (b.phases.getOrElse("walCommit", 0L) + b.phases.getOrElse("commitOffsets", 0L)).toDouble)), "ms"),
      m("source.poll_ms_p50", med(polls.map(_.ms)), "ms"),
      m("source.queue_wait_ms_p50", med(waits), "ms"),
      m("source.backlog_events_max", polls.map(_.backlog.toDouble).maxOption.getOrElse(0.0), "count")) ++
      sinkMetrics(if (store.isDefined) bs else Nil, spans, events, before, after) ++
      esMetrics(before, after) ++
      Seq(
        m("state.rows", state.flatMap(w => graft.streaming.StreamingUpsert
          .latestState(ctx.spark, w.dir)).map(_.count().toDouble).getOrElse(0.0), "count"),
        m("state.bytes_per_version", med(state.toSeq.flatMap(_.versionBytes.values.map(_.toDouble))), "bytes"),
        m("state.versions_on_disk", state.map(_.maxOnDisk.toDouble).getOrElse(0.0), "count")) ++
      sparkMetrics(ctx, bs) ++ jvmMetrics(before, after)
    val rows = bs.map(b => b -> selfTimes(b, spans, stateMerge = store.isEmpty))
    val path = writeSpans(ctx, bs, spans)
    (metrics, table(rows) :+ s"spans: $path")
  }

  def backfill(ctx: Ctx, passes: Seq[(Long, Long)], docs: Long,
               before: Snapshot, after: Snapshot): (Seq[Metric], Seq[String]) = {
    val spans = ctx.spans.get.all.asScala.toSeq
    val bs = passes.zipWithIndex.map { case ((t0, t1), p) =>
      val wallMs = (t1 - t0) / 1000
      BatchRec(p.toLong, 0, docs.toInt, t0 / 1000, t1 / 1000,
        Map("addBatch" -> wallMs, "triggerExecution" -> wallMs))
    }
    val metrics = Seq(
      m("stream.batches", bs.size, "count"),
      m("stream.rows_per_batch_p50", docs.toDouble, "count"),
      m("stream.batch_ms_p50", med(bs.map(_.wallMs.toDouble)), "ms"),
      m("stream.batch_ms_p99", Stats.pct(bs.map(_.wallMs.toDouble), 0.99), "ms"),
      m("stream.planning_ms_p50", 0.0, "ms"),
      m("stream.add_batch_ms_p50", med(bs.map(_.wallMs.toDouble)), "ms"),
      m("stream.commit_ms_p50", 0.0, "ms"),
      m("source.poll_ms_p50", 0.0, "ms"),
      m("source.queue_wait_ms_p50", 0.0, "ms"),
      m("source.backlog_events_max", 0.0, "count")) ++
      sinkMetrics(bs, spans, docs.toDouble * bs.size, before, after) ++
      esMetrics(before, after) ++
      Seq(m("state.rows", 0, "count"), m("state.bytes_per_version", 0, "bytes"),
        m("state.versions_on_disk", 0, "count")) ++
      sparkMetrics(ctx, bs) ++ jvmMetrics(before, after)
    val rows = bs.map(b => b -> selfTimes(b, spans, stateMerge = false))
    val path = writeSpans(ctx, bs, spans)
    (metrics, table(rows) :+ s"spans: $path")
  }
}
