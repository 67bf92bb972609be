package perfbench

import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.config.{ConfiguredPipeline, GraftConfig}
import graft.sink.{EsSinkBackend, EsSinkConfig, SinkBackend, SinkWriter}
import graft.source.{SourceTransports, TransportSource}
import graft.streaming.StreamingUpsert

final case class Metric(name: String, value: Double, unit: String)

final case class Result(attempted: Long, failed: Long, e2e: Seq[Metric],
                        layers: Seq[Metric], notes: Seq[String])

/** What a run is given: the session, the parsed arguments and the session
  * start-up time. */
final case class Ctx(spark: SparkSession, args: Args, sessionS: Double) {
  def work: String = args.work
  val spans: Option[Spans] = if (args.trace) Some(new Spans) else None
  val probe: Option[SparkProbe] = if (args.trace) Some(new SparkProbe) else None
}

/** One micro-batch as its `StreamingQueryProgress` reports it: the op
  * range [from, until) it carried, its trigger start and commit (wall ms). */
final case class BatchRec(id: Long, from: Int, until: Int, startMs: Long, commitMs: Long,
                          phases: Map[String, Long]) {
  def rows: Int = until - from
  def wallMs: Long = commitMs - startMs
}

object Workloads {
  /** The daemon config every workload runs under, in the daemon's own TOML
    * surface: stateless deletes with delete protection, one time-machine
    * namespace, one join-only relation, and the backfill's direct reads. */
  val ConfigToml: String =
    """delete-strategy = 0
      |time-machine-namespaces = ["app.t0"]
      |direct-read-namespaces = ["app.c0", "app.c1", "app.c2", "app.c3"]
      |
      |[[relate]]
      |namespace = "app.t2"
      |with-namespace = "app.ref"
      |src-field = "document.ref"
      |match-field = "id"
      |""".stripMargin

  /** Set-up (generation plus pre-load or seed) is repeated this many times
    * and its median reported. */
  val SetupReps = 3
  /** Seconds of the open-loop schedule that run after the warm-up batch and
    * before the timed window. The `--sink` pipeline's per-batch driver
    * work is still falling for a few batches after the warm-up; the
    * state pipeline's executor-bound batches settle after one. */
  val SinkSettleS = 8
  val StateSettleS = 4
  /** The daemon's `--interval` (whole seconds). At HEAD a batch of 4 s of
    * ops finishes within 4 s, so batches start on the trigger's clock and
    * one slow batch does not grow the next one, as it does when batches
    * run back to back. */
  val TriggerIntervalS = 4
  val TailRate = 2000
  /** The daemon's `--maxDocs` default. */
  val MaxDocs = 10000
  val DrainTimeoutS = 60

  def cfg: GraftConfig = GraftConfig.fromToml(ConfigToml)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def rmrf(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.isDirectory) f.listFiles().foreach(c => rmrf(c.getPath))
    f.delete()
  }

  private def sideIndexes(c: GraftConfig) = Seq(c.timeMachineIndexPrefix + ".", EsSinkConfig().rejectsIndex)

  private def backend(ctx: Ctx, t: MockEsTransport, es: EsSinkConfig): SinkBackend =
    ctx.spans match {
      case Some(sp) => new EsSinkBackend(t, es) with TimedLayers { def spans: Spans = sp }
      case None => new EsSinkBackend(t, es)
    }

  // ---------------------------------------------------------------- tail

  /** The pre-loaded index for `tail_sink`: every pre-existing user doc
    * outside the join-only namespace, and the related collection. */
  def preload(keys: Int, seed: Long): Iterator[((String, String), EsDoc)] =
    (0 until keys).iterator.map(_.toLong).filter(k => Gen.nsOf(k) != "app.t2").map { k =>
      val ns = Gen.nsOf(k); val id = Gen.idOf(ns, k)
      ((ns, id), EsDoc(1L, id, Gen.body(k, 0, Gen.seedRef(seed, k))))
    } ++ (0 until Gen.RefDocs).iterator.map { r =>
      val id = Gen.idOf("app.ref", r)
      (("app.ref", id), EsDoc(1L, id, Gen.refBody(r)))
    }

  /** The seeded snapshot for `tail_state`, as direct-read insert ops. */
  def snapshot(spark: SparkSession, keys: Int, seed: Long): DataFrame = {
    val k = col("id")
    val ns = concat(lit("app.t"), (k % 4).cast("string"))
    val ref = pmod(k * 7919L + seed, lit(Gen.RefDocs.toLong))
    spark.range(keys).select(
      lit(0L).as("event_id"),
      concat(lit("u"), k.cast("string")).as("id"),
      lit("app").as("db"),
      concat(lit("t"), (k % 4).cast("string")).as("coll"),
      ns.as("namespace"),
      lit("i").as("operation"),
      lit(0L).as("ts_us"),
      lit(0L).as("version"),
      concat(lit("{\"k\":"), k.cast("string"), lit(",\"seq\":0,\"ref\":\"r"), ref.cast("string"),
        lit("\",\"pad\":\"" + Gen.Pad + "\"}")).as("document"),
      lit(0.0d).as("value"),
      lit("direct_read").as("source"))
  }

  private def batches(q: StreamingQuery): Seq[BatchRec] =
    q.recentProgress.toSeq.filter(p => p.numInputRows > 0 && p.sources.nonEmpty)
      .map { p =>
        val start = Instant.parse(p.timestamp).toEpochMilli
        BatchRec(p.batchId, token(p.sources(0).startOffset), token(p.sources(0).endOffset),
          start, start + p.batchDuration,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
      .groupBy(_.id).values.map(_.head).toSeq.sortBy(_.id)

  private val TokenRe = "\"token\":\"([A-Za-z0-9+/=]*)\"".r
  private def token(offsetJson: String): Int =
    Option(offsetJson).flatMap(j => TokenRe.findFirstMatchIn(j))
      .map(m => new String(java.util.Base64.getDecoder.decode(m.group(1)), "UTF-8").toInt)
      .getOrElse(0)

  def tail(ctx: Ctx, state: Boolean): Result = {
    val spark = ctx.spark; val a = ctx.args; val c = cfg
    val rate = if (a.small) 500 else TailRate
    val settleS = if (a.small) 2 else if (state) StateSettleS else SinkSettleS
    // one second's ops form the warm-up batch; the settling ops follow
    val n = rate * (1 + settleS + a.seconds)
    val nWarm = rate * (1 + settleS)
    val keys = (state, a.small) match {
      case (true, false) => 500000
      case (true, true) => 20000
      case (false, false) => 50000
      case (false, true) => 5000
    }
    val dir = s"${ctx.work}/${a.workload}"
    rmrf(dir)
    val tRun = System.nanoTime()

    // set-up, repeated: generate the ops, then pre-load the index or seed
    // the state
    var ops: Array[GenOp] = null
    var stateDir = ""
    val esName = a.workload
    var store: Option[MockEsStore] = None
    val setupRuns = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      ops = Gen.tail(a.seed, n, keys, zipf = !state, cold = !state)
      if (state) {
        if (stateDir.nonEmpty) rmrf(stateDir)
        stateDir = s"$dir/state$r"
        StreamingUpsert.seedState(ConfiguredPipeline.hotPath(c)(snapshot(spark, keys, a.seed)), stateDir)
      } else {
        val st = MockEs.create(esName, sideIndexes(c))
        preload(keys, a.seed).foreach { case ((ix, id), d) => st.put(ix, id, d) }
        store = Some(st)
      }
      secs(t0)
    }

    val src = new ScheduledTransport(ops, 1000000L / rate, warm = rate)
    src.spans = ctx.spans
    store.foreach(_.spans = ctx.spans)
    val key = s"perfbench-${a.workload}"
    SourceTransports.register(key, src)
    val events = spark.readStream.format(TransportSource.Format)
      .option("transport", key).option("maxDocs", MaxDocs.toString).load()
    def refs = spark.createDataFrame((0 until Gen.RefDocs).map(r =>
      (Gen.idOf("app.ref", r), Gen.refBody(r)))).toDF("id", "document")
    val trigger = Trigger.ProcessingTime(TriggerIntervalS * 1000L)
    src.warmStartUs = Clock.nowUs()
    val q =
      if (state) ConfiguredPipeline.startStream(c)(events, stateDir, s"$dir/checkpoint", trigger)
      else ConfiguredPipeline.startRoutedSink(c, collections = Map("app.ref" -> refs))(
        events, s"$dir/checkpoint", backend(ctx, MockEsTransport(esName), EsSinkConfig()), trigger)

    val stateWatch = if (state) ctx.spans.map(new StateWatch(stateDir, _)) else None
    def sleepUntilUs(us: Long): Unit = while (Clock.nowUs() < us && q.isActive) {
      stateWatch.foreach(_.look())
      Thread.sleep(math.max(1L, math.min(100L, (us - Clock.nowUs()) / 1000)))
    }
    // warm-up: the first batch carries the warm-up ops; the open-loop
    // schedule starts once it has committed
    while (q.isActive && batches(q).isEmpty) Thread.sleep(5)
    src.startUs = Clock.nowUs()
    val warmUpS = (src.startUs - src.warmStartUs) / 1e6

    val winStartUs = src.dueUs(nWarm)
    val winEndUs = src.startUs + (settleS + a.seconds) * 1000000L
    sleepUntilUs(winStartUs)
    val before = Snapshot.take()
    sleepUntilUs(winEndUs)
    val after = Snapshot.take()
    val drainEndUs = winEndUs + DrainTimeoutS * 1000000L
    while (q.isActive && Clock.nowUs() < drainEndUs &&
        batches(q).lastOption.forall(_.until < n)) {
      stateWatch.foreach(_.look())
      Thread.sleep(20)
    }
    stateWatch.foreach(_.look())
    val died = q.exception.map(e => s"stream failed: ${e.getMessage.linesIterator.nextOption().getOrElse("")}")
    val stopMs = Clock.nowUs() / 1000.0
    q.stop()
    SourceTransports.unregister(key)
    val bs = batches(q)
    val applied = bs.lastOption.map(_.until).getOrElse(0)

    // latency: each timed op, from its creation to its batch's commit; an
    // op never applied counts with the time it had waited when the run
    // stopped, a lower bound
    val lat = (for (b <- bs; i <- math.max(b.from, nWarm) until b.until)
      yield b.commitMs - src.dueUs(i) / 1000.0) ++
      (math.max(applied, nWarm) until n).map(i => stopMs - src.dueUs(i) / 1000.0)
    val inWin = bs.filter(b => b.commitMs * 1000 >= winStartUs && b.commitMs * 1000 <= winEndUs)
    // events applied per second: the rows of the window's batches after
    // the first, over the time between the first and the last batch's
    // poll; equals the offered rate while the stream keeps up
    val polledAt = src.polls.asScala.map(p => (p.from, p.until) -> p.atUs).toMap
    def pollUs(b: BatchRec) = polledAt.getOrElse((b.from, b.until), b.startMs * 1000)
    val throughput =
      if (inWin.size >= 2)
        inWin.tail.map(_.rows).sum / ((pollUs(inWin.last) - pollUs(inWin.head)) / 1e6)
      else inWin.map(_.rows).sum.toDouble / a.seconds

    val tCheck = System.nanoTime()
    val verdict = store match {
      case Some(st) =>
        if (a.corrupt) corruptOne(st)
        Oracle.tailSink(st, preload(keys, a.seed), src, ops, applied)
      case None =>
        val rows = StreamingUpsert.latestState(spark, stateDir).toSeq.flatMap(
          _.select("namespace", "id", "operation", "version", "document").collect().toSeq)
          .iterator.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getString(4)))
        val fed = if (a.corrupt) rows.zipWithIndex.map {
          case ((ns, id, op, v, _), 0) => (ns, id, op, v, "{\"corrupt\":true}")
          case (r, _) => r
        } else rows
        Oracle.tailState(fed, keys, a.seed, src, ops, applied)
    }

    val setupS = ctx.sessionS + Stats.median(setupRuns) + warmUpS
    val e2e = Seq(
      Metric("sync_latency_p50_ms", Stats.pct(lat, 0.5), "ms"),
      Metric("sync_latency_p99_ms", Stats.pct(lat, 0.99), "ms"),
      Metric("throughput_eps", throughput, "1/s"),
      Metric("setup_s", setupS, "s"))
    val (layers, layerNotes) = if (!a.trace) (Nil, Nil) else Layers.tail(ctx, inWin, src,
      winStartUs, winEndUs, nWarm, before, after, stateWatch, store)
    Result(n.toLong, verdict.failed, e2e, layers,
      verdict.notes ++ died.toSeq ++ layerNotes ++ Seq(
        f"latency samples: ${lat.size} ops in the timed window; ${bs.size} batches, ${inWin.size} committed in the window",
        s"batch walls (ms), rows: ${bs.map(b => s"${b.wallMs}/${b.rows}").mkString(" ")}",
        f"set-up: session ${ctx.sessionS}%.2f s, median generate+${if (state) "seed" else "pre-load"} " +
          f"${Stats.median(setupRuns)}%.2f s of ${setupRuns.map(x => f"$x%.2f").mkString("/")}, first batch $warmUpS%.2f s",
        s"offered $n ops: $rate in the warm-up batch, then $rate/s for ${settleS}s settling + " +
          s"${a.seconds}s timed; applied $applied",
        f"wall: set-up, stream and drain ${(tCheck - tRun) / 1e9}%.1f s, check ${secs(tCheck)}%.1f s"))
  }

  private def corruptOne(st: MockEsStore): Unit = {
    val m = st.docs.get("app.t1")
    val id = m.keys.asScala.min
    m.computeIfPresent(id, (_, d) => d.copy(body = "{\"corrupt\":true}"))
  }

  // ------------------------------------------------------------ backfill

  def backfill(ctx: Ctx): Result = {
    val spark = ctx.spark; val a = ctx.args; val c = cfg
    val tables = 4
    val perTable = if (a.small) 20000 else 125000
    val dir = s"${ctx.work}/backfill"
    rmrf(dir)
    val setupRuns = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      Backfill.generate(spark, s"$dir/input", tables, perTable, a.seed)
      secs(t0)
    }
    // A delete-resolution scan of the whole index runs on every batch, and
    // a backfill's index is the input size: raise the driver-side cap.
    val es = EsSinkConfig(maxScanStateRows = 4 * tables * perTable)
    def pass(name: String, input: String, batch: Long): (MockEsStore, Long, Long) = {
      MockEs.registry.keySet.asScala.filter(_.startsWith("backfill")).foreach(MockEs.registry.remove)
      val st = MockEs.create(name, sideIndexes(c))
      st.spans = ctx.spans
      val be = backend(ctx, MockEsTransport(name), es)
      spark.sparkContext.setLocalProperty(Spans.BatchKey, batch.toString)
      val t0 = Clock.nowUs()
      be.bootstrap(c, SinkWriter.fileIndexes(c))
      SinkWriter.writeBatch(ConfiguredPipeline.hotPath(c)(
        ConfiguredPipeline.directRead(c, spark, input)), c, be)
      val t1 = Clock.nowUs()
      spark.sparkContext.setLocalProperty(Spans.BatchKey, null)
      (st, t0, t1)
    }
    // warm-up: one pass of the same shape over a small input
    val w0 = System.nanoTime()
    Backfill.generate(spark, s"$dir/warm", tables, perTable / 50, a.seed)
    pass("backfill-warm", s"$dir/warm", -2L)
    val warmUpS = secs(w0)

    val before = Snapshot.take()
    val runs = scala.collection.mutable.ArrayBuffer[(Long, Long, Seq[(Double, Int)], Oracle.Verdict)]()
    val tEnd = System.nanoTime() + a.seconds * 1000000000L
    var p = 0L
    while (runs.isEmpty || System.nanoTime() < tEnd) {
      val (st, t0, t1) = pass(s"backfill-$p", s"$dir/input", p)
      val landed = st.landings.asScala.toSeq.map { case (us, k) => ((us - t0) / 1000.0, k) }
      if (a.corrupt && p == 0) st.docs.get("app.c1").computeIfPresent("c1-0",
        (_, d) => d.copy(body = "{\"corrupt\":true}"))
      runs += ((t0, t1, landed, Oracle.backfill(st, tables, perTable, a.seed)))
      p += 1
    }
    val after = Snapshot.take()
    val docs = tables.toLong * perTable
    val e2e = Seq(
      Metric("sync_latency_p50_ms", Stats.median(runs.map(r => Stats.weightedPct(r._3, 0.5)).toSeq), "ms"),
      Metric("sync_latency_p99_ms", Stats.median(runs.map(r => Stats.weightedPct(r._3, 0.99)).toSeq), "ms"),
      Metric("throughput_eps", Stats.median(runs.map(r => docs / ((r._2 - r._1) / 1e6)).toSeq), "1/s"),
      Metric("setup_s", ctx.sessionS + Stats.median(setupRuns) + warmUpS, "s"))
    val (layers, layerNotes) = if (!a.trace) (Nil, Nil) else Layers.backfill(ctx,
      runs.map(r => (r._1, r._2)).toSeq, docs, before, after)
    Result(docs * runs.size, runs.map(_._4.failed).sum, e2e, layers,
      runs.flatMap(_._4.notes).distinct.toSeq ++ layerNotes ++ Seq(
        s"latency samples: $docs docs per pass; passes: ${runs.size}; walls ${runs.map(r => f"${(r._2 - r._1) / 1e6}%.2f").mkString("/")} s",
        f"set-up: session ${ctx.sessionS}%.2f s, median generate ${Stats.median(setupRuns)}%.2f s of " +
          f"${setupRuns.map(x => f"$x%.2f").mkString("/")}, warm-up pass $warmUpS%.2f s"))
  }
}

/** The `backfill` input: `tables` collections of `perTable` rows each, as
  * parquet tables that the daemon's direct read scans. */
object Backfill {
  def body(t: Int, k: Long, seed: Long): String =
    s"""{"id":"c$t-$k","name":"n${java.lang.Math.floorMod(k + seed, 1000L)}",""" +
      s""""n":${java.lang.Math.floorMod(k * 7 + seed, 1000003L)},"pad":"${Gen.Pad}"}"""

  def generate(spark: SparkSession, dir: String, tables: Int, perTable: Int, seed: Long): Unit =
    (0 until tables).foreach { t =>
      val k = col("id")
      spark.range(perTable).select(
        concat(lit(s"c$t-"), k.cast("string")).as("id"),
        concat(lit("n"), pmod(k + seed, lit(1000L)).cast("string")).as("name"),
        pmod(k * 7 + seed, lit(1000003L)).as("n"),
        lit(Gen.Pad).as("pad"))
        .write.mode("overwrite").parquet(s"$dir/c$t.parquet")
    }
}
