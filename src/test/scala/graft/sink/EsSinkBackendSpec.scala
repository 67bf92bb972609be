package graft.sink

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.config.GraftConfig
import graft.source.ChangeEvent

/** Static recording surface for the mock transport: `foreachPartition`
  * serializes the transport into executor closures, so a plain field
  * would mutate a deserialized COPY — local mode shares the JVM, so
  * object-held state keyed by test id is what both sides see. */
object EsMock {
  val payloads = TrieMap[String, ConcurrentLinkedQueue[String]]()
  val indexDrops = TrieMap[String, ConcurrentLinkedQueue[String]]()
  val pipelines = TrieMap[String, ConcurrentLinkedQueue[(String, String)]]()
  val sleeps = TrieMap[String, ConcurrentLinkedQueue[Long]]()
  /** Scripted per-call status overrides, consumed in bulk-call order;
    * when exhausted every action returns 200. A script shorter than the
    * action count pads with 200s. */
  val scripts = TrieMap[String, ConcurrentLinkedQueue[Seq[Int]]]()

  def q[T](m: TrieMap[String, ConcurrentLinkedQueue[T]],
           k: String): ConcurrentLinkedQueue[T] =
    m.getOrElseUpdate(k, new ConcurrentLinkedQueue[T]())

  def reset(k: String): Unit = {
    payloads.remove(k); indexDrops.remove(k); pipelines.remove(k)
    sleeps.remove(k); scripts.remove(k)
  }

  /** Action lines in a bulk payload (doc lines after an index action are
    * skipped — they are sources, not actions). */
  def actionCount(payload: String): Int = {
    val lines = payload.split("\n")
    var i = 0; var n = 0
    while (i < lines.length) {
      if (lines(i).startsWith("""{"index"""")) { n += 1; i += 2 }
      else if (lines(i).startsWith("""{"delete"""")) { n += 1; i += 1 }
      else i += 1
    }
    n
  }
}

final class MockEsTransport(key: String,
                            state: Seq[(String, String, String, String)] = Nil)
    extends EsTransport {
  override def bulk(payload: String): Seq[Int] = {
    EsMock.q(EsMock.payloads, key).add(payload)
    val n = EsMock.actionCount(payload)
    Option(EsMock.q(EsMock.scripts, key).poll())
      .map(s => s.padTo(n, 200).take(n))
      .getOrElse(Seq.fill(n)(200))
  }
  override def deleteIndex(pattern: String): Unit =
    EsMock.q(EsMock.indexDrops, key).add(pattern)
  override def putPipeline(id: String, body: String): Unit =
    EsMock.q(EsMock.pipelines, key).add((id, body))
  override def scanState(): Seq[(String, String, String, String)] = state
}

/** The ES deployment skeleton against the mock transport: action JSON,
  * external-version fencing (409/404 ignored), chunking, partial retry
  * with T7 backoff, loud failure, K3 patterns, K8 pipelines. */
class EsSinkBackendSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def upsertDf(rows: (String, String, String, Long, String)*) = {
    val rs = rows.map { case (ix, id, rt, v, doc) => Row(ix, id, rt, v, doc) }
    spark.createDataFrame(
      java.util.Arrays.asList(rs: _*),
      StructType(Seq(StructField("meta_index", StringType),
        StructField("meta_id", StringType),
        StructField("meta_routing", StringType),
        StructField("meta_version", LongType),
        StructField("document", StringType)))).repartition(1)
  }

  private def backend(key: String, es: EsSinkConfig = EsSinkConfig()) =
    new EsSinkBackend(new MockEsTransport(key), es,
      sleep = ms => EsMock.q(EsMock.sleeps, key).add(ms))

  test("upsert actions carry external versions; routing only when set") {
    val key = "es-upsert"; EsMock.reset(key)
    backend(key).bulkUpsert(upsertDf(
      ("idx_a", "1", "r1", 10L, """{"a":1}"""),
      ("idx_a", "2", null, 11L, """{"a":2}""")))
    val ps = EsMock.q(EsMock.payloads, key).asScala.toSeq
    assert(ps.length == 1)
    val lines = ps.head.trim.split("\n")
    assert(lines.length == 4)
    assert(lines(0) ==
      """{"index":{"_index":"idx_a","_id":"1","routing":"r1","version":10,"version_type":"external"}}""")
    assert(lines(1) == """{"a":1}""")
    assert(lines(2) ==
      """{"index":{"_index":"idx_a","_id":"2","version":11,"version_type":"external"}}""")
  }

  test("chunking flushes at maxActions") {
    val key = "es-chunk"; EsMock.reset(key)
    backend(key, EsSinkConfig(maxActions = 2)).bulkUpsert(upsertDf(
      (1 to 5).map(i => ("idx", i.toString, null, i.toLong, "{}")): _*))
    val ps = EsMock.q(EsMock.payloads, key).asScala.toSeq
    assert(ps.map(EsMock.actionCount).sorted == Seq(1, 2, 2))
  }

  test("409 (stale replay) and 404 (delete of absent doc) are ignored") {
    val key = "es-409"; EsMock.reset(key)
    EsMock.q(EsMock.scripts, key).add(Seq(409, 200))
    backend(key).bulkUpsert(upsertDf(
      ("idx", "1", null, 5L, "{}"), ("idx", "2", null, 6L, "{}")))
    assert(EsMock.q(EsMock.payloads, key).size == 1)   // no retry
    assert(EsMock.q(EsMock.sleeps, key).isEmpty)

    EsMock.q(EsMock.scripts, key).add(Seq(404))
    val dels = spark.createDataFrame(
      java.util.Arrays.asList(Row("idx", "9", null, 7L)),
      StructType(Seq(StructField("del_index", StringType),
        StructField("id", StringType),
        StructField("del_routing", StringType),
        StructField("del_version", LongType)))).repartition(1)
    backend(key).delete(dels)
    assert(EsMock.q(EsMock.payloads, key).asScala.toSeq.last.startsWith(
      """{"delete":{"_index":"idx","_id":"9","version":7,"version_type":"external"}}"""))
  }

  test("429 retries ONLY the rejected item, with backoff, then succeeds") {
    val key = "es-429"; EsMock.reset(key)
    EsMock.q(EsMock.scripts, key).add(Seq(200, 429))
    backend(key, EsSinkConfig(backoffBaseMs = 7, backoffCapMs = 100))
      .bulkUpsert(upsertDf(
        ("idx", "1", null, 5L, "{}"), ("idx", "2", null, 6L, "{}")))
    val ps = EsMock.q(EsMock.payloads, key).asScala.toSeq
    assert(ps.length == 2)
    assert(EsMock.actionCount(ps(1)) == 1)             // partial retry
    assert(ps(1).contains(""""_id":"2""""))
    assert(EsMock.q(EsMock.sleeps, key).asScala.toSeq == Seq(7L))
  }

  test("a non-retryable status fails the batch loudly") {
    val key = "es-400"; EsMock.reset(key)
    EsMock.q(EsMock.scripts, key).add(Seq(400))
    val e = intercept[Exception] {
      backend(key).bulkUpsert(upsertDf(("idx", "1", null, 5L, "{}")))
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(m => m != null && m.contains("es bulk")))
    assert(EsMock.q(EsMock.sleeps, key).isEmpty)       // 400 never sleeps
  }

  test("retry exhaustion on persistent 429 throws (checkpoint replays)") {
    val key = "es-exhaust"; EsMock.reset(key)
    (0 to 2).foreach(_ => EsMock.q(EsMock.scripts, key).add(Seq(429)))
    intercept[Exception] {
      backend(key, EsSinkConfig(maxRetries = 2, backoffBaseMs = 1))
        .bulkUpsert(upsertDf(("idx", "1", null, 5L, "{}")))
    }
    assert(EsMock.q(EsMock.sleeps, key).size == 2)
  }

  test("K3 drops: exact pattern verbatim, prefix gets the star") {
    val key = "es-drop"; EsMock.reset(key)
    val drops = spark.createDataFrame(
      java.util.Arrays.asList(Row("exact", "parts_idx"), Row("prefix", "app.")),
      StructType(Seq(StructField("kind", StringType),
        StructField("pattern", StringType))))
    backend(key).dropIndexes(drops)
    assert(EsMock.q(EsMock.indexDrops, key).asScala.toSet ==
      Set("parts_idx", "app.*"))
  }

  test("K4 history ids are deterministic source_id@version (replay-safe)") {
    val key = "es-hist"; EsMock.reset(key)
    val hist = spark.createDataFrame(
      java.util.Arrays.asList(
        Row("log.app.t0.2024-01-01", "7", "7", 12L, """{"a":1}""")),
      StructType(Seq(StructField("history_index", StringType),
        StructField("source_id", StringType),
        StructField("history_routing", StringType),
        StructField("version", LongType),
        StructField("document", StringType)))).repartition(1)
    backend(key).appendHistory(hist)
    val p = EsMock.q(EsMock.payloads, key).asScala.toSeq.head
    assert(p.contains(""""_id":"7@12""""))
    assert(!p.contains("version_type"))                // append-only, unversioned
  }

  test("quarantine lands in the rejects index with deterministic ids") {
    val key = "es-rej"; EsMock.reset(key)
    val rej = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(42L, "app.t0", "i", null, 9L, "empty_id"),
        Row(43L, "app.t0", "u", "x" * 600, 10L, "oversized_id")),
      StructType(Seq(StructField("event_id", LongType),
        StructField("namespace", StringType),
        StructField("operation", StringType),
        StructField("id", StringType),
        StructField("version", LongType),
        StructField("reject_reason", StringType)))).repartition(1)
    backend(key).quarantine(rej)
    val p = EsMock.q(EsMock.payloads, key).asScala.toSeq.head
    assert(p.contains(""""_index":"graft.rejects""""))
    // deterministic _id = event_id@reason: a replayed batch overwrites
    // its own reject rows instead of double-reporting
    assert(p.contains(""""_id":"42@empty_id""""))
    assert(p.contains(""""_id":"43@oversized_id""""))
    assert(p.contains(""""reason":"empty_id""""))
    assert(p.contains(""""id":null"""), "null id survives as JSON null")
    assert(!p.contains("version_type"), "one row per (op, reason)")
  }

  test("K8 bootstrap installs one attachment pipeline per file index") {
    val key = "es-boot"; EsMock.reset(key)
    backend(key).bootstrap(GraftConfig(),
      Seq("app.parts" -> "parts_idx", "app.blobs" -> "app.blobs"))
    val ps = EsMock.q(EsMock.pipelines, key).asScala.toSeq
    assert(ps.map(_._1) == Seq("parts_idx-attachment", "app.blobs-attachment"))
    assert(ps.forall(_._2.contains(""""attachment"""")))
  }

  test("sinkState surfaces the transport's coordinate view") {
    val key = "es-state"; EsMock.reset(key)
    val b = new EsSinkBackend(new MockEsTransport(key,
      state = Seq(("app.t0", "1", "app.t0", "1"))))
    val rows = b.sinkState(spark).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getString(3))).toSeq == Seq(("app.t0", "1", "app.t0", "1")))
  }

  test("an over-cap scanState fails loudly, naming the connector-read fix") {
    val key = "es-state-cap"; EsMock.reset(key)
    val big = (0 until 6).map(i => ("app.t0", i.toString, "app.t0", null: String))
    val b = new EsSinkBackend(new MockEsTransport(key, state = big),
      EsSinkConfig(maxScanStateRows = 5))
    val e = intercept[IllegalArgumentException](b.sinkState(spark))
    assert(e.getMessage.contains("connector READ") &&
      e.getMessage.contains("maxScanStateRows"))
    // at the cap is fine — the guard is a ceiling, not a headroom check
    val ok = new EsSinkBackend(new MockEsTransport(key, state = big.take(5)),
      EsSinkConfig(maxScanStateRows = 5))
    assert(ok.sinkState(spark).count() == 5)
  }

  /** Spark jobs `body` starts on this thread. A marker job after `body`
    * bounds the count: the listener bus delivers job starts in order, so
    * once the marker's arrives, every job of `body` has been seen. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.spec.jobs"
    val run = java.util.UUID.randomUUID.toString
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)).orNull match {
          case `run` => seen.incrementAndGet()
          case m if m == run + "/marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, run)
      body
      sc.setLocalProperty(tag, run + "/marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      seen.get
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("one writeBatch runs a pinned number of Spark jobs") {
    import spark.implicits._
    val key = "es-jobs"; EsMock.reset(key)
    def ev(eid: Long, id: String, ns: String, op: String, ver: Long) = {
      val Array(db, coll) = ns.split("\\.", 2)
      ChangeEvent(eid, id, db, coll, ns, op, ver * 1000L, ver,
        if (op == "d") null else s"""{"v":$ver}""", 0.0, "oplog")
    }
    val batch = Seq(
      ev(0, "1", "app.t0", "i", 10), ev(1, "1", "app.t0", "u", 11),
      ev(2, "2", "app.t0", "d", 12), ev(3, "3", "app.t1", "i", 13),
      ev(4, "4", "app.t1", "d", 14), ev(5, "5", "app.t2", "u", 15),
      ChangeEvent(6, null, "app", null, "app.t2", "drop_coll", 16000L, 16L,
        null, 0.0, "oplog"),
      ev(7, "6", "app.t2", "i", 17))
    val held = Seq(("app.t0", "2", "app.t0", null: String),
      ("app.t1", "4", "app.t1", null: String),
      ("app.t2", "5", "app.t2", null: String))
    val backend = new EsSinkBackend(new MockEsTransport(key, held),
      sleep = _ => ())
    val cfg = GraftConfig(timeMachineNamespaces = Seq("app.t0"))
    val jobs = jobsOf(SinkWriter.writeBatch(batch.toDF(), cfg, backend))
    assert(EsMock.q(EsMock.indexDrops, key).asScala.toSeq == Seq("app.t2"))
    val actions = EsMock.q(EsMock.payloads, key).asScala.toSeq
      .flatMap(_.split("\n"))
    assert(actions.count(_.contains("log.app.t0.")) == 3)
    assert(actions.count(_.startsWith("""{"delete"""")) == 2)
    assert(actions.count(_.startsWith("""{"index":{"_index":"app.t""")) == 3)
    // the checkpoint with its one LWW ranking, the drop collect, the
    // quarantine/history/upsert bulk jobs and the delete resolution; a
    // change that brings back per-layer recomputation raises this count
    assert(jobs == 10, s"writeBatch ran $jobs Spark jobs")
  }

  test("action metadata JSON-escapes quotes, backslashes, controls") {
    assert(EsSinkBackend.js("a\"b\\c\n") == "\"a\\\"b\\\\c\\u000a\"")
    assert(EsSinkBackend.js(null) == "null")
  }
}
