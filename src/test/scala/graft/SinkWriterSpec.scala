package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.config.GraftConfig
import graft.sink.{InMemorySinkBackend, SinkWriter}
import graft.source.ChangeEvent

/** One writer drives all four K-layer op kinds (bulk upsert, delete
  * strategy, drop propagation, time-machine history) through the
  * pluggable [[SinkBackend]] against the in-memory mock — the packaged
  * `doIndexing`/`doDelete`/`doDrop` surface. */
class SinkWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ev(eid: Long, id: String, ns: String, op: String, ver: Long,
                 doc: String = """{"a":1}"""): ChangeEvent = {
    val Array(db, coll) = ns.split("\\.", 2)
    ChangeEvent(eid, id, db, coll, ns, op, ver * 1000L, ver, doc, 0.0,
      "oplog")
  }
  private def drop(eid: Long, ns: String, op: String,
                   ver: Long): ChangeEvent = {
    val db = ns.split("\\.", 2)(0)
    ChangeEvent(eid, null, db, null, ns, op, ver * 1000L, ver, null, 0.0,
      "oplog")
  }

  private val cfg = GraftConfig(
    mappings = Map("app.t1" -> "custom_t1"),
    timeMachineNamespaces = Seq("app.t0"))

  test("all four op kinds flow through one writer against the mock") {
    import spark.implicits._
    val backend = new InMemorySinkBackend
    // batch 1: inserts/updates in two namespaces (one mapped), then a
    // dropCollection that fences the EARLY t1 write but not the later one
    val b1 = Seq(
      ev(0, "1", "app.t0", "i", 10),
      ev(1, "1", "app.t0", "u", 11, """{"a":2}"""),
      ev(2, "2", "app.t0", "i", 12),
      ev(3, "9", "app.t1", "i", 13),          // loses LWW to ev(5) anyway
      ev(9, "8", "app.t1", "i", 13),          // FENCED: only op, pre-drop
      drop(4, "app.t1", "drop_coll", 14),
      ev(5, "9", "app.t1", "i", 15, """{"a":9}""")) // outlives the drop
    SinkWriter.writeBatch(b1.toDF(), cfg, backend)
    assert(backend.state.keySet == Set(
      ("app.t0", "1"), ("app.t0", "2"), ("custom_t1", "9")))
    assert(backend.state(("app.t0", "1")).version == 11)
    assert(backend.state(("custom_t1", "9")).version == 15)
    // K4: every t0 version appended (3 ops), dated index naming
    assert(backend.history.size == 3)
    assert(backend.history.forall(_._1.startsWith("log.app.t0.")))

    // batch 2: a delete for id 1 (resolved against sink state), an
    // update for id 2, and a dropDatabase wiping the custom-mapped index?
    // no — custom_t1 is outside the app.* prefix, which is exactly the
    // mapping-vs-prefix nuance: dropDatabase covers indexes named under
    // the db prefix; the mapped index survives it (its collection drop
    // is what deletes it, as batch 1 showed)
    val b2 = Seq(
      ev(6, "1", "app.t0", "d", 20),
      ev(7, "2", "app.t0", "u", 21, """{"a":3}"""))
    SinkWriter.writeBatch(b2.toDF(), cfg, backend)
    assert(backend.state.keySet == Set(("app.t0", "2"), ("custom_t1", "9")))
    assert(backend.state(("app.t0", "2")).version == 21)
    assert(backend.history.size == 5)

    // replay batch 2 (at-least-once): external versions make it a no-op
    SinkWriter.writeBatch(b2.toDF(), cfg, backend)
    assert(backend.state.keySet == Set(("app.t0", "2"), ("custom_t1", "9")))
    assert(backend.state(("app.t0", "2")).version == 21)
  }

  test("rejects never reach the backend but always reach the quarantine") {
    import spark.implicits._
    val backend = new InMemorySinkBackend
    val big = "x" * 600 // 600 bytes > the 512-byte sink key cap
    val b = Seq(
      ev(0, "1", "app.t0", "i", 10),      // accepted
      ev(1, "", "app.t0", "i", 11),       // FATAL: empty id
      ev(2, null, "app.t0", "u", 12),     // FATAL: null id
      ev(3, big, "app.t0", "i", 13),      // FATAL: oversized id
      drop(4, "app.t1", "drop_coll", 14)) // id-less drop op: EXEMPT
    SinkWriter.writeBatch(b.toDF(), cfg, backend)
    // fatal rejects never land in the sink state...
    assert(backend.state.keySet == Set(("app.t0", "1")),
      s"only the accepted op may index, got ${backend.state.keySet}")
    // ...but every one of them reaches the quarantine channel with its
    // reason (the reference's error-logged skip, monstache.go:3167-3171)
    assert(backend.rejected.map(r => (r._1, r._4)).sorted == Seq(
      (1L, "empty_id"), (2L, "empty_id"), (3L, "oversized_id")),
      s"quarantine contents: ${backend.rejected}")
    // the K4 audit trail also excludes unkeyable ops (no id = no key)
    assert(backend.history.map(_._2).toSet == Set("1"))

    // a replayed batch reports the same rejects again (at-least-once on
    // the errors channel — the Es backend's deterministic reject ids
    // make the replay overwrite, the mock just appends)
    SinkWriter.writeBatch(b.toDF(), cfg, backend)
    assert(backend.rejected.size == 6)
  }

  test("dropDatabase wipes the db prefix; later ops recreate") {
    import spark.implicits._
    val backend = new InMemorySinkBackend
    SinkWriter.writeBatch(Seq(
      ev(0, "1", "app.t0", "i", 10),
      ev(1, "2", "app.t2", "i", 11)).toDF(), GraftConfig(), backend)
    assert(backend.state.size == 2)
    SinkWriter.writeBatch(Seq(
      drop(2, "app", "drop_db", 20),
      ev(3, "3", "app.t0", "i", 21)).toDF(), GraftConfig(), backend)
    assert(backend.state.keySet == Set(("app.t0", "3")))
    // a disabled gate turns the drop into a no-op (dropped-databases)
    val backend2 = new InMemorySinkBackend
    SinkWriter.writeBatch(Seq(
      ev(0, "1", "app.t0", "i", 10),
      drop(1, "app", "drop_db", 20)).toDF(),
      GraftConfig(droppedDatabases = false), backend2)
    assert(backend2.state.keySet == Set(("app.t0", "1")))
  }

  test("deletes are version-fenced: a stale tombstone spares a newer doc") {
    import spark.implicits._
    val backend = new InMemorySinkBackend
    SinkWriter.writeBatch(Seq(
      ev(0, "1", "app.t0", "i", 30)).toDF(), GraftConfig(), backend)
    assert(backend.state(("app.t0", "1")).version == 30)
    // a late-replayed tombstone BELOW the stored version is ignored —
    // replay idempotency no longer rests on batch ordering alone
    SinkWriter.writeBatch(Seq(
      ev(1, "1", "app.t0", "d", 20)).toDF(), GraftConfig(), backend)
    assert(backend.state(("app.t0", "1")).version == 30)
    // the in-order delete (higher version) still clears it
    SinkWriter.writeBatch(Seq(
      ev(2, "1", "app.t0", "d", 31)).toDF(), GraftConfig(), backend)
    assert(!backend.state.contains(("app.t0", "1")))
  }

  test("delete protection refuses ambiguous deletes; by-query removes all") {
    import spark.implicits._
    // the same id indexed into TWO indexes (cross-namespace id reuse)
    val seed = Seq(
      ev(0, "7", "app.t0", "i", 10),
      ev(1, "7", "app.t2", "i", 11))
    // stateless + protection: two hits -> refused, both stay
    val guarded = new InMemorySinkBackend
    SinkWriter.writeBatch(seed.toDF(), GraftConfig(), guarded)
    SinkWriter.writeBatch(Seq(ev(2, "7", "app.t0", "d", 20)).toDF(),
      GraftConfig(), guarded)
    assert(guarded.state.size == 2)
    // disable-delete-protection: by-query semantics, every hit deleted
    val byQuery = new InMemorySinkBackend
    SinkWriter.writeBatch(seed.toDF(),
      GraftConfig(disableDeleteProtection = true), byQuery)
    SinkWriter.writeBatch(Seq(ev(2, "7", "app.t0", "d", 20)).toDF(),
      GraftConfig(disableDeleteProtection = true), byQuery)
    assert(byQuery.state.isEmpty)
    // strategy 2: deletes are ignored entirely
    val ignoring = new InMemorySinkBackend
    SinkWriter.writeBatch(seed.toDF(), GraftConfig(deleteStrategy = 2),
      ignoring)
    SinkWriter.writeBatch(Seq(ev(2, "7", "app.t0", "d", 20)).toDF(),
      GraftConfig(deleteStrategy = 2), ignoring)
    assert(ignoring.state.size == 2)
  }

  test("strategy 2 in-batch: a trailing delete cannot eat the data winner") {
    import spark.implicits._
    // the reference never replays ignored deletes, so [i, d] in ONE
    // batch must still index the insert — the delete is dropped BEFORE
    // last-writer-wins, not resolved after it
    val backend = new InMemorySinkBackend
    SinkWriter.writeBatch(Seq(
      ev(0, "1", "app.t0", "i", 10),
      ev(1, "1", "app.t0", "d", 20)).toDF(),
      GraftConfig(deleteStrategy = 2,
        timeMachineNamespaces = Seq("app.t0")), backend)
    assert(backend.state.keySet == Set(("app.t0", "1")))
    assert(backend.state(("app.t0", "1")).version == 10)
    // the audit trail still records the IGNORED delete: strategy 2
    // gates indexing, not history
    assert(backend.history.size == 2)
  }

  test("stateful deletes hit mixed-case mapped indexes") {
    import spark.implicits._
    val cfgM = GraftConfig(mappings = Map("app.t1" -> "Custom_T1"),
      deleteStrategy = 1)
    val backend = new InMemorySinkBackend
    SinkWriter.writeBatch(Seq(ev(0, "3", "app.t1", "i", 10)).toDF(),
      cfgM, backend)
    assert(backend.state.keySet == Set(("Custom_T1", "3")))
    // the delete must target the EXACT stored key, not a lowercased one
    SinkWriter.writeBatch(Seq(ev(1, "3", "app.t1", "d", 20)).toDF(),
      cfgM, backend)
    assert(backend.state.isEmpty)
  }

  test("stateful deletes resolve through saved routing metadata") {
    import spark.implicits._
    val backend = new InMemorySinkBackend
    // the doc carries a _meta_monstache index override: saved meta is
    // what the stateful strategy must consult on delete
    SinkWriter.writeBatch(Seq(
      ev(0, "5", "app.t0", "i", 10,
        """{"a":1,"_meta_monstache":{"index":"special","routing":"r5"}}"""))
      .toDF(), GraftConfig(deleteStrategy = 1), backend)
    assert(backend.state.keySet == Set(("special", "5")))
    assert(backend.state(("special", "5")).routing == "r5")
    SinkWriter.writeBatch(Seq(ev(1, "5", "app.t0", "d", 20)).toDF(),
      GraftConfig(deleteStrategy = 1), backend)
    assert(backend.state.isEmpty)
  }

  test("drop fence and last-writer-wins across strategies 0, 1 and 2") {
    import spark.implicits._
    def cfgS(strategy: Int) = GraftConfig(
      mappings = Map("app.t1" -> "custom_t1", "other.y" -> "y_idx"),
      timeMachineNamespaces = Seq("app.t0"), deleteStrategy = strategy)
    val seed = Seq(
      ev(0, "1", "app.t0", "i", 10),
      ev(1, "2", "app.t1", "i", 11),
      ev(2, "3", "other.x", "i", 12),
      ev(3, "4", "app.t1", "i", 13),
      ev(4, "9", "other.y", "i", 14))
    val batch = Seq(
      drop(20, "app.t1", "drop_coll", 30),     // wipes custom_t1 (mapped)
      drop(21, "other", "drop_db", 40),        // wipes the other.* prefix
      ev(22, "3", "other.x", "u", 39),         // FENCED: below the drop_db
      ev(23, "7", "other.x", "i", 41),         // outlives the drop_db
      ev(24, "2", "app.t1", "u", 29),          // FENCED: below the drop_coll
      ev(25, "8", "app.t1", "i", 31),          // outlives the drop_coll
      // a tombstone whose winner precedes the drop_db: fenced, so it never
      // reaches delete resolution, and y_idx lies outside the other.*
      // prefix the drop wipes
      ev(27, "9", "other.y", "d", 35),
      ev(29, "1", "app.t0", "d", 50),          // resolves (strategies 0, 1)
      // the fence compares namespaces case-insensitively; App.T1 is not
      // the mapped app.t1, so it indexes into lower-cased app.t1
      ev(30, "10", "App.T1", "i", 25),         // FENCED by app.t1's drop
      ev(31, "11", "App.T1", "i", 32),
      // equal versions: the higher event_id wins, wherever it sits
      ev(41, "12", "app.t0", "u", 60, """{"a":"high"}"""),
      ev(40, "12", "app.t0", "i", 60, """{"a":"low"}"""),
      ev(50, "", "app.t0", "i", 70))           // FATAL: empty id
    val landed = Map(
      ("y_idx", "9") -> 14L, ("other.x", "7") -> 41L,
      ("custom_t1", "8") -> 31L, ("app.t1", "11") -> 32L,
      ("app.t0", "12") -> 60L)
    val day = "log.app.t0.1970-01-01"
    val expected = Map(
      0 -> landed, 1 -> landed, 2 -> (landed + (("app.t0", "1") -> 10L)))
    expected.foreach { case (strategy, want) =>
      val backend = new InMemorySinkBackend
      SinkWriter.writeBatch(seed.toDF(), cfgS(strategy), backend)
      SinkWriter.writeBatch(batch.toDF(), cfgS(strategy), backend)
      assert(backend.state.map { case (k, d) => k -> d.version }.toMap == want,
        s"strategy $strategy")
      assert(backend.state(("app.t0", "12")).document == """{"a":"high"}""")
      // every kept app.t0 op appends, the ignored strategy-2 delete too
      assert(backend.history.toSeq.sortBy(_._3) == Seq(
        (day, "1", 10L), (day, "1", 50L), (day, "12", 60L), (day, "12", 60L)),
        s"strategy $strategy")
      assert(backend.rejected.toSeq ==
        Seq((50L, "app.t0", "i", "empty_id")), s"strategy $strategy")
    }
  }

  test("checkpoint blocks are released on success and on backend failure") {
    import spark.implicits._
    val sc = spark.sparkContext
    val b = Seq(ev(0, "1", "app.t0", "i", 10), ev(1, "2", "app.t0", "d", 11))
    val before = sc.getPersistentRDDs.keySet
    SinkWriter.writeBatch(b.toDF(), cfg, new InMemorySinkBackend)
    assert(sc.getPersistentRDDs.keySet == before,
      "a successful batch left its checkpoint persisted")
    val failing = new InMemorySinkBackend {
      override def applyPreDelete(q: Option[DataFrame], h: Option[DataFrame],
                                  drops: DataFrame,
                                  upserts: DataFrame): Unit =
        throw new IllegalStateException("backend down")
    }
    val e = intercept[IllegalStateException](
      SinkWriter.writeBatch(b.toDF(), cfg, failing))
    assert(e.getMessage == "backend down")
    assert(sc.getPersistentRDDs.size == before.size,
      "a failed batch leaked its checkpoint blocks")
  }

  test("startSink runs the config-driven hot path into the backend") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val backend = new InMemorySinkBackend
    val ckpt = Files.createTempDirectory("graft-sink-cfg-ckpt").toString
    // config: keep only app.t0, map it to a custom index
    val cfgT0 = graft.config.GraftConfig(
      namespaceRegex = Some("^app\\.t0$"),
      mappings = Map("app.t0" -> "t0_idx"))
    val s = MemoryStream[ChangeEvent]
    s.addData(Seq(
      ev(0, "1", "app.t0", "i", 10),
      ev(1, "9", "app.t9", "i", 11), // filtered by namespace-regex
      ev(2, "2", "app.t0", "i", 12)))
    graft.config.ConfiguredPipeline.startSink(cfgT0)(s.toDF(), ckpt, backend)
      .awaitTermination()
    assert(backend.state.keySet == Set(("t0_idx", "1"), ("t0_idx", "2")))
  }

  test("the streaming form drives the same writer through foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val backend = new InMemorySinkBackend
    val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString
    val s = MemoryStream[ChangeEvent]
    s.addData(Seq(
      ev(0, "1", "app.t0", "i", 10),
      ev(1, "2", "app.t0", "i", 11),
      ev(2, "1", "app.t0", "d", 12)))
    SinkWriter.start(s.toDF(), ckpt, cfg, backend).awaitTermination()
    assert(backend.state.keySet == Set(("app.t0", "2")))
    assert(backend.history.size == 3)
  }

  test("K8: bootstrap precedes the first batch with resolved file indexes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val backend = new InMemorySinkBackend
    val ckpt = Files.createTempDirectory("graft-sink-boot-ckpt").toString
    // one mapped file namespace, one default-resolved (lowercased)
    val cfgF = GraftConfig(indexFiles = true,
      fileNamespaces = Seq("app.Parts", "app.t0"),
      mappings = Map("app.Parts" -> "parts_idx"))
    val s = MemoryStream[ChangeEvent]
    s.addData(Seq(ev(0, "1", "app.t0", "i", 10)))
    SinkWriter.start(s.toDF(), ckpt, cfgF, backend).awaitTermination()
    assert(backend.bootstraps.toSeq == Seq(Seq(
      "app.Parts" -> "parts_idx", "app.t0" -> "app.t0")))
    // not one op reached the sink before bootstrap ran
    assert(backend.opsBeforeBootstrap == 0)
    assert(backend.state.keySet == Set(("app.t0", "1")))
    // index-files off ⇒ nothing to prepare (the reference only ensures
    // file mappings when indexing files)
    assert(SinkWriter.fileIndexes(GraftConfig(
      fileNamespaces = Seq("app.Parts"))).isEmpty)
  }
}
