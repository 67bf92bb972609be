package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{NamespaceFilter, NamespaceFilterConfig, Routing, TransformRegistry, Upsert}
import graft.source.ChangeEvent
import graft.streaming.StreamingUpsert

/** Streaming parity (T1-T4): a change stream killed and resumed
  * mid-flight must converge to the exact state the batch path computes
  * over the same ops — the reference's checkpoint/resume heart
  * (monstache.go:5019-5101, 1689-1702, 4664-4716). */
class StreamingUpsertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mkOps(n: Int): Seq[ChangeEvent] =
    (0 until n).map { i =>
      val id = (i % 17).toString
      val op = if (i % 11 == 0) "d" else if (i % 3 == 0) "i" else "u"
      ChangeEvent(i.toLong, id, "app", "t0", "app.t0", op,
        1000000L + i, (1000000L + i) * 4, s"""{"k":$i}""", i.toDouble, "oplog")
    }

  test("a torn (uncommitted) state version is invisible to readers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-torn-state").toString
    StreamingUpsert.mergeBatch(mkOps(60).toDF(), 5L, dir)
    val committed = StreamingUpsert.liveState(spark, dir)
      .select("id", "version").as[(String, Long)].collect().toSet
    // simulate a crash mid-write of batch 6: a v6 directory exists but
    // carries no _SUCCESS job-commit marker
    val torn = java.nio.file.Paths.get(dir, "v6")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.write(torn.resolve("part-garbage"), Array[Byte](1, 2))
    val seen = StreamingUpsert.liveState(spark, dir)
      .select("id", "version").as[(String, Long)].collect().toSet
    assert(seen == committed && seen.nonEmpty,
      "reader must select the intact predecessor, not the torn version")
  }

  test("merging into a further-progressed state dir is a loud error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-future-state").toString
    StreamingUpsert.mergeBatch(mkOps(60).toDF(), 5L, dir)
    // a FRESH checkpoint reusing this state dir would merge batch 0
    // blindly and invisibly under the committed v5 — silent resurrection
    val e = intercept[IllegalArgumentException](
      StreamingUpsert.mergeBatch(mkOps(10).toDF(), 0L, dir))
    assert(e.getMessage.contains("further-progressed"))
  }

  test("liveState before any commit is empty WITH the envelope schema") {
    val dir = Files.createTempDirectory("graft-nostate").toString
    val live = StreamingUpsert.liveState(spark, s"$dir/never-written")
    // the documented call shape must not crash on the empty case
    assert(live.select("id", "version", "operation").count() == 0)
  }

  test("kill + resume from checkpoint converges to the batch LWW state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ops = mkOps(400)
    val (firstHalf, secondHalf) = ops.splitAt(200)
    val stateDir = Files.createTempDirectory("graft-state").toString
    val ckptDir = Files.createTempDirectory("graft-ckpt").toString

    // run 1: first half, then the query is stopped (the "crash")
    val s1 = MemoryStream[ChangeEvent]
    s1.addData(firstHalf)
    val q1 = StreamingUpsert.start(s1.toDF(), stateDir, ckptDir)
    q1.awaitTermination()

    // run 2: a NEW query on the same checkpoint picks up and processes
    // only the remainder
    val s2 = MemoryStream[ChangeEvent]
    s2.addData(firstHalf) // replayed source content; checkpoint must skip it
    s2.addData(secondHalf)
    val q2 = StreamingUpsert.start(s2.toDF(), stateDir, ckptDir)
    q2.awaitTermination()

    val streamed = StreamingUpsert.liveState(spark, stateDir)
      .select("id", "operation", "version")
      .as[(String, String, Long)].collect().toSet
    val batch = Upsert.liveDocuments(ops.toDF())
      .select("id", "operation", "version")
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("replayed micro-batch merge is idempotent (at-least-once safe)") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft-state2").toString
    val ops = mkOps(100)
    val (b0, b1) = ops.splitAt(50)
    StreamingUpsert.mergeBatch(b0.toDF(), 0L, stateDir)
    StreamingUpsert.mergeBatch(b1.toDF(), 1L, stateDir)
    val once = StreamingUpsert.liveState(spark, stateDir)
      .select("id", "version").as[(String, Long)].collect().toSet
    // crash-replay of batch 1: same input, same batch id
    StreamingUpsert.mergeBatch(b1.toDF(), 1L, stateDir)
    val twice = StreamingUpsert.liveState(spark, stateDir)
      .select("id", "version").as[(String, Long)].collect().toSet
    assert(once == twice)
  }

  test("the full hot path is batch/stream equivalent under checkpointing") {
    // SURVEY §3.1 as one transform: ns filter → registry (filter + mapper
    // + finalize) → routing meta → LWW state; run it both as a batch pass
    // and under foreachBatch with a mid-stream restart — same final docs.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val ops = mkOps(400)
    val hotPath: DataFrame => DataFrame = { df =>
      val reg = TransformRegistry(
        filters = Map("" -> (col("value") < 380)),
        mappers = Map("app.t0" -> (d => d.withColumn("m_meta_index", lit("hot_t0")))))
      Routing.withMeta(reg(NamespaceFilter(df,
        NamespaceFilterConfig(include = Some("^app\\..*$")))))
    }
    val batchFinal = Upsert.liveDocuments(hotPath(ops.toDF()))
      .select("id", "version", "meta_index")
      .as[(String, Long, String)].collect().toSet

    val stateDir = Files.createTempDirectory("graft-hot-state").toString
    val ckptDir = Files.createTempDirectory("graft-hot-ckpt").toString
    val (h1, h2) = ops.splitAt(200)
    val s1 = MemoryStream[ChangeEvent]
    s1.addData(h1)
    StreamingUpsert.start(s1.toDF(), stateDir, ckptDir, transform = hotPath)
      .awaitTermination()
    val s2 = MemoryStream[ChangeEvent]
    s2.addData(h1); s2.addData(h2) // replayed prefix; checkpoint skips it
    StreamingUpsert.start(s2.toDF(), stateDir, ckptDir, transform = hotPath)
      .awaitTermination()
    val streamFinal = StreamingUpsert.liveState(spark, stateDir)
      .select("id", "version", "meta_index")
      .as[(String, Long, String)].collect().toSet
    assert(streamFinal == batchFinal && streamFinal.nonEmpty)
    // the per-doc meta override survived the streaming path
    assert(streamFinal.exists(_._3 == "hot_t0"))
  }

  test("post-process hook (K6) sees every batch after its merge") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ops = mkOps(120)
    val stateDir = Files.createTempDirectory("graft-state3").toString
    val ckptDir = Files.createTempDirectory("graft-ckpt3").toString
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, Boolean)]()
    val src = MemoryStream[ChangeEvent]
    src.addData(ops)
    val q = StreamingUpsert.start(src.toDF(), stateDir, ckptDir,
      postProcess = (batch, id) => seen.synchronized {
        // the hook runs after the merge (runProcessor is downstream of
        // doIndex, monstache.go:3306-3326): state must already hold it
        val merged = StreamingUpsert.latestState(spark, stateDir).isDefined
        seen += ((id, batch.count(), merged))
      })
    q.awaitTermination()
    val rows = seen.synchronized(seen.toList)
    assert(rows.map(_._2).sum == 120) // every op handed to the hook once
    assert(rows.forall(_._3), "hook ran before the state merge")
  }

  // ---- the delta chain: crash/replay spec (TCK-style) ----------------

  private def ev(eid: Long, id: String, op: String, ver: Long,
                 doc: String = null, ns: String = "app.t0"): ChangeEvent =
    ChangeEvent(eid, id, "app", ns.stripPrefix("app."), ns, op,
      1000000L + eid, ver, if (op == "d") null else doc, eid.toDouble, "oplog")

  /** A document of `n` incompressible characters, so version sizes follow
    * row counts. */
  private def bulky(seed: Long, n: Int = 400): String = {
    val r = new scala.util.Random(seed)
    s"""{"b":"${Seq.fill(n)(r.nextPrintableChar()).filter(_.isLetterOrDigit).mkString}"}"""
  }

  /** Committed version directories, read from the file system. */
  private def committed(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.matches("[vd]-?\\d+") &&
        new java.io.File(f, "_SUCCESS").exists)
      .map(_.getName).toSet

  private def liveRows(dir: String): Set[(String, String, String, Long, String)] = {
    import spark.implicits._
    StreamingUpsert.liveState(spark, dir)
      .select("namespace", "id", "operation", "version", "document")
      .as[(String, String, String, Long, String)].collect().toSet
  }

  /** Batches 0–4 over a tiny first base: v0 (the first merge is full),
    * d1 (large), v2 (the compaction d1 forces), d3 (larger than v2),
    * v4 (the second compaction). */
  private val chainBatches: Seq[Seq[ChangeEvent]] = Seq(
    Seq(ev(0, "seed", "i", 10, bulky(0, 40))),
    (1 to 200).map(i => ev(1000 + i, s"a$i", "i", 100 + i, bulky(i))),
    Seq(ev(2000, "a1", "u", 500, bulky(2000)), ev(2001, "a2", "d", 500)),
    (1 to 400).map(i => ev(3000 + i, s"b$i", "i", 100 + i, bulky(3000 + i))),
    Seq(ev(4000, "b1", "d", 900), ev(4001, "a3", "u", 900, bulky(4001))))

  /** Merge (or replay) the given batches of [[chainBatches]]. */
  private def mergeChain(dir: String, ns: Range): Unit = {
    import spark.implicits._
    ns.foreach(n => StreamingUpsert.mergeBatch(chainBatches(n).toDF(), n.toLong, dir))
  }

  private def expected(ops: Seq[ChangeEvent]) = {
    import spark.implicits._
    Upsert.liveDocuments(ops.toDF())
      .select("namespace", "id", "operation", "version", "document")
      .as[(String, String, String, Long, String)].collect().toSet
  }

  test("chain: deltas until they reach the base, then one compaction; GC keeps the previous base and its chain") {
    val dir = Files.createTempDirectory("graft-chain-layout").toString
    mergeChain(dir, 0 to 1)
    assert(committed(dir) == Set("v0", "d1"))
    mergeChain(dir, 2 to 2)
    assert(committed(dir) == Set("v0", "d1", "v2"))
    mergeChain(dir, 3 to 3)
    assert(committed(dir) == Set("v0", "d1", "v2", "d3"))
    mergeChain(dir, 4 to 4)
    // the compaction at 4 deletes what is older than its previous base v2;
    // v2 and its chain d3 stay for a replay of batch 4
    assert(committed(dir) == Set("v2", "d3", "v4"))
    assert(liveRows(dir) == expected(chainBatches.flatten))
  }

  test("chain: a torn delta is invisible, and the replay of its batch commits it") {
    val dir = Files.createTempDirectory("graft-chain-torn-delta").toString
    mergeChain(dir, 0 to 0)
    val before = liveRows(dir)
    val torn = java.nio.file.Paths.get(dir, "d1")
    Files.createDirectories(torn)
    Files.write(torn.resolve("part-garbage"), Array[Byte](1, 2))
    assert(liveRows(dir) == before && before.nonEmpty)
    mergeChain(dir, 1 to 1)
    assert(committed(dir) == Set("v0", "d1"))
    assert(liveRows(dir) == expected(chainBatches.take(2).flatten))
  }

  test("chain: a torn compaction is invisible, and replaying its batch rebuilds it") {
    val dir = Files.createTempDirectory("graft-chain-torn-full").toString
    mergeChain(dir, 0 to 1)
    val before = liveRows(dir)
    mergeChain(dir, 2 to 2)
    val after = liveRows(dir)
    assert(committed(dir).contains("v2") && after != before)
    // crash mid-write of the compaction: v2 lost its job-commit marker
    Files.delete(java.nio.file.Paths.get(dir, "v2", "_SUCCESS"))
    assert(liveRows(dir) == before)
    mergeChain(dir, 2 to 2)
    assert(committed(dir) == Set("v0", "d1", "v2"))
    assert(liveRows(dir) == after && after == expected(chainBatches.take(3).flatten))
  }

  test("chain: replaying a delta batch or a compacting batch leaves the state unchanged") {
    val dir = Files.createTempDirectory("graft-chain-replay").toString
    mergeChain(dir, 0 to 3)
    val once = liveRows(dir)
    mergeChain(dir, 3 to 3) // a delta
    assert(committed(dir) == Set("v0", "d1", "v2", "d3"))
    assert(liveRows(dir) == once)
    mergeChain(dir, 4 to 4)
    val compacted = liveRows(dir)
    mergeChain(dir, 4 to 4) // a compaction
    assert(committed(dir) == Set("v2", "d3", "v4"))
    assert(liveRows(dir) == compacted && compacted == expected(chainBatches.flatten))
  }

  test("chain: a committed delta newer than the incoming batch is a loud error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-chain-newer").toString
    mergeChain(dir, 0 to 1)
    assert(committed(dir) == Set("v0", "d1"))
    // only the delta d1 is newer than batch 0
    val e = intercept[IllegalArgumentException](
      StreamingUpsert.mergeBatch(chainBatches(0).toDF(), 0L, dir))
    assert(e.getMessage.contains("further-progressed"))
  }

  test("chain: 32 batches across compactions equal the batch LWW over all ops") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-chain-equiv").toString
    val rnd = new scala.util.Random(7)
    val ids = (0 until 12).map(i => s"k$i")
    var eid = 0L
    def next(id: String, op: String, ver: Long, ns: String = "app.t0") = {
      eid += 1
      ev(eid, id, op, ver, if (op == "d") null else bulky(eid, 60), ns)
    }
    val batches = (0 until 32).map { n =>
      val plain = (0 until 6).map { _ =>
        val op = Seq("i", "u", "u", "d")(rnd.nextInt(4))
        next(ids(rnd.nextInt(ids.size)), op, rnd.nextInt(5000).toLong,
          Seq("app.t0", "app.t1")(rnd.nextInt(2)))
      }
      val special = n match {
        // a delete of "phoenix", and its re-insert after later compactions
        case 1 => Seq(next("phoenix", "i", 10), next("phoenix", "d", 20))
        case 29 => Seq(next("phoenix", "i", 30))
        // equal versions: the greater event_id wins, whichever arrives first
        case 2 => Seq(next("tie-a", "u", 7000), next("tie-b", "u", 7000))
        case 25 =>
          Seq(ev(0L, "tie-a", "u", 7000, "{\"late\":1}"),
            next("tie-b", "u", 7000))
        // id-less control rows share the (namespace, null) key
        case 4 | 17 | 28 => Seq(next(null, "drop_coll", n.toLong, "app.t9"))
        case _ => Nil
      }
      plain ++ special
    }
    val compactions = batches.zipWithIndex.flatMap { case (b, n) =>
      StreamingUpsert.mergeBatch(b.toDF(), n.toLong, dir)
      if (committed(dir).contains(s"v$n")) Some(n) else None
    }
    assert(compactions.count(n => n > 1 && n <= 29) >= 2,
      s"compactions at ${compactions.mkString(",")}")
    val all = batches.flatten
    assert(liveRows(dir) == expected(all))
    // the whole state, tombstones and control rows included
    val key = Seq("namespace", "id", "operation", "version", "event_id")
    def whole(df: org.apache.spark.sql.DataFrame) =
      df.select(key.map(col): _*).as[(String, String, String, Long, Long)]
        .collect().toSet
    val state = whole(StreamingUpsert.latestState(spark, dir).get)
    assert(state == whole(Upsert.lastWriterWins(all.toDF())))
    assert(state.contains(("app.t9", null, "drop_coll", 28L, all.filter(_.id == null).last.event_id)))
    assert(state.exists(r => r._2 == "phoenix" && r._3 == "i" && r._4 == 30L))
    assert(state.exists(r => r._2 == "tie-a" && r._5 != 0L))
  }

  test("seedState into a dir that already holds a committed version is a loud error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-seed-shadowed").toString
    StreamingUpsert.mergeBatch(mkOps(20).toDF(), 0L, dir)
    val e = intercept[IllegalArgumentException](
      StreamingUpsert.seedState(mkOps(40).toDF(), dir))
    assert(e.getMessage.contains("v0"))
    // a delta counts as well
    val dir2 = Files.createTempDirectory("graft-seed-shadowed-delta").toString
    mergeChain(dir2, 0 to 1)
    Files.walk(java.nio.file.Paths.get(dir2, "v0")).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    assert(committed(dir2) == Set("d1"))
    intercept[IllegalArgumentException](
      StreamingUpsert.seedState(mkOps(40).toDF(), dir2))
  }

  test("keyed-state winners stream equals batch winners (T6)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ops = mkOps(300)
    val src = MemoryStream[ChangeEvent]
    src.addData(ops)
    val q = StreamingUpsert.latestWinners(src.toDS())
      .writeStream.format("memory").queryName("winners")
      .outputMode("update").start()
    q.processAllAvailable()
    q.stop()
    // last update per key in the memory sink is that key's final winner
    val streamed = spark.table("winners")
      .groupBy("id").agg(max(struct(col("version"), col("event_id"))).as("w"))
      .select(col("id"), col("w.version"))
      .as[(String, Long)].collect().toSet
    val batch = Upsert.lastWriterWins(ops.toDF())
      .select("id", "version").as[(String, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("keyed state survives kill+resume on the RocksDB store (the 100 TB path)") {
    // StreamingUpsert's docs claim the scale path for state beyond a few
    // GB is latestWinners over the RocksDB state store — prove the claim:
    // same operator, RocksDB provider, state carried across a query
    // restart through the checkpoint (not through memory)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // run 1 carries every key's TRUE winner (high versions); run 2
      // re-delivers only LATE, lower-version ops for the same keys — the
      // keys are touched (so update mode re-emits them) but their winners
      // exist solely in run 1's persisted state
      def ev(eid: Long, id: String, ver: Long) =
        ChangeEvent(eid, id, "app", "t0", "app.t0", "u",
          1000000L + eid, ver, s"""{"k":$eid}""", 0.0, "oplog")
      val h1 = (0 until 100).map(i => ev(i, "k" + (i % 7), 1000L + i))
      val h2 = (0 until 30).map(i => ev(200L + i, "k" + (i % 7), 10L + i))
      val ops = h1 ++ h2
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-rocksdb-ckpt").toString
      val outDir = java.nio.file.Files
        .createTempDirectory("graft-rocksdb-out").toString
      val src = MemoryStream[ChangeEvent]
      def run(): Unit = {
        // memory sinks cannot recover from a checkpoint; foreachBatch can
        val q = StreamingUpsert.latestWinners(src.toDS())
          .writeStream
          .option("checkpointLocation", ckpt)
          .outputMode("update")
          .foreachBatch { (b: org.apache.spark.sql.Dataset[ChangeEvent], _: Long) =>
            b.write.mode("append").parquet(outDir)
          }
          .start()
        q.processAllAvailable()
        q.stop()
      }
      src.addData(h1)
      run() // run 1, then the "crash"
      src.addData(h2)
      run() // resume: h1's winners must come from RocksDB state
      // winners are monotonic per key, so the max emission is the final one
      val streamed = spark.read.parquet(outDir)
        .groupBy("id").agg(max(struct(col("version"), col("event_id"))).as("w"))
        .select(col("id"), col("w.version"))
        .as[(String, Long)].collect().toSet
      val batch = Upsert.lastWriterWins(ops.toDF())
        .select("id", "version").as[(String, Long)].collect().toSet
      // h2 alone cannot reproduce keys whose winner lives in h1 — equality
      // requires the resumed query to have read run 1's RocksDB state
      val h2Winners = Upsert.lastWriterWins(h2.toDF())
        .select("id", "version").as[(String, Long)].collect().toSet
      assert(streamed == batch && h2Winners != batch)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
