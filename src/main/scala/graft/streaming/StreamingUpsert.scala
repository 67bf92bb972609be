package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}

import graft.operators.Upsert
import graft.source.ChangeEvent

/** Streaming half of the engine (SURVEY §2.8, §3.1): the same envelope →
  * transform → last-writer-wins pipeline, run continuously with durable
  * checkpoint/resume — the reference's event loop + 10s timestamp save
  * (monstache.go:5019-5101, saveTimestamp 1689-1702, buildTimestampGen
  * 4664-4716) re-expressed as Structured Streaming.
  *
  * Delivery contract (T1/T2/T4): the source is replayed at-least-once from
  * the checkpoint after a crash; correctness is restored by *idempotent*
  * per-batch state merges keyed on (id, version) — exactly how the
  * reference leans on ES external versioning instead of ordering. Each
  * micro-batch writes one state version named by its batch id; a replayed
  * batch overwrites its own output deterministically, so duplicate
  * delivery cannot double-apply.
  *
  * Scale path: a micro-batch writes only its own last-writer-wins winners,
  * as a delta version on top of the last full one, the way the reference
  * applies each op to the one document it touches (`doIndexing`/`doDelete`,
  * monstache.go:3160-3251, 4065-4147). The full state is rewritten only
  * when the deltas have grown to the full version's size (the chain and
  * its compaction live in [[VersionedState.mergeChained]]), so each
  * ingested byte is rewritten about twice whatever the state's size. A
  * read folds at most one state-size of deltas into the full version.
  * Beyond what one rewrite per state-size of ops can carry, the same
  * contract holds with (a) state bucketed by `hash(id)` so only touched
  * buckets rewrite ([[BucketedState]]), or (b) [[latestWinners]]'s
  * keyed-state variant backed by the RocksDB state store. The operator
  * semantics are identical.
  */
object StreamingUpsert {

  /** Latest committed state strictly before `beforeBatch` (a replayed batch
    * must merge against its predecessor, never its own partial output):
    * the newest full version unchanged, or, when deltas follow it, one
    * scan over the full version and its deltas folded by last-writer-wins.
    * "Committed" = carries the `_SUCCESS` job-commit marker — a version
    * torn by a crash mid-write is invisible here, so recovery reads the
    * intact predecessor (see [[VersionedState]]). */
  def latestState(spark: SparkSession, stateDir: String,
                  beforeBatch: Long = Long.MaxValue): Option[DataFrame] =
    VersionedState.readChained(spark, stateDir, beforeBatch)(Upsert.lastWriterWins(_))

  /** Seed the state with a direct-read backfill snapshot BEFORE the
    * stream starts (SURVEY §3.2: initial sync, then tail from the
    * snapshot's timestamp). Written as version -1 so the stream's FIRST
    * micro-batch (batchId 0) merges against it — `mergeBatch(_, 0)` only
    * consults versions strictly below the batch id, so a snapshot at v0
    * would be invisible to batch 0 and silently overwritten. A dir that
    * already holds a committed version is a loud error: the seed would
    * sit below it, and no reader would ever see the snapshot. */
  def seedState(snapshot: DataFrame, stateDir: String): Unit = {
    val held = VersionedState.listing(snapshot.sparkSession, stateDir)
    require(held.isEmpty,
      s"state dir $stateDir already holds committed versions " +
        s"${held.map(_.name).mkString(",")}; a seed written below them " +
        "would never be read — seed a fresh state dir")
    Upsert.lastWriterWins(snapshot)
      .write.mode("overwrite").parquet(s"$stateDir/v-1")
  }

  /** Idempotent merge of one micro-batch into the versioned state: the
    * batch's winners as a delta, or a compaction into a new full version
    * once the deltas reach the full version's size
    * ([[VersionedState.mergeChained]]). */
  def mergeBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit =
    VersionedState.mergeChained(batch, batchId, stateDir)(Upsert.lastWriterWins(_))

  /** Start the continuous pipeline: envelope stream → optional transform →
    * LWW-merged durable state, checkpointed for resume (T2/T3).
    * `postProcess` is the K6 plugin hook (`Process`,
    * monstachemap/plugin.go:46-52; pool monstache.go:4486-4498): user
    * side-effects invoked per micro-batch after the state merge, with the
    * batch and its id — fan-out sinks, audit logs, notifications. */
  def start(events: DataFrame, stateDir: String, checkpointDir: String,
            transform: DataFrame => DataFrame = identity,
            postProcess: (DataFrame, Long) => Unit = (_, _) => (),
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    transform(events).writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      // default AvailableNow = drain-and-stop (backfills, tests, cron
      // syncs); the continuous daemon passes e.g.
      // Trigger.ProcessingTime("10 seconds") — the reference's event
      // loop cadence (monstache.go:5019-5101)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, batchId, stateDir)
        postProcess(batch, batchId)
      }
      .start()

  /** What the sink index holds now: winners whose last op isn't a delete.
    * Tombstones stay in the state (a late update must still lose to them)
    * but are excluded from the live view. Before the first commit the
    * result is an empty frame with the ENVELOPE schema — a zero-column
    * `emptyDataFrame` would make `select("id", …)` crash exactly and only
    * when state is empty (columns a transform added on top of the
    * envelope appear only once state exists). */
  def liveState(spark: SparkSession, stateDir: String): DataFrame =
    liveView(spark, latestState(spark, stateDir))

  /** The one definition of "live": winners whose last op isn't a delete,
    * or an empty ChangeEvent-schema frame before any commit. Shared with
    * [[BucketedState.liveState]] so the live-op set and the empty-frame
    * schema cannot drift between the two layouts. */
  private[streaming] def liveView(spark: SparkSession,
                                  latest: Option[DataFrame]): DataFrame =
    latest.map(_.filter(col("operation").isin("i", "u")))
      .getOrElse(spark.emptyDataset(
        org.apache.spark.sql.Encoders.product[ChangeEvent]).toDF())

  /** T6 keyed-state alternative: the current winner per key as an
    * update-mode stream via mapGroupsWithState — the operator to use when
    * state must live in the engine's (RocksDB) store rather than in an
    * external table. Same (version, event_id) total order as the batch
    * path. */
  def latestWinners(events: Dataset[ChangeEvent]): Dataset[ChangeEvent] = {
    import events.sparkSession.implicits._
    // keyed on (namespace, id) — sink identity is per collection, same
    // as Upsert.identityCols (ids freely repeat across collections)
    events.groupByKey(e => (e.namespace, e.id))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (_: (String, String), ops: Iterator[ChangeEvent],
         state: GroupState[ChangeEvent]) =>
          val best = (state.getOption.iterator ++ ops)
            .maxBy(e => (e.version, e.event_id))
          state.update(best)
          best
      }
  }
}
