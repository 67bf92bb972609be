package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Upsert
import graft.source.ChangeEvent

/** The 100 TB shape of [[StreamingUpsert]]'s durable state: state bucketed
  * by `hash(id)`, so a micro-batch rewrites ONLY the buckets it touches.
  * [[StreamingUpsert.mergeBatch]] writes a per-batch delta and rewrites
  * the whole table once the deltas reach its size — at terabyte state even
  * that periodic rewrite dominates, and every read folds the deltas. Here
  * each bucket keeps its own full-version chain
  * `stateDir/b<bucket>/v<batchId>`:
  *
  *  - a batch groups by bucket, and per touched bucket merges the bucket's
  *    latest version strictly below the batch id with the batch slice —
  *    the same idempotent versioned-merge contract as the global path
  *    (a replayed batch merges against its predecessor, never its own
  *    partial output), now per bucket;
  *  - untouched buckets are not read, not written, not listed; touched
  *    buckets merge CONCURRENTLY (independent chains — per-batch latency
  *    must not scale linearly with touched-bucket count, or the layout's
  *    own scale story dies);
  *  - the bucket count is pinned in `stateDir/_meta` on first write and
  *    validated on every merge — a different count silently splits each
  *    key's history across buckets (two "latest" rows per id, deletes
  *    resurrected from the other bucket), so a mismatch is a loud error;
  *  - reading full state unions each bucket's latest version — on a real
  *    cluster each bucket is its own partition subtree, so point lookups
  *    and delete-meta reads prune to one bucket.
  *
  * Consistency window: the union is per-bucket-latest with NO global cut
  * — a read concurrent with an in-flight mergeBatch (or between a crash
  * and its replay) can mix batch N's winners in committed buckets with
  * batch N−1's in the rest. Per-key results are still internally
  * consistent (a key lives in exactly one bucket); readers needing a
  * cross-key atomic snapshot must read between merges, or use the global
  * [[StreamingUpsert]] chain whose single version IS the cut.
  *
  * The reference's analog is MongoDB collections as state (T6) — which
  * also only touches the documents a batch writes.
  */
object BucketedState {

  def bucketOf(id: org.apache.spark.sql.Column, numBuckets: Int) =
    pmod(xxhash64(id), lit(numBuckets.toLong))

  /** Pin (first write) or validate (every later write) the bucket count. */
  private[streaming] def ensureMeta(spark: SparkSession, stateDir: String,
                                    numBuckets: Int): Unit = {
    val f = VersionedState.fs(spark, stateDir)
    val meta = new Path(stateDir, "_meta")
    if (f.exists(meta)) {
      val in = f.open(meta)
      val raw =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim
        finally in.close()
      val pinned = raw.toIntOption.getOrElse(throw new IllegalStateException(
        s"state dir $stateDir has a torn _meta marker (content: '$raw') — " +
          "a crash interrupted its write; no versions can have committed " +
          "under it (the marker is written before the first merge), so " +
          "delete the _meta file and re-run"))
      require(pinned == numBuckets,
        s"state dir $stateDir was created with numBuckets=$pinned; " +
          s"merging with numBuckets=$numBuckets would split each key's " +
          "history across buckets — pass the original count")
    } else {
      // write-then-rename with a UNIQUE temp (a shared temp name lets a
      // racing writer overwrite ours between write and rename): a crash
      // mid-write leaves only the temp file, never a torn _meta (the
      // same torn-write stance as VersionedState's _SUCCESS protocol)
      f.mkdirs(new Path(stateDir))
      val tmp = new Path(stateDir,
        s"._meta.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = f.create(tmp, true)
      try out.write(numBuckets.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      f.rename(tmp, meta)
      if (f.exists(tmp)) f.delete(tmp, false)
      // validate AFTER commit regardless of who won: local filesystems
      // let a later rename clobber the destination, so re-reading the
      // final marker is the only check that catches every interleaving
      require(f.exists(meta),
        s"state dir $stateDir: failed to commit the _meta marker")
      ensureMeta(spark, stateDir, numBuckets)
    }
  }

  /** Idempotent per-bucket LWW merge of one micro-batch (the
    * [[StreamingUpsert]] semantics in the bucketed layout). */
  def mergeBatch(batch: DataFrame, batchId: Long, stateDir: String,
                 numBuckets: Int = 64): Unit =
    mergeBatchWith(batch, batchId, stateDir, numBuckets, keyCol = "id")(
      Upsert.lastWriterWins(_))

  /** Generalized per-bucket versioned merge — the bucketed layout with a
    * pluggable combine, so the SAME only-touched-buckets-rewrite story
    * serves every artifact whose merge is a keyed partial-aggregate:
    * LWW winners ([[mergeBatch]]), additive censuses
    * ([[StreamingLineCensus.mergeBatchBucketed]]), count tables, model
    * counts. `combine` runs per touched bucket over (previous bucket
    * state ∪ batch slice) and must treat its input rows as mergeable
    * partials keyed within the bucket — i.e.
    * `combine(combine(a ∪ b) ∪ c) == combine(a ∪ b ∪ c)` (max-by and
    * sum-by aggregations both qualify); that is exactly what makes the
    * replay-against-predecessor protocol idempotent per bucket. */
  def mergeBatchWith(batch: DataFrame, batchId: Long, stateDir: String,
                     numBuckets: Int, keyCol: String)
                    (combine: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    ensureMeta(spark, stateDir, numBuckets)
    val bucketed = batch
      .withColumn("__bucket", bucketOf(col(keyCol), numBuckets))
      .persist()
    try {
      val touched = bucketed.select("__bucket").distinct()
        .collect().map(_.getLong(0)).sorted
      // independent version chains → concurrent Spark jobs (the scheduler
      // is thread-safe); a bounded pool keeps driver/fs pressure sane
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.max(1, math.min(touched.length, 8)))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val merges = touched.toSeq.map { b =>
          Future {
            // same stale-checkpoint guard as StreamingUpsert.mergeBatch: a
            // fresh checkpoint restarting batch ids under an existing chain
            // would write b<N>/v0 beneath a committed v5 — readers still
            // see v5 and the new merges become silently invisible.
            // ONE listing per bucket per batch, threaded through guard,
            // predecessor lookup, and GC
            val bDir = s"$stateDir/b$b"
            val vs = VersionedState.versions(spark, bDir)
            VersionedState.requireNoNewerThan(vs, bDir, batchId)
            val slice = bucketed.filter(col("__bucket") === b).drop("__bucket")
            val prev = vs.find(_ < batchId)
              .map(v => spark.read.parquet(s"$bDir/v$v"))
            val merged = combine(
              prev.map(_.unionByName(slice)).getOrElse(slice))
            merged.write.mode("overwrite").parquet(s"$bDir/v$batchId")
            // GC: keep this version + predecessor (crash-recovery window)
            VersionedState.gcBefore(spark, bDir, batchId, vs)
          }
        }
        Await.result(Future.sequence(merges), Duration.Inf)
      } finally pool.shutdown()
    } finally bucketed.unpersist()
  }

  /** Compact the store: rewrite each bucket's latest committed version
    * as ONE file and delete its superseded versions — the
    * [[graft.llm.Similarity.compactIndex]] maintenance discipline
    * applied to versioned state. Every merge writes its bucket version
    * at the plan's own parallelism (up to shuffle-partitions part
    * files) and GC keeps the predecessor as the crash window, so a
    * year-long stream accretes per-file open/footer costs on every
    * read — the standard small-files decay of any append-only store.
    *
    * `upToExcl` is the replay fence: batch ids STRICTLY BELOW it are
    * durably committed in the stream's checkpoint and can never replay
    * (pass `lastCommittedBatchId + 1`; the default compacts everything
    * — only valid on a STOPPED stream). A bucket whose latest version
    * is at or beyond the fence is skipped whole: its predecessor IS the
    * crash window a replay merges against, and its own files may be
    * overwritten by that replay anyway.
    *
    * In-place rewrite, crash-safe per bucket: the compacted copy lands
    * in a dot-prefixed sibling (invisible to [[VersionedState.versions]]
    * and to parquet reads), swaps in with two checked renames
    * (live → `.v<N>.old`, tmp → live), and only then deletes the `.old`
    * recovery copy and the superseded versions — a crash at any point
    * leaves either the original or the recovery copy intact, and a
    * leftover `.old` fails the next compaction fast at that bucket.
    * Run offline between merges (the compactIndex contract): a merge
    * concurrent with compaction could read a bucket mid-swap. */
  def compact(spark: SparkSession, stateDir: String,
              upToExcl: Long = Long.MaxValue): Unit = {
    val f = VersionedState.fs(spark, stateDir)
    val root = new Path(stateDir)
    if (!f.exists(root)) return
    f.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("b"))
      .foreach { st =>
        val bDir = st.getPath.toString
        val vs = VersionedState.versions(spark, bDir)
        vs.headOption.filter(_ < upToExcl).foreach { v =>
          val live = new Path(s"$bDir/v$v")
          val tmp = new Path(s"$bDir/.v$v.compacting")
          val old = new Path(s"$bDir/.v$v.old")
          require(!f.exists(old),
            s"$old exists: a prior compaction crashed mid-swap. Recover " +
              s"first (rename it back to $live if $live is missing, " +
              "else delete it).")
          // a crashed pre-swap rewrite left only the tmp copy: discard
          if (f.exists(tmp)) f.delete(tmp, true)
          spark.read.parquet(live.toString).coalesce(1)
            .write.mode("overwrite").parquet(tmp.toString)
          require(f.rename(live, old),
            s"compact: rename $live -> $old failed; live state untouched")
          require(f.rename(tmp, live),
            s"compact: rename $tmp -> $live failed; recover by renaming " +
              s"$old back to $live")
          f.delete(old, true)
          // superseded versions: the fence says v can never be replayed,
          // so its predecessor crash window is no longer needed
          vs.filter(_ != v).foreach(o =>
            f.delete(new Path(s"$bDir/v$o"), true))
        }
      }
  }

  /** Full state: each bucket's latest COMMITTED version, unioned. */
  def latestState(spark: SparkSession, stateDir: String): Option[DataFrame] = {
    val p = new Path(stateDir)
    val fs = VersionedState.fs(spark, stateDir)
    if (!fs.exists(p)) return None
    val frames = fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("b"))
      .flatMap { st =>
        val dir = st.getPath.toString
        VersionedState.versions(spark, dir).headOption
          .map(v => spark.read.parquet(s"$dir/v$v"))
      }
    frames.reduceOption(_.unionByName(_))
  }

  /** Live view (winners that are not tombstones), like
    * [[StreamingUpsert.liveState]] — empty-envelope schema before the
    * first commit, for the same reason. */
  def liveState(spark: SparkSession, stateDir: String): DataFrame =
    StreamingUpsert.liveView(spark, latestState(spark, stateDir))

  /** Union of each bucket's latest version STRICTLY BELOW `maxExcl` —
    * the replay-safe read (a crashed attempt's own partial commits are
    * invisible to its replay). Falls back to the store's `_schema`
    * template when no bucket has committed yet: an artifact can be
    * legitimately EMPTY at bootstrap (a corpus with no near-dup pairs
    * has no cluster rows), which must read as an empty typed frame, not
    * as a missing store. Shared by every bucketed artifact store
    * ([[BucketedCuration]], [[BucketedSemanticDedup]]). */
  private[graft] def stateBefore(spark: SparkSession, dir: String,
                                     maxExcl: Long): Option[DataFrame] = {
    val p = new Path(dir)
    val f = VersionedState.fs(spark, dir)
    if (!f.exists(p)) return None
    f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("b"))
      .flatMap { st =>
        val d = st.getPath.toString
        VersionedState.versions(spark, d).find(_ < maxExcl)
          .map(v => spark.read.parquet(s"$d/v$v"))
      }
      .reduceOption(_.unionByName(_))
      .orElse {
        if (f.exists(new Path(s"$dir/_schema/_SUCCESS")))
          Some(spark.read.parquet(s"$dir/_schema"))
        else None
      }
  }

  /** Persist the store's row schema once (an empty parquet table) so an
    * empty store reads as an empty TYPED frame. Overwrite-on-missing
    * keeps a torn first write self-healing. */
  private[graft] def ensureTemplate(slice: DataFrame,
                                        dir: String): Unit = {
    val f = VersionedState.fs(slice.sparkSession, dir)
    if (!f.exists(new Path(s"$dir/_schema/_SUCCESS")))
      slice.limit(0).write.mode("overwrite").parquet(s"$dir/_schema")
  }

  /** Latest committed version of a small whole-table chain strictly
    * below `maxExcl` — the non-bucketed companion read. */
  private[graft] def tableBefore(spark: SparkSession, dir: String,
                                     maxExcl: Long): Option[DataFrame] =
    VersionedState.versions(spark, dir).find(_ < maxExcl)
      .map(v => spark.read.parquet(s"$dir/v$v"))
}
