package graft.streaming

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared mechanics for versioned parquet state directories, used by
  * [[StreamingUpsert]] (one global chain), [[BucketedState]] (one chain
  * per bucket) and the other streaming folds.
  *
  * Layout: a FULL version `v<batchId>` holds the whole state as of that
  * batch. A chained state ([[mergeChained]]) also holds DELTA versions
  * `d<batchId>`, each the combined ops of that one batch alone. The state
  * as of a batch is its BASE (the newest full at or below it) folded with
  * its CHAIN (the deltas after the base, up to the batch). Whether a
  * version is a delta is part of its directory name, so it commits with
  * the data: there is no marker written afterwards whose loss could make a
  * delta read as a full version and drop the base's rows.
  *
  * Commit protocol: a version is COMMITTED iff Spark's `_SUCCESS`
  * job-commit marker exists inside it. A crash mid-write leaves a
  * directory without the marker (or with only `_temporary`), and every
  * reader here ignores such directories — so a torn delta or a torn
  * compaction is never folded in, and the state reads as of the intact
  * predecessor until the replayed batch rewrites it. Writers get this for
  * free (parquet job commit creates `_SUCCESS` last).
  */
private[streaming] object VersionedState {

  private val VersionRe = "^([vd])(-?\\d+)$".r

  /** One committed version directory: `v<batch>` (full) or `d<batch>`
    * (delta), with the bytes of the files directly inside it (the table,
    * for a single-table version). */
  final case class Version(batch: Long, delta: Boolean, bytes: Long) {
    def name: String = s"${if (delta) "d" else "v"}$batch"
  }

  /** A state as of some batch: the base and the deltas after it, oldest
    * first. */
  private final case class Chain(base: Option[Version], deltas: Seq[Version]) {
    def paths(dir: String): Seq[String] =
      (base.toSeq ++ deltas).map(v => s"$dir/${v.name}")

    /** Size ratio 1: the next merge rewrites the state into a new full
      * version once the chain's bytes reach the base's. Every ingested
      * byte is then rewritten about twice (once in its delta, once in
      * the compaction that follows), whatever the state's size, and a
      * reader folds at most one base-size of deltas on top of the base.
      * A larger ratio would trade longer reads for fewer rewrites. An
      * empty state has a zero-byte base, so its first merge is full. */
    def compactionDue: Boolean =
      deltas.map(_.bytes).sum >= base.map(_.bytes).getOrElse(0L)
  }

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write the `_SUCCESS` commit marker for a MULTI-TABLE version dir —
    * one whose member tables each job-committed individually, so the
    * dir-level marker (what [[versions]] keys off) must be written
    * explicitly, LAST. Single-table versions get theirs from the parquet
    * job commit and never need this. */
  def commitMarker(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir, "_SUCCESS")
    fs(spark, dir).create(p, true).close()
  }

  /** Committed full and delta versions under `dir`, newest first, with
    * their sizes: one listing of `dir` and one of each version directory.
    * Merge paths take it ONCE and thread it through the guard, the chain
    * and the GC: on object stores the listings, not the merge work,
    * dominate small batches. A version directory deleted while it is
    * listed counts as uncommitted. */
  def listing(spark: SparkSession, dir: String): Seq[Version] = {
    val p = new Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionRe(kind, n) if st.isDirectory =>
          val files = try f.listStatus(st.getPath).toSeq
            catch { case _: FileNotFoundException => Nil }
          if (files.exists(_.getPath.getName == "_SUCCESS"))
            Some(Version(n.toLong, kind == "d", files.map(_.getLen).sum))
          else None
        case _ => None
      }
    }.sortBy(v => (v.batch, !v.delta)).reverse
  }

  /** Committed FULL versions under `dir`, newest first. */
  def versions(spark: SparkSession, dir: String): Seq[Long] =
    listing(spark, dir).filterNot(_.delta).map(_.batch)

  /** The state strictly before batch `before`: the newest full below it
    * and the deltas between that full and `before`. A delta at the
    * base's own batch id is shadowed by the full (which contains it). */
  private def chain(vs: Seq[Version], before: Long): Chain = {
    val base = vs.find(v => !v.delta && v.batch < before)
    val after = base.map(_.batch).getOrElse(Long.MinValue)
    Chain(base, vs.filter(v => v.delta && v.batch > after && v.batch < before)
      .sortBy(_.batch))
  }

  /** The state of a chained dir strictly before batch `before`: one
    * parquet scan over the base and its chain, folded with `combine` (see
    * [[mergeChained]]); the base alone is returned unchanged. None before
    * the first commit. */
  def readChained(spark: SparkSession, dir: String, before: Long)(
      combine: DataFrame => DataFrame): Option[DataFrame] =
    chain(listing(spark, dir), before).paths(dir) match {
      case Seq() => None
      case Seq(one) => Some(spark.read.parquet(one))
      case ps => Some(combine(spark.read.parquet(ps: _*)))
    }

  /** Idempotent merge of one batch into a chained state dir. `combine`
    * folds any set of rows into the state they stand for, and must not
    * care how its input was split: `combine(combine(a) ∪ combine(b))` is
    * `combine(a ∪ b)`.
    *
    *  - While the chain below `batchId` is smaller than its base (see
    *    `Chain.compactionDue`), the batch is written as the delta
    *    `d<batchId>`: `combine(batch)`, which depends on the batch alone,
    *    so a replay overwrites it with the same rows. Nothing is deleted.
    *  - Otherwise it is compacted into the full `v<batchId>`: one scan
    *    over the base and chain, unioned with the batch, one `combine`.
    *    Then everything older than the previous base is deleted; that
    *    base and its chain stay, because a replay of `batchId` reads them.
    *
    * The choice depends only on versions below `batchId`, which this
    * merge never changes, so a replay makes the same choice. */
  def mergeChained(batch: DataFrame, batchId: Long, dir: String)(
      combine: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    val vs = listing(spark, dir)
    requireNoNewerThan(vs.map(_.batch), dir, batchId)
    val c = chain(vs, batchId)
    if (c.compactionDue) {
      val prev = c.paths(dir) match {
        case Seq() => batch
        case ps => spark.read.parquet(ps: _*).unionByName(batch)
      }
      combine(prev).write.mode("overwrite").parquet(s"$dir/v$batchId")
      gc(spark, dir, batchId, vs)
    } else
      combine(batch).write.mode("overwrite").parquet(s"$dir/d$batchId")
  }

  /** A fresh checkpoint must not merge into a LATER state dir: committed
    * versions (full or delta) beyond the incoming batch id mean the state
    * belongs to a different (further-progressed) checkpoint, and merging
    * would be silently invisible to readers until the batch ids catch up
    * — resurrecting stale state with no error anywhere. (A replayed batch
    * seeing its OWN version is fine: `<=`.) `vs` is a pre-taken listing's
    * batch ids: merge paths list the directory ONCE and thread the result
    * through guard, predecessor lookup, and GC (BucketedState multiplies
    * the listings per touched bucket). */
  def requireNoNewerThan(vs: Seq[Long], dir: String, batchId: Long): Unit = {
    val newer = vs.filter(_ > batchId).distinct
    require(newer.isEmpty,
      s"state dir $dir already holds committed versions ${newer.mkString(",")} " +
        s"newer than batch $batchId — it belongs to a further-progressed " +
        "checkpoint; use a fresh state dir or restore the matching checkpoint")
  }

  /** GC of a full-version-only dir: keep the newest version strictly
    * below `batchId` (the crash-recovery predecessor) and delete
    * everything older. `vs` is a listing taken before this batch's own
    * write (targets are strictly below `batchId`, so it is exactly the
    * candidate set). */
  def gcBefore(spark: SparkSession, dir: String, batchId: Long,
               vs: Seq[Long]): Unit =
    gc(spark, dir, batchId, vs.map(Version(_, delta = false, 0L)))

  /** The one GC rule: the newest full below `batchId` and every version
    * after it stay; everything older goes, deltas included. */
  private def gc(spark: SparkSession, dir: String, batchId: Long,
                 vs: Seq[Version]): Unit =
    chain(vs, batchId).base.foreach { keep =>
      val f = fs(spark, dir)
      vs.filter(_.batch < keep.batch)
        .foreach(v => f.delete(new Path(dir, v.name), true))
    }
}
