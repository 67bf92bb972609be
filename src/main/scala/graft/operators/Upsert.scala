package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Last-writer-wins upsert resolution (SURVEY §2.8 T4 + §2.9 K1/K2).
  *
  * The reference gets idempotent, order-free replay by letting Elasticsearch
  * enforce external versions per document (monstache.go:4053-4063, conflict
  * 409s ignored at 566-571). In Spark the same guarantee is a per-key
  * version-max reduction: for each id keep the op with the highest version;
  * delete ops carry +2 so a delete beats a same-instant update.
  *
  * Scale: `max_by(struct(row), struct(version, tieBreak))` aggregates with
  * map-side partial combine — each input partition reduces to one candidate
  * per key before the shuffle, and no per-key sort happens at all. Against
  * hot keys (one doc updated millions of times) this is the difference
  * between shuffling a handful of partial winners and shuffling + sorting
  * the full history, which is why it replaced the earlier `row_number`
  * window. The (version, tieBreak) struct comparison is the same total
  * order the window used, so results are identical.
  */
object Upsert {

  /** Sink identity: (namespace, id) when the frame carries a namespace
    * column, bare id for single-collection slices. Two collections
    * freely reuse ids (sequential integer `_id`s are the MongoDB norm,
    * and the sink dedupes per index, not globally — routeOp keys on the
    * namespace-resolved index, monstache.go:3295-3304), so keying on id
    * alone would let `app.a` id 7 and `app.b` id 7 clobber each other. */
  def identityCols(df: DataFrame, keyCol: String = "id"): Seq[String] =
    if (df.columns.contains("namespace")) Seq("namespace", keyCol)
    else Seq(keyCol)

  /** The last-writer-wins order: the op with the greatest
    * (version, tieBreak) wins its key. Both [[lastWriterWins]] and
    * [[withWinnerFlag]] rank by this one definition. */
  private def lwwOrder(versionCol: String, tieBreak: String): Column =
    struct(col(versionCol), col(tieBreak))

  /** Keep exactly the winning op per key, with deterministic tie-break. */
  def lastWriterWins(df: DataFrame, keyCol: String = "id",
                     versionCol: String = "version",
                     tieBreak: String = "event_id"): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    val keys = identityCols(df, keyCol).zipWithIndex
      .map { case (k, i) => col(k).as(s"__lww_k$i") }
    df.groupBy(keys: _*)
      .agg(max_by(payload, lwwOrder(versionCol, tieBreak)).as("__lww_w"))
      .select(col("__lww_w.*"))
  }

  /** [[lastWriterWins]] as a flag instead of a reduction: every row of
    * `df` is kept, and `flagCol` is true on exactly the one row per key
    * that [[lastWriterWins]] over `df.filter(eligible)` would return
    * (false elsewhere, ineligible rows included). A frame that feeds
    * both the live documents and the tombstones ranks once and filters
    * twice, where two [[lastWriterWins]] calls would shuffle twice.
    *
    * Scale: a window ranks by a per-key sort with no map-side combine,
    * so this is for batch-bounded frames (one micro-batch); an unbounded
    * history with hot keys belongs to [[lastWriterWins]]. */
  def withWinnerFlag(df: DataFrame, eligible: Column,
                     flagCol: String): DataFrame = {
    val ok = coalesce(eligible, lit(false))
    val w = Window.partitionBy(identityCols(df).map(col): _*)
      .orderBy(ok.desc, lwwOrder("version", "event_id").desc)
    df.withColumn(flagCol, ok && row_number().over(w) === 1)
  }

  /** Final sink state: winners whose last op is not a delete. The companion
    * tombstone set is [[tombstones]]. Together they are what the reference's
    * ES index would hold after replaying the stream in any order. The live
    * view selects DATA ops explicitly — control ops (drop_coll/drop_db,
    * which flow through the hot path since they carry no id) are not
    * documents and never appear here. */
  def liveDocuments(df: DataFrame): DataFrame =
    lastWriterWins(df).filter(col("operation").isin("i", "u"))

  /** Ids whose final op is a delete — the delete stream the sink must apply
    * (delete-strategy "stateless", monstache.go:4065-4147). */
  def tombstones(df: DataFrame): DataFrame =
    lastWriterWins(df).filter(col("operation") === "d")

  /** K1 `index-as-update` mode (BulkUpdateRequest doc-as-upsert,
    * monstache.go:3203-3215): instead of whole-doc overwrite, each update
    * merges its fields into the stored doc — fields absent from an update
    * survive from earlier versions, nothing is removed. Per key and per
    * field that is "latest non-null value by (version, tieBreak)", which
    * aggregates with map-side partial combine (max over a (version, tie,
    * value) struct ignores rows where the field is null).
    *
    * Deletes FENCE the merge: the reference replays ops in order, so a
    * delete wipes the stored doc and later partial updates build on an
    * empty one — a field last set BEFORE the key's latest delete must not
    * resurrect. Expressed aggregation-side (no join): each field's global
    * latest-non-null winner is kept only if it outranks the latest
    * delete's (version, tieBreak). A later write of the same field
    * outranks the fence and wins identically either way. Keys with no
    * data op at all (delete-only) do not appear, matching the old
    * i/u-only grouping. */
  def indexAsUpdate(df: DataFrame, fields: Seq[String],
                    keyCol: String = "id", versionCol: String = "version",
                    tieBreak: String = "event_id"): DataFrame = {
    val isData = col("operation").isin("i", "u")
    val ord = lwwOrder(versionCol, tieBreak)
    val aggs = fields.map { f =>
      max(when(isData && col(f).isNotNull,
        struct(col(versionCol), col(tieBreak), col(f).as("v"))))
        .as(s"__m_$f")
    } ++ Seq(
      max(when(isData, col(versionCol))).as("merged_version"),
      max(when(col("operation") === "d", ord)).as("__dmax"))
    val keys = identityCols(df, keyCol)
    val merged = df.filter(isData || col("operation") === "d")
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      // delete-only keys never appeared under the old i/u-only grouping
      .filter(col("merged_version").isNotNull)
    val unfenced = fields.map { f =>
      val m = col(s"__m_$f")
      when(col("__dmax").isNull ||
          struct(m.getField(versionCol), m.getField(tieBreak)) > col("__dmax"),
        m.getField("v")).as(f)
    }
    merged.select(keys.map(col) ++ unfenced :+ col("merged_version"): _*)
  }
}
