package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Upsert

/** Streaming twin of K1's `index-as-update` mode ([[Upsert.indexAsUpdate]];
  * BulkUpdateRequest doc-as-upsert, monstache.go:3203-3215): per key and
  * per field, the latest NON-NULL value survives across partial updates —
  * continuously, across micro-batches, with checkpoint/resume.
  *
  * The batch form is a single groupBy because it sees every op at once. The
  * streaming form works because the per-field reduction is an associative,
  * commutative fold over `struct(version, tie, value)` maxima — so state
  * can hold one PARTIAL row per key (each field's current winner struct +
  * the key's overall LWW winner op) and merging a micro-batch is the same
  * `max` aggregation applied to `state ∪ batch-partials`. Map-side partial
  * aggregation collapses each side before the shuffle, and a key's state
  * row is field-count-bounded regardless of how many updates it absorbed —
  * the hot-key property the whole index-as-update mode exists for.
  *
  * Durability rides the same versioned-state protocol as
  * [[StreamingUpsert]] (`v<batchId>` + `_SUCCESS` commit markers): a
  * replayed batch merges against its predecessor, never its own partial
  * output, so at-least-once delivery cannot double-apply (re-maxing the
  * same structs is idempotent anyway — the protocol guards the torn-write
  * case, not the arithmetic).
  *
  * Deletes: the state additionally tracks each key's overall last-writer
  * op (including deletes, `d` winning +2 ties per [[graft.codec.Codecs
  * .opOffset]]). [[finish]] drops keys whose final op is a delete — the
  * streaming equal of the batch path's tombstone anti-join
  * ([[graft.config.ConfiguredPipeline.indexedDocuments]]).
  */
object StreamingIndexAsUpdate {

  private val MergedVersion = "__iau_mv"
  private val WinnerOp = "__iau_w"
  private val DeleteMax = "__iau_d"
  private def slot(f: String) = s"__iau_f_$f"

  /** Partial-state LAYOUT version, stamped as a `_layout` marker in the
    * state dir. The layout (winner-struct field names, the delete-fence
    * column) has changed across revisions, and resuming a state dir
    * written by an older layout otherwise surfaces as a generic
    * missing-column AnalysisException deep inside [[combine]]'s
    * unionByName — nothing names the actual problem. Bump this constant
    * whenever the partial-row schema changes shape. */
  private[streaming] val LayoutVersion = "iau-2"
  private val LayoutMarker = "_layout"

  /** Fail loudly when `stateDir` holds state written under a different
    * partial-row layout; stamp the marker on a virgin dir iff `stamp`.
    * (A dir with committed versions but NO marker predates the marker
    * protocol — treated as the older layout.) */
  private def checkLayout(spark: SparkSession, stateDir: String,
                          vs: Seq[Long], stamp: Boolean): Unit = {
    val f = VersionedState.fs(spark, stateDir)
    val p = new org.apache.hadoop.fs.Path(stateDir, LayoutMarker)
    def fail(found: String): Nothing = throw new IllegalStateException(
      s"state dir $stateDir was written by partial-state layout $found " +
        s"but this build reads $LayoutVersion — rebuild the state dir " +
        "(replay the stream) or migrate it; resuming would fail on " +
        "mismatched state columns")
    if (f.exists(p)) {
      val in = f.open(p)
      val got =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (got != LayoutVersion) fail(got)
    } else if (vs.nonEmpty) {
      fail("<unmarked, pre-iau-2>")
    } else if (stamp) {
      val out = f.create(p, true)
      try out.write(LayoutVersion.getBytes("UTF-8")) finally out.close()
    }
  }

  private def keyCols(state: DataFrame): Seq[String] =
    state.columns.filterNot(_.startsWith("__iau_")).toSeq

  /** One partial row per key for a slice of ops: per-field winner structs
    * (over data ops with a non-null field), max data version, and the
    * overall LWW winner op. Unions of partials re-[[combine]] losslessly. */
  def partials(df: DataFrame, fields: Seq[String],
               keyCol: String = "id", versionCol: String = "version",
               tieBreak: String = "event_id"): DataFrame = {
    val isData = col("operation").isin("i", "u")
    val aggs = fields.map { f =>
      max(when(isData && col(f).isNotNull,
        struct(col(versionCol).as("ver"), col(tieBreak).as("tie"),
          col(f).as("v"))))
        .as(slot(f))
    } ++ Seq(
      max(when(isData, col(versionCol))).as(MergedVersion),
      // the delete fence: a field winner older than the key's latest
      // delete must not resurrect (same rule as the batch operator)
      max(when(col("operation") === "d",
        struct(col(versionCol).as("ver"), col(tieBreak).as("tie"))))
        .as(DeleteMax),
      max_by(struct(col("operation").as("op"), col(versionCol).as("ver"),
          col(tieBreak).as("tie")),
        struct(col(versionCol), col(tieBreak))).as(WinnerOp))
    df.groupBy(Upsert.identityCols(df, keyCol).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Merge a union of partial frames back to one row per key — `max` over
    * each winner struct (nulls ignored), `max_by` over the overall op. */
  def combine(parts: DataFrame): DataFrame = {
    val keys = keyCols(parts)
    val aggs = parts.columns.filterNot(keys.contains).toSeq.map {
      case WinnerOp => max_by(col(WinnerOp),
        struct(col(s"$WinnerOp.ver"), col(s"$WinnerOp.tie"))).as(WinnerOp)
      case c => max(col(c)).as(c)
    }
    parts.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The indexed view of a partial-state frame: keys + merged fields +
    * `merged_version`, minus keys whose final op is a delete and keys
    * that never carried a data op — column-for-column what
    * [[Upsert.indexAsUpdate]] + the tombstone anti-join produce. */
  def finish(state: DataFrame, fields: Seq[String]): DataFrame = {
    val keys = keyCols(state)
    val fenced = fields.map { f =>
      when(col(DeleteMax).isNull ||
          struct(col(s"${slot(f)}.ver"), col(s"${slot(f)}.tie")) >
            col(DeleteMax),
        col(s"${slot(f)}.v")).as(f)
    }
    state
      .filter(col(s"$WinnerOp.op") =!= "d" && col(MergedVersion).isNotNull)
      .select(keys.map(col) ++ fenced :+
        col(MergedVersion).as("merged_version"): _*)
  }

  /** Idempotent merge of one micro-batch into the versioned partial
    * state: a full rewrite per batch, the compaction step of
    * [[StreamingUpsert.mergeBatch]]'s protocol. */
  def mergeBatch(batch: DataFrame, batchId: Long, stateDir: String,
                 fields: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val vs = VersionedState.versions(spark, stateDir)
    checkLayout(spark, stateDir, vs, stamp = true)
    VersionedState.requireNoNewerThan(vs, stateDir, batchId)
    val part = partials(batch, fields)
    val prev = vs.find(_ < batchId)
      .map(v => spark.read.parquet(s"$stateDir/v$v"))
    val merged = prev.map(p => combine(p.unionByName(part))).getOrElse(part)
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    VersionedState.gcBefore(spark, stateDir, batchId, vs)
  }

  /** Continuous doc-as-upsert: envelope stream → optional transform →
    * per-field merged durable state, checkpointed for resume. */
  def start(events: DataFrame, stateDir: String, checkpointDir: String,
            fields: Seq[String],
            transform: DataFrame => DataFrame = identity,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(fields.nonEmpty, "index-as-update needs merge fields — the " +
      "columns whose latest non-null value merges across partial updates")
    transform(events).writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, batchId, stateDir, fields)
      }
      .start()
  }

  /** The merged live view of the latest committed state; None before the
    * first commit (the state's key/field schema is transform-defined, so
    * there is no honest empty frame to synthesize — see
    * [[StreamingUpsert.liveState]] for the fixed-schema contrast). */
  def mergedState(spark: SparkSession, stateDir: String,
                  fields: Seq[String]): Option[DataFrame] = {
    val vs = VersionedState.versions(spark, stateDir)
    checkLayout(spark, stateDir, vs, stamp = false)
    vs.headOption
      .map(v => finish(spark.read.parquet(s"$stateDir/v$v"), fields))
  }
}
