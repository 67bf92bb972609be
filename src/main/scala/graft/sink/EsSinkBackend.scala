package graft.sink

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.GraftConfig
import graft.streaming.RetryingSink

/** Minimal Elasticsearch transport surface the [[EsSinkBackend]] skeleton
  * writes through — the ONLY piece a deployment implements with a real
  * HTTP client (this repo is network-free by design, so no client ships
  * here; the unit spec drives the same surface with an in-memory mock).
  *
  * `bulk` submits one `_bulk` NDJSON payload and returns the PER-ACTION
  * HTTP statuses in action order — exactly the shape the ES bulk response
  * provides (`items[*].status`), and what the fence/retry logic needs:
  * per-item 409s are ignored (the external-version fence working), per-
  * item 429/503s are retried with backoff, anything else fails the batch
  * loudly (the reference's `afterBulk` error path, monstache.go:559-632).
  *
  * Implementations must be [[Serializable]]: the backend ships the
  * transport inside `foreachPartition` closures to the executors, which
  * is what makes the bulk write distributed (each partition opens its own
  * connection — the es-hadoop connector's topology).
  */
trait EsTransport extends Serializable {

  /** POST `_bulk` with an NDJSON payload → per-action statuses, in
    * payload order. */
  def bulk(payload: String): Seq[Int]

  /** DELETE an index (or `pattern*` expression) — K3's sink call. */
  def deleteIndex(pattern: String): Unit

  /** PUT an ingest pipeline — K8's bootstrap call. */
  def putPipeline(id: String, body: String): Unit

  /** The sink's (namespace, id, meta_index, meta_routing) coordinate
    * view for delete resolution. A REAL deployment serves this from a
    * connector READ of the sink indices (scale: the coordinate set is
    * index-sized) — this transport-level hook exists so the skeleton is
    * testable without a cluster; it materializes on the driver and is
    * therefore mock/test-sized by contract. [[EsSinkBackend.sinkState]]
    * hands the list to Spark as an RDD ([[SinkBackend.stateView]]),
    * never as a plan-embedded local relation. */
  def scanState(): Seq[(String, String, String, String)]
}

/** Bulk sizing / retry policy — the reference's knobs
  * (`elasticsearch-max-docs`, `elasticsearch-max-bytes`,
  * monstache.go:5352-5366) plus the T7 backoff schedule
  * ([[RetryingSink.backoffMillis]]; the reference pauses 1 min → 1 h,
  * tests inject millis). */
final case class EsSinkConfig(
    maxActions: Int = 1000,
    maxBytes: Long = 8L * 1024 * 1024,
    maxRetries: Int = 5,
    backoffBaseMs: Long = 60000L,
    backoffCapMs: Long = 3600000L,
    /** Hard cap on how many coordinate rows [[EsSinkBackend.sinkState]]
      * will accept from `EsTransport.scanState` before failing loudly —
      * the driver-side scan is a test/mock seam by contract, and a
      * deployment that forgets the connector-read override must get an
      * error naming the fix, not a driver OOM collecting an index-sized
      * frame (the `maxStrata`/`maxSample` loud-contract class). */
    maxScanStateRows: Int = 100000,
    /** Where [[EsSinkBackend.quarantine]] lands rejected ops — the
      * analog of the reference's error index (`processErr` indexes each
      * bulk failure into a visible place, monstache.go:3493-3508). */
    rejectsIndex: String = "graft.rejects")

/** Elasticsearch-shaped [[SinkBackend]] — the deployment skeleton the
  * round-11 verdict asked for: every frame the [[SinkWriter]] hands over
  * is written `foreachPartition` → chunked `_bulk` NDJSON with EXTERNAL
  * version actions, per-item 409s ignored (the version fence: a replayed
  * or stale action at-or-below the stored version must be a no-op,
  * monstache.go:566-571), per-item 429/503 retried with the T7
  * exponential backoff, and any other failure thrown so the streaming
  * query fails loudly and the checkpoint replays the batch (at-least-once
  * + idempotent actions = exactly-once effect).
  *
  * What a deployment supplies: an [[EsTransport]] over its HTTP client,
  * and (for delete strategies 0/1 at scale) a `scanState` backed by a
  * connector read instead of the driver-side default. Everything else —
  * action construction, chunking, fencing, retry, bootstrap — is this
  * file and is unit-tested against the in-memory mock transport.
  */
class EsSinkBackend(transport: EsTransport,
                    es: EsSinkConfig = EsSinkConfig(),
                    sleep: Long => Unit = Thread.sleep)
    extends SinkBackend with Serializable {

  import EsSinkBackend._

  /** K8: one attachment-style ingest pipeline per resolved file index
    * (`ensureFileMapping`, monstache.go:775-793 — the reference prepares
    * file namespaces' indices before any document lands). Idempotent:
    * PUT of the same pipeline id is an overwrite. */
  override def bootstrap(cfg: GraftConfig,
                         fileIndexes: Seq[(String, String)]): Unit =
    fileIndexes.foreach { case (_, index) =>
      transport.putPipeline(s"$index-attachment",
        s"""{"description":"graft file-content attachment for $index",""" +
          """"processors":[{"attachment":{"field":"file_content",""" +
          """"ignore_missing":true}}]}""")
    }

  override def bulkUpsert(docs: DataFrame): Unit = {
    val t = transport; val cfg = es; val slp = sleep
    docs.select(col("meta_index"), col("meta_id"), col("meta_routing"),
        col("meta_version"), col("document"))
      .foreachPartition { (rows: Iterator[Row]) =>
        sendChunked(t, cfg, slp, rows.map { r =>
          val action = s"""{"index":{"_index":${js(r.getString(0))},""" +
            s""""_id":${js(r.getString(1))}${routing(r, 2)},""" +
            s""""version":${r.getLong(3)},"version_type":"external"}}"""
          val doc = if (r.isNullAt(4)) "{}" else r.getString(4)
          action + "\n" + doc
        })
      }
  }

  override def delete(deletes: DataFrame): Unit = {
    val t = transport; val cfg = es; val slp = sleep
    deletes.select(col("del_index"), col("id"), col("del_routing"),
        col("del_version"))
      .foreachPartition { (rows: Iterator[Row]) =>
        sendChunked(t, cfg, slp, rows.map { r =>
          s"""{"delete":{"_index":${js(r.getString(0))},""" +
            s""""_id":${js(r.getString(1))}${routing(r, 2)},""" +
            s""""version":${r.getLong(3)},"version_type":"external"}}"""
        })
      }
  }

  /** K3: control-plane sized — the pattern list collects and dedupes on
    * the driver (it is the drop set of one batch) and each index deletion
    * is one transport call, `prefix` kinds as a trailing-star
    * expression. */
  override def dropIndexes(drops: DataFrame): Unit =
    drops.select(col("kind"), col("pattern")).collect()
      .map(r => (r.getString(0), r.getString(1))).distinct
      .foreach { case (kind, p) =>
        transport.deleteIndex(if (kind == "exact") p else p + "*")
      }

  /** K4: append-only dated history. The bulk id is the DETERMINISTIC
    * `source_id@version` (the reference uses ES auto-ids,
    * monstache.go:3283-3287 — auto-ids double-append on a replayed
    * batch, so the batch analog derives the id from the row and a replay
    * overwrites itself instead). No external version: every version IS a
    * distinct row by construction of the id. */
  override def appendHistory(history: DataFrame): Unit = {
    val t = transport; val cfg = es; val slp = sleep
    history.select(col("history_index"), col("source_id"),
        col("history_routing"), col("version"), col("document"))
      .foreachPartition { (rows: Iterator[Row]) =>
        sendChunked(t, cfg, slp, rows.map { r =>
          val action = s"""{"index":{"_index":${js(r.getString(0))},""" +
            s""""_id":${js(r.getString(1) + "@" + r.getLong(3))}""" +
            s"""${routing(r, 2)}}}"""
          val doc = if (r.isNullAt(4)) "{}" else r.getString(4)
          action + "\n" + doc
        })
      }
  }

  /** The rejects channel → the rejects index (`processErr`,
    * monstache.go:3493-3508). Deterministic `_id` = `event_id@reason`
    * so a replayed batch overwrites its own reject rows instead of
    * double-reporting (the appendHistory replay discipline). No
    * external version: one op yields at most one row per reason. */
  override def quarantine(rejects: DataFrame): Unit = {
    val t = transport; val cfg = es; val slp = sleep
    rejects.select(col("event_id"), col("namespace"), col("operation"),
        col("id"), col("version"), col("reject_reason"))
      .foreachPartition { (rows: Iterator[Row]) =>
        sendChunked(t, cfg, slp, rows.map { r =>
          val action = s"""{"index":{"_index":${js(cfg.rejectsIndex)},""" +
            s""""_id":${js(r.getLong(0) + "@" + r.getString(5))}}}"""
          val doc = s"""{"event_id":${r.getLong(0)},""" +
            s""""namespace":${js(r.getString(1))},""" +
            s""""operation":${js(r.getString(2))},""" +
            s""""id":${if (r.isNullAt(3)) "null" else js(r.getString(3))},""" +
            s""""version":${r.getLong(4)},""" +
            s""""reason":${js(r.getString(5))}}"""
          action + "\n" + doc
        })
      }
  }

  override def sinkState(spark: SparkSession): DataFrame = {
    val scanned = transport.scanState()
    require(scanned.lengthCompare(es.maxScanStateRows) <= 0,
      s"EsTransport.scanState returned more than ${es.maxScanStateRows} " +
        "coordinate rows — the driver-side scan is mock/test-sized by " +
        "contract; back sinkState with a connector READ of the sink " +
        "indices (or raise EsSinkConfig.maxScanStateRows deliberately)")
    SinkBackend.stateView(spark, scanned)
  }
}

object EsSinkBackend {

  /** JSON string literal (quote + escape) for action metadata values. */
  private[sink] def js(s: String): String =
    if (s == null) "null"
    else {
      val b = new StringBuilder(s.length + 2).append('"')
      s.foreach {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append('"').toString
    }

  /** Optional `"routing":…` clause from a nullable row slot. */
  private def routing(r: Row, i: Int): String =
    if (r.isNullAt(i)) "" else s""","routing":${js(r.getString(i))}"""

  /** Retryable-at-the-item-level statuses: ES returns 429 on bulk-queue
    * rejection and 503 on transient unavailability — the reference's
    * back-off-and-retry class. */
  private def retryable(s: Int): Boolean = s == 429 || s == 503

  /** Acceptable statuses: 2xx success, 409 = external-version conflict
    * (the fence ignoring a stale replay, monstache.go:566-571), 404 = a
    * versioned delete of an already-absent doc (same stale-replay
    * class). */
  private def ok(s: Int): Boolean = (s >= 200 && s < 300) || s == 409 || s == 404

  /** Chunk actions to the size policy and send each chunk, retrying the
    * RETRYABLE failed subset with exponential backoff (partial-retry, the
    * ES bulk idiom: succeeded items must not be resent — with external
    * versions a resend is merely wasted work, but at bulk-queue-rejection
    * time resending the full chunk is what keeps the queue rejecting).
    * Exhausted retries or a non-retryable status throw — the streaming
    * query fails loudly and the checkpoint replays the batch. */
  private[sink] def sendChunked(t: EsTransport, es: EsSinkConfig,
                                sleep: Long => Unit,
                                actions: Iterator[String]): Unit = {
    val chunk = new scala.collection.mutable.ArrayBuffer[String]()
    var bytes = 0L
    def flush(): Unit = if (chunk.nonEmpty) {
      var pending = chunk.toVector
      var attempt = 0
      var done = false
      while (!done) {
        val statuses = t.bulk(pending.mkString("", "\n", "\n"))
        require(statuses.length == pending.length,
          s"es bulk: ${statuses.length} statuses for ${pending.length} actions")
        val bad = pending.zip(statuses).filterNot { case (_, s) => ok(s) }
        if (bad.isEmpty) done = true
        else if (bad.forall { case (_, s) => retryable(s) } &&
                 attempt < es.maxRetries) {
          sleep(RetryingSink.backoffMillis(attempt, es.backoffBaseMs,
            es.backoffCapMs))
          attempt += 1
          pending = bad.map(_._1)
        } else {
          val worst = bad.map(_._2).max
          throw new IllegalStateException(
            s"es bulk: ${bad.length}/${pending.length} actions failed " +
              s"(worst status $worst, attempt $attempt) — failing the " +
              "batch for checkpoint replay")
        }
      }
      chunk.clear(); bytes = 0L
    }
    actions.foreach { a =>
      chunk += a
      bytes += a.length + 1
      if (chunk.length >= es.maxActions || bytes >= es.maxBytes) flush()
    }
    flush()
  }
}
