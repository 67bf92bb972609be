package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** The correctness oracle: a plain sequential fold over the generated ops,
  * written without Spark and without the program's operators, giving what
  * the sink or the state must hold at the end. Each check reports failed
  * operations: every op on a key whose final value is missing or wrong
  * (at least one per wrong key), every op never applied, and every
  * missing or extra history entry or reject. */
object Oracle {
  final case class Verdict(failed: Long, notes: Seq[String])

  private val day = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
  def historyIndex(ns: String, tsUs: Long): String =
    s"log.$ns.${day.format(Instant.ofEpochMilli(tsUs / 1000))}"

  /** Sink contents after `applied` ops of the `--sink` pipeline, over the
    * pre-loaded index. `app.t2` is join-only: its inserts and updates
    * re-index the `app.ref` doc they point at, its deletes do nothing.
    * `app.t0` is a time-machine namespace: every op appends one history
    * entry `<id>@<version>`. */
  def tailSink(store: MockEsStore, preload: Iterator[((String, String), EsDoc)],
               t: ScheduledTransport, ops: Array[GenOp], applied: Int): Verdict = {
    val want = mutable.HashMap[(String, String), EsDoc]()
    preload.foreach { case (k, d) => want(k) = d }
    val opsOn = mutable.HashMap[(String, String), Int]().withDefaultValue(0)
    val history = mutable.HashSet[(String, String)]()
    for (i <- 0 until applied) {
      val o = ops(i)
      val v = t.dueUs(i) * 4 + o.offset
      o.ns match {
        case "app.t2" =>
          if (o.op != "d") {
            val k = ("app.ref", Gen.idOf("app.ref", o.ref))
            if (want.get(k).forall(_.version < v))
              want(k) = EsDoc(v, k._2, Gen.refBody(o.ref))
            opsOn(k) += 1
          }
        case ns if o.op == "drop_coll" =>
          want.keys.filter(_._1 == ns).toList.foreach(want.remove)
        case ns =>
          val k = (ns, o.id)
          if (o.op == "d") want.remove(k) else want(k) = EsDoc(v, o.id, o.document)
          opsOn(k) += 1
          if (ns == "app.t0") history += ((historyIndex(ns, t.dueUs(i)), s"${o.id}@$v"))
      }
    }
    val wrong = mutable.ArrayBuffer[(String, String)]()
    store.docs.forEach { (ix, m) =>
      m.forEach { (id, d) =>
        val k = (ix, id)
        if (!want.get(k).contains(d)) wrong += k
      }
    }
    want.keys.foreach { case k @ (ix, id) =>
      val m = store.docs.get(ix)
      if (m == null || !m.containsKey(id)) wrong += k
    }
    var failed = wrong.distinct.map(k => math.max(1, opsOn(k)).toLong).sum
    var histBad = 0L
    val seen = mutable.HashSet[(String, String)]()
    store.side.forEach { (ix, m) =>
      if (ix.startsWith("log.")) m.keySet.forEach { id =>
        seen += ((ix, id)); if (!history.contains((ix, id))) histBad += 1
      }
    }
    histBad += history.count(k => !seen.contains(k))
    val rejects = store.sideCount("graft.rejects")
    failed += histBad + rejects + (ops.length - applied)
    Verdict(math.min(failed, ops.length.toLong), Seq(
      s"oracle: ${want.size} docs expected, ${wrong.distinct.size} wrong, " +
        s"${history.size} history entries expected, $histBad history errors, " +
        s"$rejects rejects, ${ops.length - applied} ops never applied"))
  }

  /** Versioned-state contents after `applied` ops of the default
    * (state-store) pipeline, over the seeded snapshot: per (namespace, id)
    * the last op, tombstones included. `rows` yields (namespace, id,
    * operation, version, document) for every state row. */
  def tailState(rows: Iterator[(String, String, String, Long, String)], seedKeys: Int,
                seed: Long, t: ScheduledTransport, ops: Array[GenOp], applied: Int): Verdict = {
    val want = mutable.HashMap[(String, String), (String, Long, String)]()
    val opsOn = mutable.HashMap[(String, String), Int]().withDefaultValue(0)
    for (i <- 0 until applied) {
      val o = ops(i)
      val k = (o.ns, o.id)
      want(k) = (o.op, t.dueUs(i) * 4 + o.offset, o.document)
      opsOn(k) += 1
    }
    def expected(ns: String, id: String): Option[(String, Long, String)] =
      want.get((ns, id)).orElse {
        val k = if (id.startsWith("u")) id.drop(1).toLongOption.getOrElse(-1L) else -1L
        if (k >= 0 && k < seedKeys && Gen.nsOf(k) == ns)
          Some(("i", 0L, Gen.body(k, 0, Gen.seedRef(seed, k))))
        else None
      }
    val wrong = mutable.HashSet[(String, String)]()
    val seen = mutable.HashSet[(String, String)]()
    var n = 0L
    var present = 0L
    rows.foreach { case (ns, id, op, v, doc) =>
      n += 1
      val first = seen.add((ns, id))
      val exp = expected(ns, id)
      if (first && exp.isDefined) present += 1
      if (!first || !exp.contains((op, v, doc))) wrong += ((ns, id))
    }
    val expectedKeys = seedKeys + want.keys.count { case (_, id) =>
      !(id.startsWith("u") && id.drop(1).toLongOption.exists(_ < seedKeys))
    }
    val missing = math.max(0L, expectedKeys - present)
    val failed = wrong.toSeq.map(k => math.max(1, opsOn(k)).toLong).sum + missing +
      (ops.length - applied)
    Verdict(math.min(failed, ops.length.toLong), Seq(
      s"oracle: $expectedKeys state rows expected, $n read, ${wrong.size} wrong, " +
        s"$missing missing, ${ops.length - applied} ops never applied"))
  }

  /** Backfill: every generated row indexed once, at version 0, with the
    * direct-read document body. */
  def backfill(store: MockEsStore, tables: Int, perTable: Int, seed: Long): Verdict = {
    var correct = 0L
    var extra = 0L
    var n = 0L
    store.docs.forEach { (ix, m) =>
      m.forEach { (id, d) =>
        n += 1
        val t = if (ix.startsWith("app.c")) ix.stripPrefix("app.c").toIntOption.getOrElse(-1) else -1
        val k = if (t >= 0) id.stripPrefix(s"c$t-").toLongOption.getOrElse(-1L) else -1L
        if (t < 0 || t >= tables || k < 0 || k >= perTable || id != s"c$t-$k") extra += 1
        else if (d.version == 0L && d.body == Backfill.body(t, k, seed)) correct += 1
      }
    }
    val total = tables.toLong * perTable
    Verdict(math.min(total - correct + extra, total),
      Seq(s"oracle: $total docs expected, $n indexed, ${total - correct} missing or wrong, $extra unexpected"))
  }
}
