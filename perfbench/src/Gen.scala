package perfbench

import java.util.SplittableRandom

import graft.source.{ChangeEvent, SourceBatch, SourceTransport}

/** One generated change op. `key` indexes the generator's key space (or
  * the cold collection's counter); `ref` is the related-collection doc a
  * document points at (-1 for none). Bodies are derived from the fields
  * by [[Gen.body]], so the oracle never parses JSON. */
final case class GenOp(op: String, ns: String, key: Long, ref: Int, seq: Long) {
  def id: String = if (op == "drop_coll") null else Gen.idOf(ns, key)
  def document: String =
    if (op == "i" || op == "u") Gen.body(key, seq, ref) else null
  def offset: Long = op match { case "u" => 1L; case "d" => 2L; case _ => 0L }
}

/** Seeded input generator. Everything a run feeds the program comes from
  * here, pre-generated during set-up; the same seed gives the same ops. */
object Gen {
  val RefDocs = 10000
  val Pad = "x" * 48

  def idOf(ns: String, key: Long): String = ns match {
    case "app.cold" => s"c$key"
    case "app.ref" => s"r$key"
    case _ => s"u$key"
  }
  def nsOf(key: Long): String = s"app.t${key % 4}"

  def body(key: Long, seq: Long, ref: Int): String =
    s"""{"k":$key,"seq":$seq,"ref":"r$ref","pad":"$Pad"}"""
  def refBody(r: Int): String = s"""{"rk":$r,"kind":"ref","pad":"$Pad"}"""

  /** Zipf(s) rank sampler over n items via the inverted CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      lo
    }
  }

  /** The tail op stream over `keys` pre-existing docs: 20% inserts of new
    * docs, 70% updates, 10% deletes. An update or delete that picks a doc
    * deleted earlier re-inserts it instead, as a client writing to that id
    * would. With `cold`, 1% of ops insert into `app.cold` and one op in
    * 4000 drops that collection. */
  def tail(seed: Long, n: Int, keys: Int, zipf: Boolean, cold: Boolean): Array[GenOp] = {
    val rng = new SplittableRandom(seed)
    val pick: SplittableRandom => Int =
      if (zipf) {
        val z = new Zipf(keys, 1.0)
        val perm = Array.range(0, keys)
        for (i <- keys - 1 to 1 by -1) {
          val j = rng.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
        }
        r => perm(z.sample(r))
      } else r => r.nextInt(keys)
    val alive = new java.util.BitSet(keys)
    alive.set(0, keys)
    var nextKey = keys.toLong
    var coldKey = 0L
    Array.tabulate(n) { i =>
      val seq = i + 1L
      val x = rng.nextDouble()
      if (cold && x < 0.00025) GenOp("drop_coll", "app.cold", -1L, -1, seq)
      else if (cold && x < 0.01025) {
        coldKey += 1
        GenOp("i", "app.cold", coldKey, rng.nextInt(RefDocs), seq)
      } else {
        val y = rng.nextDouble()
        val ref = rng.nextInt(RefDocs)
        if (y < 0.2) {
          val k = nextKey; nextKey += 1
          GenOp("i", nsOf(k), k, ref, seq)
        } else {
          val k = pick(rng)
          val op =
            if (!alive.get(k)) "i"
            else if (y < 0.9) "u"
            else "d"
          if (op == "d") alive.clear(k) else alive.set(k)
          GenOp(op, nsOf(k), k, ref, seq)
        }
      }
    }
  }

  /** The ref a pre-existing doc points at (also computed as a Spark
    * expression when the state is seeded: keep the two in step). */
  def seedRef(seed: Long, key: Long): Int =
    java.lang.Math.floorMod(key * 7919L + seed, RefDocs.toLong).toInt
}

/** Wall clock in microseconds with nanoTime resolution, aligned to
  * `System.currentTimeMillis` (the clock Spark stamps progress with). */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs(): Long = usOfNanos(System.nanoTime())
  def usOfNanos(ns: Long): Long = baseUs + (ns - baseNs) / 1000L
  def nanosOfUs(us: Long): Long = baseNs + (us - baseUs) * 1000L
}

/** One poll of the source: when (wall µs), how long (ms), the backlog it
  * found and the op range [from, until) it returned. */
final case class Poll(atUs: Long, ms: Double, backlog: Int, from: Int, until: Int)

/** Open-loop source, serving releases through the daemon's
  * [[SourceTransport]] seam. The first `warm` ops are released together
  * when the stream starts (`warmStartUs`); they are the warm-up batch.
  * From `startUs` on, op `warm + j` is released at `startUs + j * periodUs`
  * of wall time, whatever the pipeline is doing. Resume tokens are op
  * indices, so a replayed poll returns the same prefix. Runs on the
  * stream's driver thread and starts no thread of its own. */
final class ScheduledTransport(ops: Array[GenOp], val periodUs: Long, val warm: Int)
    extends SourceTransport {
  @volatile var warmStartUs: Long = Long.MaxValue
  @volatile var startUs: Long = Long.MaxValue
  @volatile var spans: Option[Spans] = None
  /** Every poll that returned events; `backlog` counts the released ops
    * not yet taken into a batch when it ran. */
  val polls = new java.util.concurrent.ConcurrentLinkedQueue[Poll]()

  /** When op `i` is released; also its `ts_us`, the creation time. */
  def dueUs(i: Int): Long =
    if (i < warm) warmStartUs + i else startUs + (i - warm) * periodUs

  def released(nowUs: Long): Int =
    if (nowUs < warmStartUs) 0
    else if (nowUs < startUs) warm
    else math.min(ops.length.toLong, warm + (nowUs - startUs) / periodUs + 1).toInt

  def event(i: Int): ChangeEvent = {
    val o = ops(i)
    val ts = dueUs(i)
    val coll = o.ns.stripPrefix("app.")
    ChangeEvent(o.seq, o.id, "app", coll, o.ns, o.op, ts, ts * 4 + o.offset,
      o.document, 0.0, "oplog")
  }

  override def poll(resumeToken: Option[String], maxDocs: Int): SourceBatch = {
    val t0 = System.nanoTime()
    val from = resumeToken.fold(0)(_.toInt)
    val now = Clock.nowUs()
    val rel = released(now)
    val until = math.max(from, math.min(rel, from + maxDocs))
    val events = (from until until).map(event)
    val t1 = System.nanoTime()
    if (events.nonEmpty) {
      polls.add(Poll(now, (t1 - t0) / 1e6, rel - from, from, until))
      spans.foreach(_.add("source.poll", -1L, t0, t1, events.size))
    }
    SourceBatch(events, until.toString)
  }
}
