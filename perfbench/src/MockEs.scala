package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.sink.EsTransport

/** One stored document: external version, routing and the raw JSON body. */
final case class EsDoc(version: Long, routing: String, body: String)

/** In-process Elasticsearch stand-in: the sink end of the benchmark.
  *
  * It applies `_bulk` NDJSON the way ES does for the action shapes
  * [[graft.sink.EsSinkBackend]] sends: `index` with `version_type:
  * external` stores only when the new version is above the stored one
  * (409 otherwise), a versioned `delete` removes only an older doc (409)
  * and answers 404 for an absent one, and an unversioned `index` always
  * overwrites. Indices whose name starts with one of `sideIndexPrefixes`
  * (time-machine history, the rejects index) are kept apart from the
  * document view that `scanState` returns, as a real deployment's
  * connector read of the sink indices would exclude them.
  *
  * Executors run `bulk` on their own threads in the same JVM, so the store
  * is shared through [[MockEs.registry]]; the serializable
  * [[MockEsTransport]] handle carries only the store's name. */
final class MockEsStore(sideIndexPrefixes: Seq[String]) {
  /** index → id → doc, for document indices. */
  val docs = new ConcurrentHashMap[String, ConcurrentHashMap[String, EsDoc]]()
  /** index → id → body, for history and rejects indices. */
  val side = new ConcurrentHashMap[String, ConcurrentHashMap[String, String]]()

  import MockEs._
  /** (wall µs at return, docs applied) of every bulk call that indexed
    * into a document index: when those docs became visible. */
  val landings = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()

  /** Set while a traced run records per-bulk spans. */
  @volatile var spans: Option[Spans] = None

  private def isSide(index: String): Boolean =
    sideIndexPrefixes.exists(index.startsWith)

  private def docIndex(index: String) =
    docs.computeIfAbsent(index, _ => new ConcurrentHashMap[String, EsDoc]())

  /** Writes a document directly, bypassing `_bulk` (index pre-load). */
  def put(index: String, id: String, doc: EsDoc): Unit =
    docIndex(index).put(id, doc)

  def bulk(payload: String): Seq[Int] = {
    val t0 = System.nanoTime()
    val lines = payload.split('\n')
    val out = Vector.newBuilder[Int]
    var i = 0
    var n = 0
    var landed = 0
    while (i < lines.length) {
      val line = lines(i)
      if (line.nonEmpty) {
        val (kind, meta) = MockEs.parseAction(line)
        val index = meta("_index")
        val id = meta("_id")
        n += 1
        kind match {
          case "index" =>
            val body = lines(i + 1); i += 1
            if (isSide(index)) {
              side.computeIfAbsent(index,
                _ => new ConcurrentHashMap[String, String]()).put(id, body)
              out += 201
            } else meta.get("version") match {
              case None =>
                docIndex(index).put(id, EsDoc(0L, meta.getOrElse("routing", null), body))
                out += 201
              case Some(v) =>
                val version = v.toLong
                var status = 201
                docIndex(index).compute(id, (_, old) =>
                  if (old != null && old.version >= version) { status = 409; old }
                  else EsDoc(version, meta.getOrElse("routing", null), body))
                if (status == 409) conflicts.incrementAndGet() else landed += 1
                out += status
            }
          case "delete" =>
            val version = meta("version").toLong
            val ix = docs.get(index)
            var status = 404
            if (ix != null) ix.computeIfPresent(id, (_, old) =>
              if (old.version >= version) { status = 409; old }
              else { status = 200; null })
            if (status == 409) conflicts.incrementAndGet()
            if (status == 404) notFound.incrementAndGet()
            out += status
          case other =>
            throw new IllegalArgumentException(s"mock es: unsupported action $other")
        }
      }
      i += 1
    }
    val t1 = System.nanoTime()
    bulkCalls.incrementAndGet()
    actions.addAndGet(n)
    bytes.addAndGet(payload.length.toLong)
    busyNanos.addAndGet(t1 - t0)
    if (landed > 0) {
      upserts.addAndGet(landed)
      landings.add((Clock.nowUs(), landed))
    }
    spans.foreach(_.add("es.bulk", Spans.taskBatchId(), t0, t1, n))
    out.result()
  }

  def deleteIndex(pattern: String): Unit = {
    def hit(ix: String) =
      if (pattern.endsWith("*")) ix.startsWith(pattern.dropRight(1))
      else ix == pattern
    docs.keySet.asScala.filter(hit).foreach(docs.remove)
    side.keySet.asScala.filter(hit).foreach(side.remove)
  }

  /** (namespace, id, index, routing) for every document-index doc. The
    * benchmark's namespaces are lower-case and unmapped, so an index name
    * is its namespace. */
  def scanState(): Seq[(String, String, String, String)] = {
    val b = Vector.newBuilder[(String, String, String, String)]
    docs.forEach { (ix, m) => m.forEach((id, d) => b += ((ix, id, ix, d.routing))) }
    val out = b.result()
    scans.add((Clock.nowUs(), out.size))
    out
  }

  def sideCount(prefix: String): Long =
    side.asScala.collect { case (ix, m) if ix.startsWith(prefix) => m.size.toLong }.sum
}

/** Serializable handle the [[graft.sink.EsSinkBackend]] ships to executors. */
final case class MockEsTransport(name: String) extends EsTransport {
  private def store = MockEs.registry.get(name)
  override def bulk(payload: String): Seq[Int] = store.bulk(payload)
  override def deleteIndex(pattern: String): Unit = store.deleteIndex(pattern)
  override def putPipeline(id: String, body: String): Unit = ()
  override def scanState(): Seq[(String, String, String, String)] = store.scanState()
}

object MockEs {
  val registry = new ConcurrentHashMap[String, MockEsStore]()

  // process-wide counters over every store, read as deltas
  val bulkCalls = new AtomicLong
  val actions = new AtomicLong
  val bytes = new AtomicLong
  val busyNanos = new AtomicLong
  val conflicts = new AtomicLong
  val notFound = new AtomicLong
  val upserts = new AtomicLong
  /** (wall µs, rows) of every `scanState` call. */
  val scans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()

  def create(name: String, sideIndexPrefixes: Seq[String]): MockEsStore = {
    val s = new MockEsStore(sideIndexPrefixes)
    registry.put(name, s)
    s
  }

  /** Parses one bulk action line: `{"<kind>":{"k":"v"|n,...}}` with the
    * JSON string escapes [[graft.sink.EsSinkBackend]] emits. */
  def parseAction(line: String): (String, Map[String, String]) = {
    var i = line.indexOf('"') + 1
    val kEnd = line.indexOf('"', i)
    val kind = line.substring(i, kEnd)
    i = line.indexOf('{', kEnd) + 1
    val m = Map.newBuilder[String, String]
    while (i < line.length && line.charAt(i) != '}') {
      if (line.charAt(i) == ',') i += 1
      val (key, afterKey) = readString(line, i)
      i = afterKey + 1 // ':'
      if (line.charAt(i) == '"') {
        val (v, after) = readString(line, i)
        m += key -> v; i = after
      } else {
        var j = i
        while (line.charAt(j) != ',' && line.charAt(j) != '}') j += 1
        val raw = line.substring(i, j)
        if (raw != "null") m += key -> raw
        i = j
      }
    }
    (kind, m.result())
  }

  /** Reads a JSON string starting at the quote at `at`; returns the value
    * and the index just past the closing quote. */
  private def readString(s: String, at: Int): (String, Int) = {
    val b = new StringBuilder
    var i = at + 1
    while (s.charAt(i) != '"') {
      if (s.charAt(i) == '\\') {
        s.charAt(i + 1) match {
          case 'u' => b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case c => b.append(c); i += 2
        }
      } else { b.append(s.charAt(i)); i += 1 }
    }
    (b.toString, i + 1)
  }
}
