package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sink.SinkBackend

/** One traced interval. `batch` is the micro-batch (or backfill pass) it
  * belongs to, -1 when only its time places it. Times are nanoTime. */
final case class Span(name: String, batch: Long, startNs: Long, endNs: Long, count: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span buffer; written out once, when the run ends. */
final class Spans {
  val all = new ConcurrentLinkedQueue[Span]()
  def add(name: String, batch: Long, startNs: Long, endNs: Long, count: Long): Unit =
    all.add(Span(name, batch, startNs, endNs, count))
}

object Spans {
  /** Spark sets this local property while it runs a streaming micro-batch;
    * the backfill sets it per pass. */
  val BatchKey = "streaming.sql.batchId"

  def taskBatchId(): Long =
    Option(TaskContext.get()).flatMap(tc => Option(tc.getLocalProperty(BatchKey)))
      .map(_.toLong).getOrElse(-1L)

  def driverBatchId(): Long =
    SparkSession.getActiveSession.flatMap(s => Option(s.sparkContext.getLocalProperty(BatchKey)))
      .map(_.toLong).getOrElse(-1L)
}

/** Stackable timing layer for a [[SinkBackend]]: each backend call is a
  * span under its micro-batch. Calls go to the wrapped backend's own
  * implementation, so its `applyPreDelete` keeps its own call sequence;
  * the per-layer spans appear only for the layers that sequence calls. */
trait TimedLayers extends SinkBackend {
  def spans: Spans
  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally spans.add(name, Spans.driverBatchId(), t0, System.nanoTime(), 0)
  }
  abstract override def applyPreDelete(q: Option[DataFrame], h: Option[DataFrame],
                                       drops: DataFrame, upserts: DataFrame): Unit =
    timed("sink.pre_delete")(super.applyPreDelete(q, h, drops, upserts))
  abstract override def quarantine(rejects: DataFrame): Unit =
    timed("sink.quarantine")(super.quarantine(rejects))
  abstract override def appendHistory(history: DataFrame): Unit =
    timed("sink.history")(super.appendHistory(history))
  abstract override def dropIndexes(drops: DataFrame): Unit =
    timed("sink.drops")(super.dropIndexes(drops))
  abstract override def bulkUpsert(docs: DataFrame): Unit =
    timed("sink.bulk_upsert")(super.bulkUpsert(docs))
  abstract override def sinkState(spark: SparkSession): DataFrame =
    timed("sink.state_view")(super.sinkState(spark))
  abstract override def delete(deletes: DataFrame): Unit =
    timed("sink.delete")(super.delete(deletes))
}

/** One completed stage, with the micro-batch its job ran for. */
/** One completed stage, with the micro-batch its job ran for. */
final case class StageRec(batch: Long, submitMs: Long, endMs: Long, tasks: Int,
                          cpuNs: Long, shuffleWrite: Long, spill: Long)

/** Spark scheduler counters per micro-batch: jobs, stages, tasks, CPU,
  * shuffle and spill, and the stage-active intervals the driver share is
  * computed from. */
final class SparkProbe extends SparkListener {
  private val stageBatch = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  val stages = new ConcurrentLinkedQueue[StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val b = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.BatchKey)))
      .map(_.toLong).getOrElse(-1L)
    jobs.add(b)
    e.stageIds.foreach(s => stageBatch.put(s, b))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(StageRec(
      Option(stageBatch.get(i.stageId)).map(_.longValue).getOrElse(-1L),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]); NaN when empty. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Percentile of values given with integer weights, as if each value
    * were repeated `weight` times (nearest rank). */
  def weightedPct(xs: Seq[(Double, Int)], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sortBy(_._1)
      val total = s.map(_._2.toLong).sum
      val rank = math.max(1L, math.ceil(q * total).toLong)
      var acc = 0L
      s.find { case (_, w) => acc += w; acc >= rank }.getOrElse(s.last)._1
    }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** JVM-wide counters, read at the start and end of the timed window. */
object Jvm {
  import java.lang.management.ManagementFactory
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  def resetPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
