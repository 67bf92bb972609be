package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Command-line arguments. `small` shrinks every workload for the smoke
  * test; `corrupt` damages one sink doc (or state row) before the oracle
  * runs, to show the check fails. */
final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                      trace: Boolean = false, cores: Int = Runtime.getRuntime.availableProcessors,
                      work: String = ".bench_run", small: Boolean = false, corrupt: Boolean = false)

/** Benchmark entry point: runs one workload against the daemon's public
  * entry points and prints every metric, then one JSON result line. */
object Main {
  val Names = Seq("tail_sink", "tail_state", "backfill")

  def parse(argv: Array[String]): Args = {
    @annotation.tailrec
    def go(rest: List[String], a: Args): Args = rest match {
      case Nil => a
      case "--workload" :: v :: t => go(t, a.copy(workload = v))
      case "--seed" :: v :: t => go(t, a.copy(seed = v.toLong))
      case "--seconds" :: v :: t => go(t, a.copy(seconds = v.toInt))
      case "--trace" :: v :: t => go(t, a.copy(trace = v == "1"))
      case "--cores" :: v :: t => go(t, a.copy(cores = v.toInt))
      case "--work" :: v :: t => go(t, a.copy(work = v))
      case "--small" :: t => go(t, a.copy(small = true))
      case "--corrupt" :: t => go(t, a.copy(corrupt = true))
      case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
    }
    val a = go(argv.toList, Args())
    require(Names.contains(a.workload), s"--workload must be one of ${Names.mkString(", ")}")
    require(a.seconds >= 1 && a.cores >= 1 && a.seed >= 0, "bad --seconds, --cores or --seed")
    a
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder().appName("perfbench").master(s"local[${a.cores}]")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val s = GraftSession.ensure(GraftSession.configure(b, a.cores.toString).getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def json(m: Metric): String = {
    require(!m.value.isNaN && !m.value.isInfinite, s"metric ${m.name} is not a number")
    s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}"""
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val ctx = Ctx(spark, a, sessionS)
    ctx.probe.foreach(spark.sparkContext.addSparkListener)
    val r = try a.workload match {
      case "tail_sink" => Workloads.tail(ctx, state = false)
      case "tail_state" => Workloads.tail(ctx, state = true)
      case "backfill" => Workloads.backfill(ctx)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
    spark.stop()

    r.notes.foreach(n => println(s"# $n"))
    println(f"# failed_ratio ${r.failed.toDouble / r.attempted}%.6f (${r.failed} of ${r.attempted} ops)")
    (r.e2e ++ r.layers).foreach(m => println(f"${m.name}%-30s ${m.value}%16.4f ${m.unit}"))
    val shown = if (a.trace) r.layers else r.e2e
    println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${shown.map(json).mkString(", ")}}}""")
    System.out.flush()
    sys.exit(0)
  }
}
