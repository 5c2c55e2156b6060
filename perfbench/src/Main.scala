package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.sources.sstable.LocalStorage

/** Runs one workload for a fixed time and prints its metrics.
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
  *
  * Set-up (SparkSession start plus the median of three fixture builds) is
  * timed on its own, a fixed number of operations warms the JIT before the
  * measured window, and
  * every operation's output is checked against the generator's model. The
  * last line of standard output is the result object; the line before it
  * carries the workload-specific figures. */
object Main {
  private val FixtureBuilds = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.Names.contains(workload),
      s"unknown workload '$workload' (known: ${Workloads.Names.mkString(", ")})")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opts.getOrElse("work", sys.error("--work is required"))).getAbsolutePath
    val threads = opts.get("threads").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    LocalStorage.deleteRecursive(work)
    new java.io.File(work).mkdirs()
    try run(workload, seed, seconds, traced, work, threads)
    finally LocalStorage.deleteRecursive(s"$work/data")
  }

  private def run(name: String, seed: Long, seconds: Double, traced: Boolean, work: String,
                  threads: Int): Unit = {
    val (sessionNs, spark) = Workloads.timed(session(threads, work))
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    val wl = Workloads(name, spark, seed, threads)
    try {
      val buildS = (1 to FixtureBuilds).map { b =>
        val dir = s"$work/data/fixture-$b"
        val s = Workloads.timed(wl.setup(dir))._1 / 1e9
        if (b > 1) LocalStorage.deleteRecursive(s"$work/data/fixture-${b - 1}")
        s
      }
      val setupS = sessionNs / 1e9 + Workloads.median(buildS)
      System.err.println(f"perfbench: session ${sessionNs / 1e9}%.2f s, fixture builds " +
        buildS.map(s => f"$s%.2f").mkString(", ") + " s")

      var attempted, failed = 0L
      val heap = new HeapSampler
      heap.sample()
      var i = 0L
      def runOp(): Option[OpResult] = {
        attempted += 1
        val r = try Some(Trace.span("bench", "op")(wl.op(i))) catch {
          case e: Exception =>
            System.err.println(s"op $i failed: $e")
            None
        }
        i += 1
        if (!r.exists(_.ok)) { failed += 1; None } else r
      }

      val warm = mutable.ArrayBuffer.empty[Double]
      while (i < wl.warmOps) runOp().foreach(r => warm += r.ns / 1e6)
      System.err.println(s"perfbench: warm-up done at ${upS()} s; op ms " +
        warm.map(x => f"$x%.0f").mkString(" "))
      wl.startWindow()

      val gcBefore = gcMs()
      PerfbenchBridge.drainListeners(spark.sparkContext)
      listener.reset()
      val lat = mutable.ArrayBuffer.empty[Double]
      val tracedLat, plainLat = mutable.ArrayBuffer.empty[Double]
      var items = 0L
      var okNs = 0L
      val start = System.nanoTime()
      val firstOp = i
      while (System.nanoTime() - start < seconds * 1e9) {
        val on = traced && (i - firstOp) % 2 == 1
        Trace.enabled = on
        Trace.beginOp(i)
        val r = runOp()
        Trace.enabled = false
        r.foreach { r =>
          lat += r.ns / 1e6
          (if (on) tracedLat else plainLat) += r.ns / 1e6
          items += r.items
          okNs += r.ns
        }
      }
      val windowS = (System.nanoTime() - start) / 1e9
      System.err.println("perfbench: window op ms " + lat.map(x => f"$x%.0f").mkString(" "))
      PerfbenchBridge.drainListeners(spark.sparkContext)
      val sparkMetrics = listener.snapshot()
      val gcDelta = gcMs() - gcBefore
      heap.sample()

      val detail = mutable.LinkedHashMap[String, (Double, String)]()
      wl.detail().foreach { case (k, v, u) => detail(k) = (v, u) }
      detail("failed_frac") = (failed.toDouble / attempted, "ratio")
      detail("ops") = ((i - firstOp).toDouble, "count")
      detail("window_s") = (windowS, "s")
      if (traced) Trace.selfMs.foreach { case (l, ms) => detail(s"$l.self_ms") = (ms, "ms") }

      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_ms", Workloads.median(lat.toSeq), "ms"),
          ("items_per_s", items / (okNs / 1e9), "1/s"),
          ("peak_heap_mb", heap.peakMb, "MB"))
        else {
          val own = wl.layers()
          Trace.enabled = true
          Trace.beginOp(-1)
          val (probes, checks) = Probes.run(spark, seed, wl.table(), own.map(_._1).toSet,
            s"$work/data/probe")
          Trace.enabled = false
          checks.filterNot(_._2).foreach(c => System.err.println(s"probe check failed: ${c._1}"))
          attempted += checks.size
          failed += checks.count(!_._2)
          Trace.write(s"$work/trace-$name-seed$seed.jsonl")
          sparkMetrics ++
            Seq(("spark.gc_ms", gcDelta.toDouble, "ms"),
              ("trace.overhead_ms",
                Workloads.median(tracedLat.toSeq) - Workloads.median(plainLat.toSeq), "ms")) ++
            own ++ probes
        }
      val correct = failed == 0 && attempted > 0
      println(Json.obj("detail" -> Json.obj(detail.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*), "workload" -> name, "seed" -> seed))
      println(Json.obj(
        "correct" -> correct,
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
          k -> Json.obj("value" -> v, "unit" -> u) }: _*)))
    } finally {
      System.err.println(s"perfbench: done at ${upS()} s")
      spark.stop()
      System.err.println(s"perfbench: stopped at ${upS()} s")
    }
  }

  def session(threads: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def upS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Largest heap occupancy right after a full collection: the data the
  * workload keeps live (persisted inputs, caches), not collection timing.
  * The pause lets Spark's cleaner drop the blocks of RDDs the first
  * collection found unreachable, so the second one frees them. */
final class HeapSampler {
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / 1048576.0
}
