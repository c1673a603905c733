package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import Util._

/** One benchmark run of one workload, closed loop, one client: passes run
  * back to back at local[4]. Normally launched by `perfbench/run.py`.
  *
  *   PerfBench --workload W --seed N --seconds S --trace 0|1
  *             --work DIR --result FILE [--trace-out FILE]
  *
  * Writes the result object (correct, attempted, failed, metric values,
  * sample counts) to FILE; run.py adds the units from BENCHMARK.json.
  * With --trace 0 the metrics are the end-to-end ones; with --trace 1
  * they are the per-layer ones, and the recorded spans go to --trace-out. */
object PerfBench {
  private val setupReps = 3
  private val minPasses = 3
  private val minWarmPasses = 1
  private val warmSeconds = 4.0

  def session(work: String): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-perfbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  /** Heap in use after a forced full GC. The first GC lets Spark's
    * ContextCleaner release the broadcasts and shuffles of finished
    * queries (it acts on collected references, on its own thread); the
    * second collects what it released. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val w = Workloads.make(name, seed)
    val t00 = System.nanoTime()
    def phase(msg: String): Unit =
      System.err.println(f"[${(System.nanoTime() - t00) / 1e9}%7.2f s] $msg")

    // set-up: session start plus staging, several times, median reported
    val setupS = (1 to setupReps).map { i =>
      val t0 = System.nanoTime()
      val spark = session(work)
      w.stage(spark, s"$work/input-$i")
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < setupReps) { spark.stop(); deleteDir(s"$work/input-$i") }
      dt
    }
    val spark = SparkSession.active
    val dir = s"$work/input-$setupReps"
    phase(s"set-up done (${setupS.map(x => f"$x%.3f").mkString(", ")} s)")
    w.prepare(spark, dir)
    phase("expected outputs ready")

    val rec = new Recorder(spark)
    var attempted = 0
    var failed = 0
    def runPass(wl: Workload, d: String, no: Int, traced: Boolean): Option[PassOut] = {
      if (traced) rec.enable() else rec.disable()
      attempted += 1
      val out = try Some(rec.span(s"${wl.name}:pass", no)(wl.pass(spark, d, no, rec))) catch {
        case NonFatal(e) =>
          System.err.println(s"pass $no of ${wl.name} threw: $e")
          None
      }
      out.foreach(o => System.err.println(
        f"${wl.name} pass $no%d${if (traced) " (traced)" else ""}: wall ${o.wallS}%.3f s, cpu ${o.cpuS}%.3f s, ok ${o.ok}"))
      if (!out.exists(_.ok)) {
        failed += 1
        System.err.println(s"pass $no of ${wl.name} failed its output check")
      }
      out.filter(_.ok)
    }

    // warm-up (checked, untimed): the JIT and Spark's codegen caches settle
    val warmUntil = System.nanoTime() + (warmSeconds * 1e9).toLong
    var warm = 0
    while (warm < minWarmPasses || System.nanoTime() < warmUntil) {
      runPass(w, dir, -warm, traced = false)
      warm += 1
    }
    val passes = mutable.ArrayBuffer.empty[(PassOut, Boolean)]
    var no = 1
    // stop early rather than overrun when passes keep failing
    val deadline = t00 + 120e9.toLong
    while ((passes.map(_._1.wallS).sum < seconds || passes.size < minPasses) &&
        failed <= minPasses && System.nanoTime() < deadline) {
      // a traced run alternates traced and untraced passes: their rates
      // give the tracing overhead
      val traced = trace && no % 2 == 1
      runPass(w, dir, no, traced).foreach { p =>
        passes += ((p.copy(heapMb = liveHeapMb()), traced))
        System.err.println(f"  live heap after pass $no: ${passes.last._1.heapMb}%.1f MiB")
      }
      no += 1
    }
    rec.disable()
    phase(s"${passes.size} timed passes done")
    val ok = passes.map(_._1)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, Int)]
    if (!trace) {
      metrics("docs_per_s") = (w.docs / medianOf(ok.map(_.wallS)), ok.size)
      metrics("cpu_s_per_kdoc") = (medianOf(ok.map(_.cpuS)) / (w.docs / 1000.0), ok.size)
      metrics("heap_live_mb") = (medianOf(ok.map(_.heapMb)), ok.size)
      metrics("setup_s") = (medianOf(setupS), setupReps)
    } else {
      val traced = passes.filter(_._2).map(_._1)
      val untraced = passes.filterNot(_._2).map(_._1)
      val tracedRate = w.docs / medianOf(traced.map(_.wallS))
      rec.enable()
      val layers = mutable.LinkedHashMap.empty[String, Double]
      layers ++= w.layers(spark, dir, rec, extractProbes = w.feedsExtractProbes)
      // layers this workload does not exercise are measured on a reduced
      // input of the workload that does, so every traced run reports all
      for (other <- Workloads.names if other != name) {
        val p = Workloads.make(other, seed, probe = true)
        val pdir = s"$work/probe-$other"
        p.stage(spark, pdir)
        p.prepare(spark, pdir)
        runPass(p, pdir, 0, traced = false)
        runPass(p, pdir, 1, traced = true)
        val extractProbes = !w.feedsExtractProbes && p.feedsExtractProbes &&
          !layers.contains("parse.us_per_doc")
        p.layers(spark, pdir, rec, extractProbes).foreach { case (k, v) =>
          if (!layers.contains(k)) layers(k) = v }
        failed += p.checksFailed
      }
      rec.disable()
      layers("trace.docs_per_s") = tracedRate
      layers("trace.overhead_frac") = w.docs / medianOf(untraced.map(_.wallS)) / tracedRate - 1.0
      layers.foreach { case (k, v) => metrics(k) = (v, 1) }
      metrics("trace.docs_per_s") = (tracedRate, traced.size)
      opts.get("trace-out").foreach(f => Files.writeString(Paths.get(f), rec.toJson))
    }

    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
    phase("metrics done")
    val body = metrics.map { case (k, (v, _)) => s""""$k":${num(v)}""" }.mkString(",")
    val samples = metrics.map { case (k, (_, n)) => s""""$k":$n""" }.mkString(",")
    failed += w.checksFailed
    val correct = failed == 0 && ok.nonEmpty
    Files.writeString(Paths.get(opts("result")),
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$body},""" +
        s""""samples":{$samples}}""" + "\n")
    spark.stop()
  }
}
