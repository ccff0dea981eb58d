package kgbench

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, result: String, traceOut: String)

/** What a workload hands back: latency samples of its unit of work (one
  * job, one drop) and the input turns per second they amount to.
  */
final case class Outcome(samples: Seq[Double], turnsPerS: Double, sampleKind: String)

/** One benchmark process: a Spark session, the tracer, counters and the
  * bookkeeping every workload shares.
  */
final class Run(var spark: SparkSession, val args: Args) {
  val tracer = new Tracer(args.trace)
  val probes: Option[Probes] = if (args.trace) Some(new Probes(spark)) else None
  val setupReps = mutable.ArrayBuffer.empty[Double]
  var warmupSeconds = 0.0
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Untraced and traced medians of the unit of work, for the overhead figure. */
  var overhead: Option[(Double, Double)] = None
  private var dirs = 0

  def fresh(name: String): String = {
    dirs += 1
    val d = s"${args.work}/$name-$dirs"
    new File(d).mkdirs()
    d
  }

  def delete(path: String): Unit = FileUtils.deleteQuietly(new File(path))

  def secs[T](body: => T): (Double, T) = {
    val t = System.nanoTime()
    val v = body
    ((System.nanoTime() - t) / 1e9, v)
  }

  /** `reps` timed repetitions of the workload's set-up, keeping each result. */
  def setup[T](reps: Int)(body: Int => T): Seq[T] = (0 until reps).map { k =>
    val (s, v) = tracer.span("setup")(secs(body(k)))
    setupReps += s
    v
  }

  def warmup[T](body: => T): T = {
    val (s, v) = tracer.span("warmup")(secs(body))
    warmupSeconds += s
    v
  }

  /** Record a check result; false when it failed. */
  def check(result: Option[String]): Boolean = {
    result.foreach { why => failures += why; System.err.println(s"[kgbench] CHECK FAILED: $why") }
    result.isEmpty
  }

  /** A check outside the measured operations, counted as one operation of its own. */
  def counted(result: Option[String]): Boolean = {
    attempted += 1
    val ok = check(result)
    if (!ok) failed += 1
    ok
  }

  /** Job group for the Spark jobs this thread starts next; the counters key on it. */
  def group(name: String): Unit = spark.sparkContext.setJobGroup(name, name)

  /** Start operations until `seconds` have passed, and let the last one
    * finish; `op` returns its timed wall first. Operations that throw
    * count as failed.
    */
  def loop[T](seconds: Double, label: String)(op: Int => (Double, Option[T])): Seq[(Double, T)] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[(Double, T)]
    var i = 0
    while (i == 0 || System.nanoTime() < end) {
      attempted += 1
      val r = try tracer.span(label)(op(i)) catch {
        case e: Exception =>
          System.err.println(s"[kgbench] operation $i failed: $e")
          e.printStackTrace()
          (0.0, None)
      }
      r._2 match {
        case Some(v) => out += r._1 -> v
        case None => failed += 1
      }
      i += 1
    }
    out.toSeq
  }

  /** Untraced runs measure for the whole window. Traced runs measure the
    * first half untraced, then the second half with every probe attached,
    * which gives the tracing overhead.
    */
  def measure[T](op: (Int, Double) => (Double, Option[T])): Seq[(Double, T)] = {
    val s = args.seconds.toDouble
    probes match {
      case None =>
        group("kgbench.measure")
        loop(s, "measure")(op(_, s))
      case Some(p) =>
        group("kgbench.plain")
        val plain = loop(s / 2, "measure.untraced")(op(_, s / 2))
        resetHeapPeak()
        val released = cachedMb.size
        p.attach()
        group("kgbench.measure")
        val traced = try loop(s / 2, "measure")(op(_, s / 2)) finally p.detach()
        val retained = cachedMb.drop(released).toSeq
        if (retained.nonEmpty) layer("spark.cached_mb_retained") = Stats.median(retained)
        heapPeakMb = heapPeak()
        overhead = Some((Stats.median(plain.map(_._1)), Stats.median(traced.map(_._1))))
        layer("trace.ops_traced") = traced.size.toDouble
        sparkCounters(p, traced.size)
        traced
    }
  }

  var heapPeakMb = 0.0
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeak(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6

  /** Operator counters of the traced operations, per operation. */
  private def sparkCounters(p: Probes, ops: Int): Unit = {
    val measured = p.jobs.of(g => g == "kgbench.measure" || p.stream.runIds.contains(g))
    val n = math.max(1, ops).toDouble
    layer("spark.task_cpu_s") = measured.map(_.cpuNs).sum / 1e9 / n
    layer("spark.gc_s") = measured.map(_.gcMs).sum / 1e3 / n
    layer("spark.shuffle_write_mb") = measured.map(_.shuffleWrite).sum / 1e6 / n
    layer("spark.shuffle_read_mb") = measured.map(_.shuffleRead).sum / 1e6 / n
    layer("spark.spill_mb") = measured.map(_.spill).sum / 1e6 / n
    layer("spark.jobs") = measured.map(_.jobs).sum / n
    layer("spark.tasks") = measured.map(_.tasks).sum / n
    layer("graphsink.bytes_written_mb") = measured.map(_.outputBytes).sum / 1e6 / n
    val (tri, rest) = p.writes.seconds
    layer("graphsink.write_triples_s") = tri / n
    layer("graphsink.write_rest_s") = rest / n
    layer("jvm.heap_peak_mb") = heapPeakMb
  }

  /** Record what the last operation left cached, then release it through
    * the public API so the next operation starts from the same state.
    */
  def releaseCache(): Double = {
    val sc = spark.sparkContext
    val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    cachedMb += mb
    mb
  }
  val cachedMb = mutable.ArrayBuffer.empty[Double]

  /** Files under `dir` modified at or after `sinceMs`. */
  def filesWritten(dir: String, sinceMs: Long): Int =
    FileUtils.listFiles(new File(dir), null, true).asScala
      .count(f => f.lastModified() >= sinceMs && !f.getName.startsWith(".") && f.getName.endsWith(".parquet"))
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Main {

  val WORKLOADS: Map[String, Run => Outcome] = Map(
    "batch_build" -> BatchBuild.run,
    "stream_drops" -> StreamDrops.run)

  /** Metric names and units, in the order BENCHMARK.json lists them. */
  val END_TO_END = Seq("op_p50_s" -> "s", "op_p90_s" -> "s", "turns_per_s" -> "turns/s",
    "setup_s" -> "s")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"--$k is required"))
    val w = need("workload")
    require(WORKLOADS.contains(w), s"unknown workload $w; one of ${WORKLOADS.keys.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("result"), need("trace-out"))
  }

  def session(cores: Int, work: String, partitions: Int = 0): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", (if (partitions > 0) partitions else cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def envJson(spark: SparkSession, a: Args): String = {
    val c = spark.conf
    s"""{"workload":"${a.workload}","seed":${a.seed},"seconds":${a.seconds},""" +
      s""""trace":${a.trace},"master":"${spark.sparkContext.master}",""" +
      s""""shuffle_partitions":${c.get("spark.sql.shuffle.partitions")},""" +
      s""""aqe":${c.get("spark.sql.adaptive.enabled")},"ui":${spark.sparkContext.getConf
        .get("spark.ui.enabled", "true")},"heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""spark":"${spark.version}","java":"${System.getProperty("java.version")}"}"""
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(Runtime.getRuntime.availableProcessors, a.work)
    val sessionSeconds = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val env = envJson(spark, a)
    println(s"env $env")
    val run = new Run(spark, a)
    // a workload that throws is reported as incorrect, not as a crash
    val out = try Some(run.tracer.span(a.workload)(WORKLOADS(a.workload)(run))) catch {
      case e: Exception =>
        System.err.println(s"[kgbench] ${a.workload} failed: $e")
        e.printStackTrace()
        run.failures += e.toString
        run.attempted += 1
        run.failed += 1
        None
    }
    val e2e = out.filter(o => o.samples.nonEmpty && run.setupReps.nonEmpty).map { o =>
      Map(
        "op_p50_s" -> Stats.percentile(o.samples, 0.5),
        "op_p90_s" -> Stats.percentile(o.samples, 0.9),
        "turns_per_s" -> o.turnsPerS,
        "setup_s" -> (sessionSeconds + Stats.median(run.setupReps.toSeq) + run.warmupSeconds))
    }.getOrElse(END_TO_END.map(_._1 -> 0.0).toMap)
    val failedShare = run.failed.toDouble / math.max(1L, run.attempted)
    out.foreach { o =>
      val values = if (o.samples.size <= 10) o.samples.map(v => f"$v%.3f").mkString(": ", ", ", " s") else ""
      println(s"samples ${o.samples.size} (${o.sampleKind})$values")
    }
    println(f"attempted ${run.attempted}, failed ${run.failed}; failed_share $failedShare%.4f ratio")
    if (run.setupReps.nonEmpty)
      println(f"setup: session ${sessionSeconds}%.3f s + median of ${run.setupReps.size} set-ups " +
        f"${Stats.median(run.setupReps.toSeq)}%.3f s + warm-up ${run.warmupSeconds}%.3f s")
    if (run.cachedMb.nonEmpty)
      println(f"cache retained at each release (set-ups, warm-up, operations): " +
        run.cachedMb.map(m => f"$m%.1f").mkString(", ") + " MB")
    for ((k, u) <- END_TO_END) println(f"$k ${e2e(k)}%.6f $u")

    val correct = out.nonEmpty && run.failed == 0 && run.failures.isEmpty
    val metrics =
      if (!a.trace) END_TO_END.map { case (k, u) => (k, e2e(k), u) }
      else {
        run.overhead.foreach { case (plain, traced) =>
          run.layer("trace.overhead_s") = traced - plain
          run.layer("trace.untraced_median_s") = plain
        }
        writeTrace(run, a, env, e2e)
        Layers.NAMES.map { case (k, u) => (k, run.layer.getOrElse(k, 0.0), u) }
      }
    val unknown = run.layer.keySet -- Layers.NAMES.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from Layers.NAMES: $unknown")
    if (a.trace) for ((k, v, u) <- metrics) println(f"$k $v%.6f $u")
    val body = metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    val json = s"""{"correct":$correct,"attempted":${run.attempted},"failed":${run.failed},""" +
      s""""metrics":{${body.mkString(",")}}}"""
    java.nio.file.Files.writeString(new File(a.result).toPath, json)
    run.spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def writeTrace(run: Run, a: Args, env: String, e2e: Map[String, Double]): Unit = {
    val layers = Layers.NAMES.map { case (k, u) =>
      s""""$k":{"value":${num(run.layer.getOrElse(k, 0.0))},"unit":"$u"}""" }
    val ends = END_TO_END.map { case (k, u) => s""""$k":{"value":${num(e2e(k))},"unit":"$u"}""" }
    val json = s"""{"env":$env,\n"end_to_end":{${ends.mkString(",")}},\n""" +
      s""""per_layer":{${layers.mkString(",\n")}},\n"spans":${run.tracer.toJson}}"""
    val f = new File(a.traceOut)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, json)
    println(s"trace written to ${a.traceOut}")
  }
}
