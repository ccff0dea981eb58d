package kgbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans recorded around the benchmark's own calls into the engine: name,
  * start, end and the enclosing span. Kept in memory, written at the end.
  * A disabled tracer runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

  private val origin = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val start = System.nanoTime()
      open = id :: open
      try body
      finally {
        open = open.tail
        done += Span(id, name, parent, start, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  /** Span duration minus the part of it that its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    for ((a, b) <- kids) {
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson: String = spans.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      f""""start_s":${(s.startNs - origin) / 1e9}%.6f,"end_s":${(s.endNs - origin) / 1e9}%.6f,""" +
      f""""self_s":${selfSeconds(s)}%.6f}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Operator counters from a benchmark-registered SparkListener, keyed by
  * the job group the benchmark set on the calling thread (streaming jobs
  * carry their query's run id as group).
  */
final class SparkCounters extends SparkListener {
  final class Agg {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var outputBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val groups = mutable.Map.empty[String, Agg]
  private val stageGroup = mutable.Map.empty[Int, String]
  @volatile private var lastEventNs = System.nanoTime()
  private var jobsOpen = 0

  private def agg(g: String): Agg = groups.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    agg(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    jobsOpen += 1
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsOpen -= 1
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, "none"))
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
    }
    lastEventNs = System.nanoTime()
  }

  /** Wait until the listener bus has delivered the events of finished work. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    while (System.nanoTime() < deadline &&
      (synchronized(jobsOpen) > 0 || System.nanoTime() - lastEventNs < 200000000L))
      Thread.sleep(20)
  }

  def of(matching: String => Boolean): Seq[Agg] = synchronized {
    groups.collect { case (g, a) if matching(g) => a }.toSeq
  }
}

/** Streaming progress from a benchmark-registered StreamingQueryListener. */
final class StreamCounters extends StreamingQueryListener {
  final case class Batch(id: Long, inputRows: Long, durations: Map[String, Long], stateRows: Long)
  private val seen = mutable.ArrayBuffer.empty[Batch]
  /** Streaming jobs run under their query's run id as job group. */
  val runIds = mutable.Set.empty[String]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized(runIds += e.runId.toString)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    seen += Batch(p.batchId, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.stateOperators.map(_.numRowsTotal).sum)
  }

  def batches: Seq[Batch] = synchronized(seen.toSeq)
}

/** Wall time of every parquet write, split by target: the triples tables
  * versus everything else the graph sink writes.
  */
final class WriteCounters(under: () => Option[String]) extends QueryExecutionListener {
  private var triplesNs = 0L
  private var restNs = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val path = qe.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    for (p <- path; root <- under() if p.contains(root)) synchronized {
      if (p.contains("/triples") || p.contains("/resolved_triples")) triplesNs += durationNs
      else restNs += durationNs
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def seconds: (Double, Double) = synchronized((triplesNs / 1e9, restNs / 1e9))
}

/** The three listeners, attached only while a traced section runs. */
final class Probes(spark: SparkSession) {
  val jobs = new SparkCounters
  val stream = new StreamCounters
  @volatile var writeRoot: Option[String] = None
  val writes = new WriteCounters(() => writeRoot)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(stream)
    spark.listenerManager.register(writes)
  }

  def detach(): Unit = {
    jobs.settle()
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(stream)
    spark.listenerManager.unregister(writes)
  }
}
