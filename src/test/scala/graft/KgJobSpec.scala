package graft

import graft.pipeline.{GraphSink, KgPipeline, NerTraining, Transcripts}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** End-to-end gate for the spark-submit entry point: parquet transcripts
  * + persisted model in, materialized graph + manifests out; a re-run
  * against a completed output is a pure resume (all buckets skipped, no
  * data change); a partially-lost output recovers exactly the missing
  * bucket. The job's metrics equal counts re-read from what it wrote,
  * on fresh and resumed runs alike; its SQL execution count is pinned;
  * a failed tail write surfaces only after the other tail writes finish.
  */
class KgJobSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("kgjob")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val N = 30L

  private lazy val dir = java.nio.file.Files.createTempDirectory("kgjob").toString
  private lazy val input = s"$dir/transcripts"
  private lazy val modelPath = s"$dir/model"

  /** Stages the inputs once: turn table + persisted model (the
    * deploy-time shape).
    */
  private lazy val staged: Unit = {
    import spark.implicits._
    val labeled = Transcripts.generateLabeled(spark, N).cache()
    labeled.map(r => graft.corpus.Turn(r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts))
      .write.parquet(input)
    NerTraining.save(NerTraining.trainModel(Transcripts.trainSplit(labeled)), spark, modelPath)
    labeled.unpersist()
  }

  private def totals(m: KgJob.JobMetrics) = (m.turns, m.triples, m.entities, m.edges)

  test("KgJob: transcripts parquet -> materialized graph, resume-safe") {
    import spark.implicits._
    staged
    val output = s"$dir/graph"

    val m1 = KgJob.run(spark, input, modelPath, output, buckets = 8)
    assert(m1.turns > 0 && m1.triples > 0 && m1.entities > 0 && m1.edges > 0)
    assert(m1.bucketsWritten > 0 && m1.bucketsSkipped == 0)
    // every metric equals the count re-read from what the job consumed
    // and wrote — none of them is a closing count over in-memory lineage
    val reread = (spark.read.parquet(input).count(),
      spark.read.parquet(s"$output/triples").count(),
      spark.read.parquet(s"$output/entities").count(),
      spark.read.parquet(s"$output/edges").count())
    assert(totals(m1) == reread, s"metrics $m1 != re-read counts $reread")

    // on-disk triples == the in-memory pipeline on the same input+model
    val model = spark.sparkContext.broadcast(NerTraining.load(spark, modelPath))
    val want = KgPipeline.run(spark,
        spark.read.parquet(input).as[graft.corpus.Turn], model)
      .resolvedTriples.select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
      .map(_.toSeq).sortBy(_.toString)
    val got = spark.read.parquet(s"$output/triples")
      .select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(got.length == want.length && got.sameElements(want),
      s"materialized (${got.length}) != pipeline (${want.length})")

    // full re-run against a completed output: pure resume, nothing rewritten
    val m2 = KgJob.run(spark, input, modelPath, output, buckets = 8)
    assert(m2.bucketsWritten == 0 && m2.bucketsSkipped == m1.bucketsWritten,
      s"expected pure resume, got $m2")
    assert(spark.read.parquet(s"$output/triples").count() == m1.triples)
    // the triple total sums every committed manifest, written this run or not
    assert(totals(m2) == totals(m1), s"pure resume reported $m2, fresh run $m1")

    // lose one bucket's manifest (the crash window): the next run must
    // re-materialize exactly that bucket and leave the table identical
    val done = GraphSink.doneBuckets(spark, output)
    val victim = done.head
    val fs = new org.apache.hadoop.fs.Path(output)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$output/_manifests/bucket-$victim.json"), false)
    val m3 = KgJob.run(spark, input, modelPath, output, buckets = 8)
    assert(m3.bucketsWritten == 1 && m3.bucketsSkipped == done.size - 1,
      s"expected single-bucket recovery, got $m3")
    assert(totals(m3) == totals(m1), s"one-bucket recovery reported $m3, fresh run $m1")
    val after = spark.read.parquet(s"$output/triples")
      .select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(after.sameElements(want), "resume changed the materialized table")

    // resuming under a DIFFERENT bucket count must refuse loudly: the
    // committed manifest ids index another partition function and a
    // silent resume would lose/duplicate rows across the two layouts
    val e = intercept[IllegalArgumentException] {
      KgJob.run(spark, input, modelPath, output, buckets = 4)
    }
    assert(e.getMessage.contains("n_buckets"), e.getMessage)

    // day-partitioned job run to a fresh output: same triples, day dirs
    // under every bucket, layout recorded for the resume guard. A
    // leftover CC checkpoint is planted under the output first: a
    // SUCCESSFUL job must clean `_cc_checkpoints` up (ADVICE r4 — the
    // frontier is O(|nodes|) dead weight once the manifests commit, and
    // a stale one trips the fingerprint guard on a later reuse)
    val output2 = s"$dir/graph_day"
    val ccDir = new java.io.File(s"$output2/_cc_checkpoints")
    ccDir.mkdirs()
    java.nio.file.Files.writeString(ccDir.toPath.resolve("stale-marker.txt"), "leftover")
    val mDay = KgJob.run(spark, input, modelPath, output2, buckets = 8, dayPartition = true)
    assert(!ccDir.exists(), "_cc_checkpoints must be deleted after a successful job")
    assert(mDay.triples == m1.triples)
    val dayGot = spark.read.parquet(s"$output2/triples")
      .select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(dayGot.sameElements(want), "day-partitioned table diverged")
    val bucketDirs = new java.io.File(s"$output2/triples").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("conv_bucket="))
    assert(bucketDirs.nonEmpty &&
      bucketDirs.forall(_.listFiles().exists(_.getName.startsWith("day="))))
    val eDay = intercept[IllegalArgumentException] {
      KgJob.run(spark, input, modelPath, output2, buckets = 8, dayPartition = false)
    }
    assert(eDay.getMessage.contains("day_partition"), eDay.getMessage)

    // a committed manifest that records no n_buckets cannot say which
    // partition function its bucket ids index: the resume refuses and
    // names the manifest instead of assuming the current bucket count
    for (f <- new java.io.File(s"$output/_manifests").listFiles()
         if f.getName.startsWith("bucket-")) {
      java.nio.file.Files.writeString(f.toPath,
        java.nio.file.Files.readString(f.toPath).replaceAll(""","n_buckets":\d+""", ""))
      // drop the local FS's checksum shadow of the edited file
      new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    }
    val eNb = intercept[IllegalStateException] {
      KgJob.run(spark, input, modelPath, output, buckets = 8)
    }
    assert(eNb.getMessage.contains(s"$output/_manifests/bucket-") &&
      eNb.getMessage.contains("n_buckets"), eNb.getMessage)
  }

  /** SQL executions of one fresh KgJob.run on this fixture: the model
    * load, the node count (one for both dispatches), the cached turn
    * count, the two local-CC collects, the triple write and its manifest
    * read-back, and the entities, edges and link-state writes (the link
    * state's two tables plus its read-back count). A re-added closing
    * count or a second dispatch count raises it.
    */
  private val FreshRunExecutions = 12

  test("KgJob: one SQL execution per fact; tail writes run under the caller's job group") {
    staged
    val output = s"$dir/graph_guard"
    val sentinel = "kgjob-guard-sentinel"
    val executions = mutable.ArrayBuffer.empty[String]
    val seen = new CountDownLatch(1)
    val queries = new QueryExecutionListener {
      private def record(funcName: String, qe: QueryExecution): Unit =
        if (qe.logical.toString.contains(sentinel)) seen.countDown()
        else executions.synchronized(executions += s"$funcName: ${qe.logical.nodeName}")
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        record(funcName, qe)
    }
    val groups = mutable.ArrayBuffer.empty[String]
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.synchronized {
        groups += Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("none")
      }
    }
    spark.listenerManager.register(queries)
    spark.sparkContext.addSparkListener(jobs)
    try {
      spark.sparkContext.setJobGroup("kgjob-guard", "execution-count guard")
      KgJob.run(spark, input, modelPath, output, buckets = 8)
      // events arrive asynchronously but in order: once the sentinel's
      // execution is seen, every execution and job of the run has been
      spark.sparkContext.setJobGroup(sentinel, sentinel)
      spark.range(1).selectExpr(s"'$sentinel' AS s").collect()
      assert(seen.await(60, TimeUnit.SECONDS), "listener never saw the sentinel query")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.listenerManager.unregister(queries)
      spark.sparkContext.removeSparkListener(jobs)
    }
    val runExecs = executions.synchronized(executions.toList)
    assert(runExecs.size == FreshRunExecutions,
      s"expected $FreshRunExecutions SQL executions, got ${runExecs.size}:\n${runExecs.mkString("\n")}")
    val runGroups = groups.synchronized(groups.toList).filterNot(_ == sentinel)
    assert(runGroups.nonEmpty && runGroups.forall(_ == "kgjob-guard"),
      s"jobs outside the caller's job group: ${runGroups.groupBy(identity).map { case (g, v) => g -> v.size }}")
  }

  test("KgJob: a failed tail write surfaces after the others finish; checkpoints stay") {
    staged
    val output = s"$dir/graph_tailfail"
    val outFile = new java.io.File(output)
    outFile.mkdirs()
    // a dangling symlink where the entities table goes: the overwrite
    // cannot clear it and the write's tasks cannot create directories
    // under it (a plain file there is simply deleted by the overwrite)
    java.nio.file.Files.createSymbolicLink(
      new java.io.File(outFile, "entities").toPath, new java.io.File(outFile, "no-such-dir").toPath)
    val ccDir = new java.io.File(outFile, "_cc_checkpoints")
    ccDir.mkdirs()
    java.nio.file.Files.writeString(ccDir.toPath.resolve("stale-marker.txt"), "leftover")

    val e = intercept[Exception](KgJob.run(spark, input, modelPath, output, buckets = 8))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
    assert(messages.exists(_.contains(s"$output/entities")), s"not the entities write's error: $messages")
    // the edges and link-state writes had both committed when it surfaced
    assert(new java.io.File(outFile, "edges/_SUCCESS").exists(), "edges write did not finish")
    assert(new java.io.File(outFile, "_linkstate/_committed.json").exists(),
      "link-state write did not finish")
    assert(ccDir.exists(), "_cc_checkpoints must survive a failed run")
    val poolThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("kgjob-tail-"))
    assert(poolThreads.isEmpty, s"tail-write pool threads still alive: ${poolThreads.map(_.getName)}")
  }
}
