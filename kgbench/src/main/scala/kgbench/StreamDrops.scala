package kgbench

import graft.StreamJob
import graft.corpus.Turn
import graft.pipeline.{KgPipeline, NerTraining}
import graft.semantics.NerModel
import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.{Files, Paths}

/** stream_drops: `graft.StreamJob.run` in continuous mode, fed as an open
  * loop by one generator thread that drops one parquet directory every
  * DROP_MS, whatever the stream is doing. Conversations arrive in
  * event-time order; a share of each drop is delivered again in the next
  * one, so the watermark dedup state works. The freshness path: per-batch
  * fixed costs (listing, planning, WAL and manifest commits) dominate.
  *
  * The canonical map is not republished while the stream runs:
  * `publishCanonMap` overwrites the map's directory in place, and a
  * micro-batch that probes it meanwhile fails the query
  * (UNABLE_TO_INFER_SCHEMA). See README.md.
  */
object StreamDrops {

  val DROP_MS = 80
  val TURNS_PER_DROP = 48
  val REDELIVER_SHARE = 0.1
  val WATERMARK = "3 days"
  val WARMUP_DROPS = 10
  val LINKED_CONVS = 400
  val SETUP_REPS = 3

  final case class Staged(dir: String, model: NerModel, turns: Vector[Turn]) {
    def modelPath = s"$dir/model"
    def canon = s"$dir/canon"
  }

  /** Corpus, NER model, and the canonical map a batch linking run publishes. */
  def stage(r: Run, convs: Seq[Long]): Staged = {
    val spark = r.spark
    val dir = r.fresh("stream-input")
    val labeled = Inputs.labeled(spark, convs).cache()
    val model = NerTraining.trainModel(Inputs.trainSplit(labeled))
    NerTraining.save(model, spark, s"$dir/model")
    val turns = Inputs.turns(labeled)
    // the map of an earlier linking run, over the oldest conversations
    val linked = turns.where(col("conv_id") <= f"c${convs(LINKED_CONVS)}%07d")
    val out = KgPipeline.run(spark, linked, spark.sparkContext.broadcast(model))
    StreamingIngest.publishCanonMap(KgPipeline.canonicalize(out.nodes, out.components), s"$dir/canon")
    val ordered = turns.collect().sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx)).toVector
    labeled.unpersist()
    r.releaseCache()
    Staged(dir, model, ordered)
  }

  /** Drop i holds the next TURNS_PER_DROP turns plus a seeded share of drop
    * i-1 delivered again. Returns the drops' fresh turns and writes every
    * drop to `staging/drop=<i>` in one job.
    */
  def stageDrops(r: Run, s: Staged, first: Int, n: Int, staging: String): Seq[Seq[Turn]] = {
    val spark = r.spark
    import spark.implicits._
    val fresh = (0 until n).map(i =>
      s.turns.slice((first + i) * TURNS_PER_DROP, (first + i + 1) * TURNS_PER_DROP))
    require(fresh.last.size == TURNS_PER_DROP, s"corpus too small for ${first + n} drops")
    val rows = fresh.zipWithIndex.flatMap { case (turns, i) =>
      val again = if (i == 0) Nil else fresh(i - 1).filter { t =>
        val h = Inputs.mix(r.args.seed, (t.conv_id + "#" + t.turn_idx).hashCode.toLong)
        java.lang.Math.floorMod(h, 1000L) < (REDELIVER_SHARE * 1000).toLong
      }
      (turns ++ again).map(t => (i, t))
    }
    rows.map { case (i, t) => (i, t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts) }
      .toDF("drop", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      .repartition(col("drop")).write.partitionBy("drop").parquet(staging)
    fresh
  }

  final case class StreamRun(lags: Seq[Double], failedDrops: Int, turns: Long,
      spanSeconds: Double, lateMax: Double, canonVersions: Int)

  /** A finished stream: its output directory, the fresh turns of each drop,
    * and when each drop was scheduled (epoch ns) and how late it landed (ns).
    */
  final case class Fed(base: String, out: String, drops: Seq[Seq[Turn]],
      scheduled: Array[Long], late: Array[Long])

  /** Run StreamJob continuously over `n` drops starting at drop `first`,
    * fed open-loop, until every drop is processed.
    */
  def feed(r: Run, s: Staged, first: Int, n: Int): Fed = {
    val spark = r.spark
    val base = r.fresh("stream-run")
    val staging = s"$base/staging"
    val drops = stageDrops(r, s, first, n, staging)
    val input = s"$base/in"
    val out = s"$base/out"
    new File(input).mkdirs()
    r.probes.foreach(_.writeRoot = Some(out))
    val q = r.tracer.span("StreamJob.start")(
      StreamJob.run(spark, s"$input/drop*", s.modelPath, s.canon, out, WATERMARK))
    val scheduled = new Array[Long](n)
    val late = new Array[Long](n)
    val startNs = System.nanoTime() + 200000000L
    val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val gen = new Thread(() => {
      for (i <- 0 until n) {
        val due = startNs + i.toLong * DROP_MS * 1000000L
        var now = System.nanoTime()
        while (now < due) { Thread.sleep(math.max(1L, (due - now) / 1000000L)); now = System.nanoTime() }
        Files.move(Paths.get(staging, s"drop=$i"), Paths.get(input, f"drop$i%05d"))
        scheduled(i) = due + epochOffsetNs
        late(i) = System.nanoTime() - due
      }
    }, "kgbench-drop-generator")
    r.tracer.span("StreamJob.run") {
      gen.start()
      gen.join()
      q.processAllAvailable()
      q.stop()
    }
    q.exception.foreach(e => throw e)
    Fed(base, out, drops, scheduled, late)
  }

  /** Per drop, the commit time (epoch ns) of the micro-batch holding its
    * turns: the time its manifest was written. None when no batch with a
    * manifest holds them.
    */
  def commits(r: Run, out: String, drops: Seq[Seq[Turn]]): Seq[Option[Long]] = {
    val batchOf = r.spark.read.parquet(s"$out/resolved_triples")
      .select(col("conv_id"), col("turn_idx"), col("batch")).distinct().collect()
      .map(row => (row.getString(0), row.getInt(1)) -> row.getInt(2)).toMap
    def commitNs(b: Int): Option[Long] = {
      val f = Paths.get(out, "_manifests", s"stream-resolved-batch-$b.json")
      if (!Files.exists(f)) None
      else {
        val t = Files.getLastModifiedTime(f).toInstant
        Some(t.getEpochSecond * 1000000000L + t.getNano)
      }
    }
    drops.map(turns => turns.iterator.map(t => batchOf.get((t.conv_id, t.turn_idx)))
      .collectFirst { case Some(b) => b }.flatMap(commitNs))
  }

  /** Fingerprint of the batch resolve of `turns` against the canonical map. */
  def batchFingerprint(r: Run, s: Staged, turns: Seq[Turn]): (Long, Long) = {
    val spark = r.spark
    import spark.implicits._
    Checks.fingerprint(KgPipeline.resolveTriplesBroadcast(
      KgPipeline.tripleRows(KgPipeline.tagTurns(spark.createDataset(turns),
        spark.sparkContext.broadcast(s.model))),
      spark.read.parquet(s.canon)))
  }

  /** One stream over `n` drops from drop `first`, checked: every drop
    * committed, and the output equal to the batch resolve of the same
    * (deduplicated) turns.
    */
  def streamRun(r: Run, s: Staged, first: Int, n: Int): StreamRun = {
    val spark = r.spark
    val f = feed(r, s, first, n)
    val committed = commits(r, f.out, f.drops)
    val missing = committed.count(_.isEmpty)
    r.check(Checks.equal("drops without committed output", missing, 0L))
    val ok = r.check(Checks.sameFingerprint("stream vs batch resolve",
      Checks.fingerprint(spark.read.parquet(s"${f.out}/resolved_triples")),
      batchFingerprint(r, s, f.drops.flatten)))
    val versions = spark.read.json(s"${f.out}/_manifests").select("canon_version").distinct().count()
    val lags = committed.zip(f.scheduled).collect { case (Some(c), sch) => (c - sch) / 1e9 }
    val lastCommit = committed.flatten.max
    r.delete(f.base)
    r.releaseCache()
    StreamRun(lags, if (ok) missing else n, f.drops.map(_.size.toLong).sum,
      (lastCommit - f.scheduled(0)) / 1e9, f.late.max / 1e9, versions.toInt)
  }

  def run(r: Run): Outcome = {
    val nDrops = r.args.seconds * 1000 / DROP_MS
    // enough conversations (about 6.8 turns each) for the warm-up and every drop
    val convs = Inputs.convIndexes(r.args.seed, (WARMUP_DROPS + nDrops) * TURNS_PER_DROP / 6 + 50)
    val staged = r.setup(SETUP_REPS)(_ => stage(r, convs))
    staged.tail.foreach(s => r.delete(s.dir))
    val in = staged.head
    val warm = r.warmup(streamRun(r, in, 0, WARMUP_DROPS))
    r.attempted += WARMUP_DROPS
    r.failed += warm.failedDrops
    val runs = r.measure { (_, seconds) =>
      val drops = (seconds * 1000 / DROP_MS).toInt
      val sr = streamRun(r, in, WARMUP_DROPS, drops)
      // one operation per drop: the loop counted one
      r.attempted += drops - 1
      r.failed += sr.failedDrops
      (sr.spanSeconds, Some(sr))
    }
    val lags = runs.flatMap(_._2.lags)
    if (r.args.trace) {
      val p = r.probes.get
      val bs = p.stream.batches.filter(_.inputRows > 0)
      def p50(k: String) = Stats.median(bs.map(_.durations.getOrElse(k, 0L).toDouble))
      val sr = runs.last._2
      r.layer("stream.batches") = bs.size.toDouble
      r.layer("stream.drops_per_batch") = sr.lags.size.toDouble / math.max(1, bs.size)
      r.layer("stream.trigger_ms_p50") = p50("triggerExecution")
      r.layer("stream.add_batch_ms_p50") = p50("addBatch")
      r.layer("stream.latest_offset_ms_p50") = p50("latestOffset")
      r.layer("stream.wal_commit_ms_p50") = p50("walCommit")
      r.layer("stream.state_rows") = bs.map(_.stateRows).max.toDouble
      r.layer("stream.canon_reloads") = sr.canonVersions.toDouble
      r.layer("stream.gen_late_max_s") = sr.lateMax
      val spark = r.spark
      import spark.implicits._
      val bc = spark.sparkContext.broadcast(in.model)
      val turns = spark.createDataset(in.turns.slice(0, nDrops * TURNS_PER_DROP))
      Layers.pipelineStages(r, KgPipeline.tagTurns(turns, bc), r.fresh("cc"))
      Layers.semantics(r, Layers.sampleTurns(r.args.seed, 2000), in.model)
    }
    val sr = runs.map(_._2)
    Outcome(lags, sr.map(_.turns).sum / sr.map(_.spanSeconds).sum,
      s"per-drop lag from scheduled drop to batch commit, ${lags.size} drops")
  }
}
