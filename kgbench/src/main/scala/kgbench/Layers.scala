package kgbench

import graft.corpus.{LabeledTurn, TranscriptGen}
import graft.pipeline.{KgPipeline, TaggedRow}
import graft.semantics.{NerModel, SentenceSplitter, Tokenizer, TripleAssembler}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

/** Per-layer measurements made in traced runs, outside the timed window. */
object Layers {

  /** Every per-layer metric and its unit, in the order BENCHMARK.json lists
    * them. A traced run prints all of them; a layer the workload does not
    * call reads 0.
    */
  val NAMES: Seq[(String, String)] = Seq(
    "semantics.tokenize_us_per_turn" -> "us",
    "semantics.sentence_split_us_per_turn" -> "us",
    "semantics.ner_tag_us_per_turn" -> "us",
    "semantics.assemble_us_per_turn" -> "us",
    "kgpipeline.tag_s" -> "s",
    "kgpipeline.block_s" -> "s",
    "kgpipeline.cc_s" -> "s",
    "kgpipeline.resolve_s" -> "s",
    "kgpipeline.edges_s" -> "s",
    "kgpipeline.nodes" -> "count",
    "kgpipeline.cand_edges" -> "count",
    "kgpipeline.components" -> "count",
    "kgpipeline.overflow_blocks" -> "count",
    "kgpipeline.cc_jobs" -> "count",
    "gazetteer.disambiguate_s" -> "s",
    "gazetteer.resolved_share" -> "ratio",
    "gazetteer.task_max_over_median" -> "ratio",
    "graphsink.write_triples_s" -> "s",
    "graphsink.write_rest_s" -> "s",
    "graphsink.bytes_written_mb" -> "MB",
    "graphsink.files_written" -> "count",
    "incr.apply_s" -> "s",
    "incr.spark_jobs_per_apply" -> "count",
    "incr.task_cpu_s_per_apply" -> "s",
    "incr.changed_surfaces" -> "count",
    "incr.buckets_rewritten" -> "count",
    "incr.buckets_untouched" -> "count",
    "incr.files_written" -> "count",
    "stream.batches" -> "count",
    "stream.drops_per_batch" -> "count",
    "stream.trigger_ms_p50" -> "ms",
    "stream.add_batch_ms_p50" -> "ms",
    "stream.latest_offset_ms_p50" -> "ms",
    "stream.wal_commit_ms_p50" -> "ms",
    "stream.state_rows" -> "count",
    "stream.canon_reloads" -> "count",
    "stream.gen_late_max_s" -> "s",
    "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.cached_mb_retained" -> "MB",
    "jvm.heap_peak_mb" -> "MB",
    "batch.t1_s" -> "s",
    "batch.t4_s" -> "s",
    "batch.scaling_efficiency" -> "ratio",
    "trace.ops_traced" -> "count",
    "trace.untraced_median_s" -> "s",
    "trace.overhead_s" -> "s")

  /** The linking stages one after another, each forced before the next, so
    * each gets its own wall. `tagged` is forced inside the tag span.
    */
  def pipelineStages(r: Run, tagged: Dataset[TaggedRow], ccDir: String): Unit = {
    val spark = r.spark
    val p = r.probes.get
    p.attach()
    def stage[T](metric: String)(body: => T): T = {
      r.group(s"kgbench.layer.$metric")
      val (s, v) = r.tracer.span(metric)(r.secs(body))
      r.layer(s"kgpipeline.$metric") = s
      v
    }
    try r.tracer.span("kgpipeline") {
      val t = tagged.cache()
      stage("tag_s")(t.count())
      val (nodes, edges) = stage("block_s") {
        val nodes = KgPipeline.surfaceNodes(KgPipeline.mentionRows(t)).cache()
        val (edges, overflow) = KgPipeline.candidateEdges(nodes)
        val e = edges.cache()
        r.layer("kgpipeline.nodes") = nodes.count().toDouble
        r.layer("kgpipeline.cand_edges") = e.count().toDouble
        r.layer("kgpipeline.overflow_blocks") = overflow.count().toDouble
        (nodes, e)
      }
      val labels = stage("cc_s") {
        val l = KgPipeline.connectedComponents(nodes, edges, Some(ccDir)).cache()
        l.count()
        l
      }
      r.layer("kgpipeline.components") = labels.select(col("component")).distinct().count().toDouble
      val resolved = stage("resolve_s") {
        val canon = KgPipeline.canonicalize(nodes, labels)
        val res = KgPipeline.resolveTriples(KgPipeline.tripleRows(t), canon).cache()
        res.count()
        res
      }
      stage("edges_s")(KgPipeline.edgesTable(resolved).count())
    } finally {
      p.detach()
      r.group("kgbench.layers")
    }
    r.layer("kgpipeline.cc_jobs") = p.jobs.of(_ == "kgbench.layer.cc_s").map(_.jobs).sum.toDouble
    r.releaseCache()
    r.delete(ccDir)
  }

  /** Single-thread calls of the text kernels over `turns`; the median of
    * five passes after one warm-up pass, in microseconds per turn.
    */
  def semantics(r: Run, turns: Seq[LabeledTurn], model: NerModel): Unit = {
    val texts = turns.map(_.turn).toArray
    val tags = texts.map(t => NerModel.tag(t.text, model))
    def perTurn(metric: String)(kernel: Int => Any): Unit = {
      val passes = (0 to 5).map { _ =>
        val t = System.nanoTime()
        var i = 0
        while (i < texts.length) { kernel(i); i += 1 }
        (System.nanoTime() - t) / 1e3 / texts.length
      }.tail
      r.layer(s"semantics.$metric") = Stats.median(passes)
    }
    r.tracer.span("semantics") {
      perTurn("tokenize_us_per_turn")(i => Tokenizer.tokenize(texts(i).text))
      perTurn("sentence_split_us_per_turn")(i => SentenceSplitter.split(texts(i).text))
      perTurn("ner_tag_us_per_turn")(i => NerModel.tag(texts(i).text, model))
      perTurn("assemble_us_per_turn") { i =>
        val t = texts(i)
        TripleAssembler.assemble(t.conv_id, t.turn_idx, t.role, t.text, t.tool, tags(i))
      }
    }
  }

  /** About `n` turns of the seed's window, for the text kernels. */
  def sampleTurns(seed: Long, n: Int): Seq[LabeledTurn] =
    Inputs.convIndexes(seed, n).iterator.flatMap(TranscriptGen.turnsForConv).take(n).toSeq

}
