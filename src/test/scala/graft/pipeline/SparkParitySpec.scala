package graft.pipeline

import graft.corpus.TranscriptGen
import graft.oracle.Oracle
import graft.semantics._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Distribution-parity gates (SURVEY.md §5.2): the Spark pipeline must
  * emit EXACTLY the single-threaded oracle's mentions, triples, model,
  * and alias components — proving the distributed plumbing (window
  * ordering, explode, salted joins, CC loop) preserves semantics.
  */
class SparkParitySpec extends AnyFunSuite {

  private val N = 60L

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("parity")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val corpus = TranscriptGen.corpus(N.toInt)
  private lazy val train = corpus.filterNot(lt => TranscriptGen.isEval(lt.turn.conv_id.drop(1).toLong))
  private lazy val oracleModel = Oracle.trainNer(train)

  private lazy val labeled = Transcripts.generateLabeled(spark, N)
  private lazy val sparkModel = NerTraining.trainModel(Transcripts.trainSplit(labeled))
  private lazy val kg = KgPipeline.run(spark, Transcripts.generate(spark, N),
    spark.sparkContext.broadcast(sparkModel))

  test("distributed generation equals driver-side generation") {
    import spark.implicits._
    val fromSpark = Transcripts.generate(spark, N).collect().toSet
    val fromOracle = corpus.map(_.turn).toSet
    assert(fromSpark == fromOracle)
  }

  test("spark-trained NER model equals oracle-trained model exactly") {
    assert(sparkModel.entityDict == oracleModel.entityDict)
    assert(sparkModel.tokenDict == oracleModel.tokenDict)
    assert(sparkModel.contextDict == oracleModel.contextDict)
    assert(sparkModel.caseDict == oracleModel.caseDict)
    assert(sparkModel.removeWords == oracleModel.removeWords)
  }

  test("model save/load round-trips") {
    val path = java.nio.file.Files.createTempDirectory("nermodel").toString
    NerTraining.save(sparkModel, spark, s"$path/m")
    val loaded = NerTraining.load(spark, s"$path/m")
    assert(loaded.entityDict == sparkModel.entityDict)
    assert(loaded.removeWords == sparkModel.removeWords)
  }

  test("spark mentions equal oracle mentions") {
    val sparkSet = kg.mentions
      .select("conv_id", "turn_idx", "start", "end", "value", "tag")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4), r.getString(5)))
      .toSet
    val oracleSet = Oracle.tag(corpus, oracleModel).flatMap { case (lt, ms) =>
      ms.map(m => (lt.turn.conv_id, lt.turn.turn_idx, m.start, m.end, m.value, m.tag))
    }.toSet
    assert(sparkSet == oracleSet)
  }

  test("spark triples equal oracle triples") {
    val sparkSet = kg.triples
      .select("conv_id", "turn_idx", "subj", "pred", "obj")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4)))
      .toSet
    val oracleSet = Oracle.triples(Oracle.tag(corpus, oracleModel))
      .map(t => (t.convId, t.turnIdx, t.subj, t.pred, t.obj)).toSet
    assert(sparkSet == oracleSet)
  }

  private def componentSets(labels: org.apache.spark.sql.DataFrame): Set[Set[String]] =
    kg.nodes.join(labels, "node_id")
      .select("component", "norm")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).values.map(_.map(_._2).toSet).toSet

  test("connected components equal oracle components (as surface sets)") {
    val oracleMentions = Oracle.tag(corpus, oracleModel).flatMap(_._2).map(m => (m.value, m.tag))
    val oracleComponents = Oracle.components(oracleMentions)
    assert(componentSets(kg.components) == oracleComponents)
  }

  test("iterative CC loop equals driver union-find fast path") {
    val (edges, _) = KgPipeline.candidateEdges(kg.nodes)
    val loop = componentSets(KgPipeline.connectedComponentsLoop(kg.nodes, edges))
    val local = componentSets(KgPipeline.connectedComponentsLocal(kg.nodes, edges))
    assert(loop == local)
  }

  test("canonical ids resolve hot-entity aliases to one entity") {
    val hot = TranscriptGen.hotEntity
    val ids = kg.resolvedTriples
      .where(col("subj") === hot.canonical || col("subj").isin(hot.aliases: _*))
      .select("subj_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids.size == 1, s"hot entity surfaces map to ${ids.size} ids")
  }

  test("salted resolve equals broadcast resolve") {
    val canonMap = KgPipeline.canonicalize(kg.nodes, kg.components)
    val viaSalt = KgPipeline.resolveTriplesSalted(kg.triples, canonMap)
      .select("conv_id", "turn_idx", "subj", "pred", "obj", "subj_id", "obj_id")
      .collect().toSet
    // plain broadcast join (no salt) as the semantic reference
    val normUdf = udf((s: String) => StringOps.normalizeSurface(s))
    val cm = canonMap.select(col("norm"), col("tag"), col("entity_id"))
    val plain = kg.triples
      .withColumn("s_norm", normUdf(col("subj")))
      .withColumn("o_norm", normUdf(col("obj")))
      .join(broadcast(cm).withColumnRenamed("norm", "s_norm")
        .withColumnRenamed("tag", "subj_tag").withColumnRenamed("entity_id", "subj_id"),
        Seq("s_norm", "subj_tag"), "left")
      .join(broadcast(cm).withColumnRenamed("norm", "o_norm")
        .withColumnRenamed("tag", "obj_tag").withColumnRenamed("entity_id", "obj_id"),
        Seq("o_norm", "obj_tag"), "left")
      .select("conv_id", "turn_idx", "subj", "pred", "obj", "subj_id", "obj_id")
      .collect().toSet
    assert(viaSalt == plain)
  }

  test("canonicalize yields exactly one row per node (the shared dispatch count)") {
    import spark.implicits._
    // a three-member ORG component, and the norm "acme" under two tags
    val nodes = Seq(("acme", "ORG", 1L), ("acme corp", "ORG", 2L), ("acme inc", "ORG", 3L),
      ("acme", "PER", 4L), ("zed", "PER", 5L)).toDF("norm", "tag", "node_id")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L)).toDF("node_id", "component")
    val canon = KgPipeline.canonicalize(nodes, labels)
      .select($"node_id", $"canonical_norm", $"entity_id").as[(Long, String, Long)].collect()
    assert(canon.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L), canon.toSeq)
    val byNode = canon.map(r => r._1 -> (r._2, r._3)).toMap
    assert(Seq(1L, 2L, 3L).map(byNode).distinct == Seq(byNode(1L)) && byNode(1L)._1 == "acme")
    assert(byNode(4L)._1 == "acme" && byNode(4L)._2 != byNode(1L)._2,
      "the same norm under two tags must stay two entities")
    // and on the pipeline's own output, which has multi-member components
    assert(kg.components.groupBy($"component").count().where($"count" > 1).count() > 0)
    val real = KgPipeline.canonicalize(kg.nodes, kg.components)
    val nNodes = kg.nodes.count()
    assert(real.count() == nNodes && real.select($"node_id").distinct().count() == nNodes)
  }

  test("pipeline is deterministic across runs") {
    val again = KgPipeline.run(spark, Transcripts.generate(spark, N),
      spark.sparkContext.broadcast(sparkModel))
    val a = kg.resolvedTriples.select("conv_id", "turn_idx", "subj", "pred", "obj", "subj_id")
      .collect().toSet
    val b = again.resolvedTriples.select("conv_id", "turn_idx", "subj", "pred", "obj", "subj_id")
      .collect().toSet
    assert(a == b)
  }

  test("materialize + manifests + resume yields identical triple set") {
    val dir1 = java.nio.file.Files.createTempDirectory("kgfull").toString
    val dir2 = java.nio.file.Files.createTempDirectory("kgresume").toString
    val nBuckets = 8
    // full run
    val m1 = GraphSink.writeTriples(spark, kg.resolvedTriples, dir1, nBuckets)
    assert(m1.buckets == nBuckets && m1.skippedBuckets == 0)
    // simulated partial failure: first run writes only buckets 0-2, then
    // "crashes"; resume writes the rest
    val partial = GraphSink.bucketed(kg.resolvedTriples, nBuckets).where(col("conv_bucket") < 3)
      .drop("conv_bucket")
    GraphSink.writeTriples(spark, partial, dir2, nBuckets)
    val m2 = GraphSink.writeTriples(spark, kg.resolvedTriples, dir2, nBuckets)
    assert(m2.skippedBuckets > 0, "resume should skip committed buckets")
    val t1 = spark.read.parquet(s"$dir1/triples")
      .select("conv_id", "turn_idx", "subj", "pred", "obj").collect().toSet
    val t2 = spark.read.parquet(s"$dir2/triples")
      .select("conv_id", "turn_idx", "subj", "pred", "obj").collect().toSet
    assert(t1 == t2)
    assert(GraphSink.doneBuckets(spark, dir2).size == nBuckets)
  }

  test("gazetteer disambiguation picks the right entity for >=95% of mentions") {
    val gaz = Gazetteer.aliasTable(spark)
    val resolved = Gazetteer.disambiguate(kg.mentions, gaz)
      .select("value", "entity_id").collect()
    val surfaceToId = TranscriptGen.entities
      .flatMap(e => e.surfaces.map(s => s -> e.id)).toMap
    val known = resolved.filter(r => surfaceToId.contains(r.getString(0)))
    val correct = known.count(r => surfaceToId(r.getString(0)) == r.getLong(1))
    assert(known.nonEmpty)
    val acc = correct.toDouble / known.length
    info(f"disambiguation accuracy: $acc%.4f (${known.length} mentions)")
    assert(acc >= 0.95, f"accuracy $acc%.4f < 0.95")
  }

  test("entry returns rows") {
    assert(graft.SparkEntry.entry(spark).limit(5).count() > 0)
  }
}
