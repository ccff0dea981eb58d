package graft.pipeline

import graft.streaming.StreamingIngest
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._

/** The one commit protocol: write-once semantics at a commit point, the
  * byte format of every marker family (pinned to the literal templates
  * earlier releases wrote, so their outputs still resume), and the
  * structural rule that no other main-source file creates or renames
  * files. The incremental intent marker is pinned by
  * KgIncrementalJobSpec, whose kill test is the one place it survives.
  */
class CommitSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("commit")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val local: FileSystem = FileSystem.getLocal(new Configuration())

  private def tmpDir(name: String): String = Files.createTempDirectory(name).toString

  private def text(path: String): String = Files.readString(JPath.of(path))

  test("a tmp file left without its rename reads as absent; the retried commit succeeds") {
    val dir = tmpDir("commit_tmp")
    val marker = s"$dir/m.json"
    // the crash window: the tmp was written, the rename never happened
    Files.writeString(JPath.of(s"$dir/.m.json.tmp"), """{"half":""")
    assert(Commit.read(local, marker).isEmpty)
    Commit.commit(local, marker, """{"a":1}""")
    assert(Commit.read(local, marker).contains("""{"a":1}"""))
    assert(!Files.exists(JPath.of(s"$dir/.m.json.tmp")), "the retried commit renames its tmp away")
  }

  test("an identical re-commit is a no-op; a differing one fails and names the marker") {
    val dir = tmpDir("commit_once")
    val marker = s"$dir/m.json"
    Commit.commit(local, marker, """{"a":1}""")
    val committedAt = Files.getLastModifiedTime(JPath.of(marker))
    Thread.sleep(20)
    Commit.commit(local, marker, """{"a":1}""")
    assert(Files.getLastModifiedTime(JPath.of(marker)) == committedAt, "re-commit rewrote the marker")
    val e = intercept[IllegalStateException](Commit.commit(local, marker, """{"a":2}"""))
    assert(e.getMessage.contains(marker), e.getMessage)
    assert(text(marker) == """{"a":1}""", "a refused commit must leave the marker as it was")
  }

  test("decoding fails loudly on a truncated marker or a missing field, naming the marker") {
    val torn = intercept[IllegalStateException](Commit.decode("/x/m.json", """{"iter":3,"chan"""))
    assert(torn.getMessage.contains("/x/m.json"), torn.getMessage)
    val m = Commit.decode("/x/m.json", """{"iter":3}""")
    assert(m.int("iter") == 3)
    val missing = intercept[IllegalStateException](m.long("changed"))
    assert(missing.getMessage.contains("/x/m.json") && missing.getMessage.contains("changed"),
      missing.getMessage)
  }

  // ---------------------------------------------------- golden bytes

  private def sampleTriples(): DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 200).map { i =>
      (s"c${i % 23}", i, new java.sql.Timestamp(1700000000000L + i * 1000L),
        s"subj$i", "mentions", s"obj${i % 7}")
    }.toDF("conv_id", "turn_idx", "ts", "subj", "pred", "obj")
  }

  test("golden bytes: bucket manifest") {
    val dir = tmpDir("commit_bucket")
    GraphSink.writeTriples(spark, sampleTriples(), dir, 4, configHash = "cfg7")
    val files = new java.io.File(s"$dir/_manifests").listFiles()
      .filter(f => f.getName.startsWith("bucket-") && f.getName.endsWith(".json"))
    assert(files.length == 4)
    for (f <- files) {
      val json = text(f.getPath)
      val m = Commit.decode(f.getPath, json)
      assert(json ==
        s"""{"bucket":${m.int("bucket")},"rows":${m.long("rows")},"fingerprint":${m.long("fingerprint")},""" +
          s""""config":"cfg7","n_buckets":4,"day_partition":false}""")
    }
  }

  test("golden bytes: link-state marker") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("commit_linkstate")
    val nodes = Seq(("acme", "ORG", 2L, "Acme", 1L), ("acme co", "ORG", 1L, "Acme Co", 2L))
      .toDF("norm", "tag", "n_mentions", "surface", "node_id")
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("node_id", "component")
    GraphSink.writeLinkState(spark, nodes, labels, s"$dir/a")
    assert(text(s"$dir/a/_committed.json") == """{"n_nodes":2,"applied":[]}""")
    GraphSink.writeLinkState(spark, nodes, labels, s"$dir/b", Seq("b3-00000000000000ff", "b9-0123456789abcdef"))
    assert(text(s"$dir/b/_committed.json") ==
      """{"n_nodes":2,"applied":["b3-00000000000000ff","b9-0123456789abcdef"]}""")
    assert(GraphSink.readLinkState(spark, s"$dir/b").get.appliedTokens ==
      Seq("b3-00000000000000ff", "b9-0123456789abcdef"))
  }

  test("golden bytes: CC iteration marker") {
    val dir = tmpDir("commit_cc")
    val chains = spark.range(20).selectExpr("id * 100 AS base")
    val nodes = chains.selectExpr("explode(transform(sequence(0, 3), i -> base + i)) AS node_id")
    val edges = chains.selectExpr(
      "explode(transform(sequence(0, 2), i -> struct(base + i AS src, base + i + 1 AS dst))) AS e")
      .select(col("e.src"), col("e.dst"))
    val id = nodes.agg(count(lit(1)), expr("bit_xor(xxhash64(node_id))")).first()
    val (n, fp) = (id.getLong(0), id.getLong(1))
    intercept[RuntimeException] {
      KgPipeline.connectedComponentsLoop(nodes, edges, Some(dir), failAfterIters = 1)
    }
    val first = text(s"$dir/iter-1.done.json")
    val changed = Commit.decode("iter-1", first).long("changed")
    assert(changed > 0)
    assert(first == s"""{"iter":1,"changed":$changed,"converged":false,"nodes":$n,"nodes_fp":$fp}""")
    KgPipeline.connectedComponentsLoop(nodes, edges, Some(dir))
    val k = KgPipeline.lastIterations
    assert(text(s"$dir/iter-$k.done.json") ==
      s"""{"iter":$k,"changed":0,"converged":true,"nodes":$n,"nodes_fp":$fp}""")
  }

  test("golden bytes: stream batch manifests, plain and resolved") {
    val out = tmpDir("commit_stream")
    val batch = sampleTriples()
    val r = batch.agg(count(lit(1)), expr("bit_xor(xxhash64(conv_id, turn_idx, subj, pred, obj))"))
      .first()
    val (rows, fp) = (r.getLong(0), r.getLong(1))
    StreamingIngest.writeBatch(batch, out, 3L)
    assert(text(s"$out/_manifests/stream-batch-3.json") ==
      s"""{"batch":3,"rows":$rows,"fingerprint":$fp}""")
    StreamingIngest.writeBatch(batch, out, 4L, table = "resolved_triples",
      manifestPrefix = "stream-resolved-batch", canonVersion = Some("12-345"))
    assert(text(s"$out/_manifests/stream-resolved-batch-4.json") ==
      s"""{"batch":4,"rows":$rows,"fingerprint":$fp,"canon_version":"12-345"}""")
  }

  test("golden bytes: canon version marker, re-published over a changed map") {
    val s = spark
    import s.implicits._
    val dir = s"${tmpDir("commit_canon")}/canon"
    def version(m: DataFrame): String = {
      val r = m.agg(count(lit(1)), expr("bit_xor(xxhash64(norm, tag, entity_id, canonical_norm))"))
        .first()
      s"${r.getLong(0)}-${r.getLong(1)}"
    }
    val one = Seq(("acme", "ORG", 7L, "acme")).toDF("norm", "tag", "entity_id", "canonical_norm")
    val two = one.union(Seq(("acme co", "ORG", 7L, "acme")).toDF())
    for (m <- Seq(one, two)) {
      val v = StreamingIngest.publishCanonMap(m, dir)
      assert(v == version(m))
      assert(text(s"$dir/_canon_version") == v)
      assert(StreamingIngest.canonSnapshotVersion(spark, dir) == v)
    }
  }

  // ------------------------------------------------- structural guard

  test("no main source but the commit module creates or renames files") {
    val root = JPath.of(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"main sources not found under $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val commitModule = root.resolve("graft/pipeline/Commit.scala")
    assert(sources.contains(commitModule) && sources.size > 50, s"scanned ${sources.size} files")
    val call = """\.(rename|create)\(""".r
    val offenders = for {
      src <- sources if src != commitModule
      (line, i) <- Files.readAllLines(src).asScala.zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield s"${root.relativize(src)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"create or rename a file through graft.pipeline.Commit, not by hand:\n${offenders.mkString("\n")}")
  }
}
