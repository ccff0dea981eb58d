package kgbench

import graft.KgJob
import graft.pipeline.NerTraining
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File

/** Shows that every correctness check of the benchmark passes on a real
  * output and fails on a deliberately corrupted copy of it.
  */
object SelfTest {

  def main(argv: Array[String]): Unit = {
    val a = Main.parse(argv)
    val spark = Main.session(2, a.work)
    val dir = s"${a.work}/selftest"
    val convs = Inputs.convIndexes(a.seed, 300)
    val labeled = Inputs.labeled(spark, convs).cache()
    NerTraining.save(NerTraining.trainModel(Inputs.trainSplit(labeled)), spark, s"$dir/model")
    Inputs.turns(labeled).write.parquet(s"$dir/turns")
    val m = KgJob.run(spark, s"$dir/turns", s"$dir/model", s"$dir/graph", 4)
    val triples = spark.read.parquet(s"$dir/graph/triples").cache()
    val gold = Checks.goldTriples(spark, convs).cache()

    // one resolved row with a different object; one row delivered twice
    val first = triples.limit(1)
    val changed = triples.exceptAll(first).unionByName(first.withColumn("obj", lit("corrupted")))
    val doubled = triples.unionByName(first)
    val dropped = triples.where(pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(10)) =!= 0)
    val spurious = triples.unionByName(triples.where(col("pred") =!= "instance_of")
      .withColumn("obj", concat(col("obj"), lit(" x"))))
    def fp(df: DataFrame) = Checks.fingerprint(df)

    // (case, check result, whether the check should pass)
    val cases = Seq(
      ("triple P/R on the real output", Checks.prCheck(Checks.triplePR(triples, gold)), true),
      ("triple P/R with a tenth of the turns' triples lost",
        Checks.prCheck(Checks.triplePR(dropped, gold)), false),
      ("triple P/R with spurious relation triples",
        Checks.prCheck(Checks.triplePR(spurious, gold)), false),
      ("job counts equal across runs", Checks.sameCounts("job metrics", Seq(m, m)), true),
      ("job counts differ across runs",
        Checks.sameCounts("job metrics", Seq(m, m.copy(triples = m.triples + 1))), false),
      ("fingerprint of an identical output", Checks.sameFingerprint("graph", fp(triples), fp(triples)), true),
      ("fingerprint with one object changed", Checks.sameFingerprint("graph", fp(changed), fp(triples)), false),
      ("fingerprint with one row delivered twice",
        Checks.sameFingerprint("stream vs batch", fp(doubled), fp(triples)), false)
    ) ++ streamCases(new Run(spark, a))

    var bad = 0
    for ((name, result, shouldPass) <- cases) {
      val ok = result.isEmpty == shouldPass
      if (!ok) bad += 1
      println(f"${if (ok) "ok  " else "FAIL"} $name: ${result.getOrElse("passes")}")
    }
    val json = s"""{"selftest":"kgbench checks","cases":${cases.size},"wrong":$bad}"""
    java.nio.file.Files.writeString(new java.io.File(a.result).toPath, json)
    spark.stop()
    if (bad > 0) sys.exit(1)
  }

  /** A short real stream, then copies of its output with one micro-batch's
    * rows or manifest deleted: the drops in that batch must show as not
    * committed, and the output must no longer equal the batch resolve.
    */
  private def streamCases(r: Run): Seq[(String, Option[String], Boolean)] = {
    val staged = StreamDrops.stage(r, Inputs.convIndexes(r.args.seed, 450))
    val f = StreamDrops.feed(r, staged, 0, 6)
    val want = StreamDrops.batchFingerprint(r, staged, f.drops.flatten)
    def batchOf(drop: Int): Int = r.spark.read.parquet(s"${f.out}/resolved_triples")
      .where(col("conv_id") === f.drops(drop).head.conv_id && col("turn_idx") === f.drops(drop).head.turn_idx)
      .select("batch").first().getInt(0)
    def corrupted(name: String)(remove: String => String): String = {
      val copy = s"${f.base}/$name"
      FileUtils.copyDirectory(new File(f.out), new File(copy))
      FileUtils.forceDelete(new File(remove(copy)))
      copy
    }
    def missing(out: String) =
      Checks.equal("drops without committed output", StreamDrops.commits(r, out, f.drops).count(_.isEmpty), 0L)
    def sameAsBatch(out: String) = Checks.sameFingerprint("stream vs batch resolve",
      Checks.fingerprint(r.spark.read.parquet(s"$out/resolved_triples")), want)
    val noRows = corrupted("no-rows")(o => s"$o/resolved_triples/batch=${batchOf(0)}")
    val noManifest = corrupted("no-manifest")(o =>
      s"$o/_manifests/stream-resolved-batch-${batchOf(f.drops.size - 1)}.json")
    Seq(
      ("every drop committed", missing(f.out), true),
      ("stream output equals the batch resolve", sameAsBatch(f.out), true),
      ("one micro-batch's rows deleted: its drops not committed", missing(noRows), false),
      ("one micro-batch's manifest deleted: its drops not committed", missing(noManifest), false),
      ("one micro-batch's rows deleted: stream differs from batch", sameAsBatch(noRows), false))
  }
}
