package kgbench

import graft.corpus.TranscriptGen
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Output checks. Each returns None when the output is correct, else why
  * it is not; a failed check counts as a failed operation.
  */
object Checks {

  val MIN_PR = 0.95

  /** Gold triples of the held-out conversations among `convs`. */
  def goldTriples(spark: SparkSession, convs: Seq[Long]): DataFrame = {
    import spark.implicits._
    convs.filter(TranscriptGen.isEval).flatMap(TranscriptGen.turnsForConv)
      .flatMap(_.goldTriples).map(t => (t.convId, t.turnIdx, t.subj, t.pred, t.obj))
      .toDF("conv_id", "turn_idx", "subj", "pred", "obj")
  }

  /** Triple precision and recall on the held-out conversations, matching
    * on (conversation, turn, subject, predicate, object) as the oracle does.
    */
  def triplePR(triples: DataFrame, gold: DataFrame): (Double, Double) = {
    val key = Seq("conv_id", "turn_idx", "subj", "pred", "obj")
    val g = gold.select(key.map(col): _*).distinct().cache()
    val p = triples.select(key.map(col): _*)
      .join(g.select("conv_id").distinct(), Seq("conv_id"), "left_semi").distinct().cache()
    val tp = p.join(g, key, "left_semi").count().toDouble
    val (np, ng) = (p.count(), g.count())
    g.unpersist(); p.unpersist()
    (if (np == 0) 0.0 else tp / np, if (ng == 0) 0.0 else tp / ng)
  }

  def prCheck(pr: (Double, Double)): Option[String] =
    if (pr._1 >= MIN_PR && pr._2 >= MIN_PR) None
    else Some(f"triple precision ${pr._1}%.4f / recall ${pr._2}%.4f below $MIN_PR")

  def sameCounts[T](what: String, runs: Seq[T]): Option[String] =
    if (runs.distinct.size <= 1) None
    else Some(s"$what differ across runs: ${runs.distinct.mkString(" vs ")}")

  private val fpExpr = "bit_xor(xxhash64(conv_id, turn_idx, subj, pred, obj, " +
    "subj_tag, obj_tag, subj_id, obj_id, subj_canonical, obj_canonical))"

  /** Row count plus an order-independent hash of every resolved column. */
  def fingerprint(resolved: DataFrame): (Long, Long) = {
    val r = resolved.agg(count(lit(1)), expr(fpExpr)).first()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def sameFingerprint(what: String, got: (Long, Long), want: (Long, Long)): Option[String] =
    if (got == want) None else Some(s"$what: (rows, fingerprint) $got vs expected $want")

  def equal(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: $got, expected $want")
}
