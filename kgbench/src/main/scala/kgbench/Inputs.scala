package kgbench

import graft.corpus.{TranscriptGen, Turn}
import graft.pipeline.{LabeledRow, MentionRow}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Seeded inputs. The transcript generator is a pure function of the
  * conversation index, so the seed picks a window of conversation indexes;
  * every window also carries conversation 0, the 320-turn outlier. The
  * seed also picks the organisation names of the held-out batch and the
  * re-delivered turns of the stream drops.
  */
object Inputs {

  private val WINDOW_SPAN = 8000000L

  def mix(seed: Long, salt: Long): Long = TranscriptGen.mix64(seed ^ TranscriptGen.mix64(salt))

  /** Conversation 0 plus `nConvs - 1` consecutive indexes chosen by the seed. */
  def convIndexes(seed: Long, nConvs: Int): Seq[Long] = {
    val start = windowStart(seed)
    0L +: (start until start + nConvs - 1)
  }

  def windowStart(seed: Long): Long = 1L + java.lang.Math.floorMod(mix(seed, 1L), WINDOW_SPAN)

  def labeled(spark: SparkSession, convs: Seq[Long]): Dataset[LabeledRow] = {
    import spark.implicits._
    spark.createDataset(convs)
      .repartition(spark.sparkContext.defaultParallelism)
      .flatMap { i =>
        TranscriptGen.turnsForConv(i).map { lt =>
          LabeledRow(lt.turn.conv_id, lt.turn.turn_idx, lt.turn.role, lt.turn.text,
            lt.turn.tool, lt.turn.ts, lt.gold.map(MentionRow.of).toSeq)
        }
      }
  }

  def turns(labeled: Dataset[LabeledRow]): Dataset[Turn] = {
    import labeled.sparkSession.implicits._
    labeled.map(r => Turn(r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts))
  }

  /** NER training split: every conversation the generator does not hold out. */
  def trainSplit(labeled: Dataset[LabeledRow]): Dataset[LabeledRow] =
    labeled.filter(r => !TranscriptGen.isEval(r.conv_id.drop(1).toLong))

  // ------------------------------------- organisation names the graph has not seen

  /** Initial-form names of known organisations ("Q Cloud Labs" for "Quantum
    * Cloud Labs"): absent from every generated corpus, linked by the
    * linker's initial rule to the organisation, and sorting before its
    * current canonical, so adding one changes the entity of every alias.
    */
  def orgVariants(seed: Long, n: Int): Seq[String] = {
    val orgs = TranscriptGen.entities.filter(e => e.tp == "ORG" && e.canonical.contains(' '))
    val r = new TranscriptGen.Rng(mix(seed, 2L))
    Seq.fill(n)(orgs(r.nextInt(orgs.length)).canonical).distinct
      .map(c => s"${c.head} ${c.dropWhile(_ != ' ').trim}")
  }

  /** Short conversations naming `orgs`, with ids no generated corpus uses. */
  def orgTurns(orgs: Seq[String], tag: String, tsMillis: Long): Seq[Turn] =
    orgs.zipWithIndex.flatMap { case (org, j) =>
      val conv = s"n$tag-$j"
      val ts = (k: Int) => new java.sql.Timestamp(tsMillis + j * 3600000L + k * 30000L)
      Seq(
        Turn(conv, 0, "user", s"What do you know about $org?", null, ts(0)),
        Turn(conv, 1, "assistant", s"Alice Smithson works at $org.", null, ts(1)),
        Turn(conv, 2, "user", s"Where is $org located?", null, ts(2)),
        Turn(conv, 3, "assistant", s"$org is located in Silver Lake.", null, ts(3)))
    }
}
