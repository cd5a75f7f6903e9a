package graft.tools

import org.apache.spark.sql.{GraftSqlInternals, SparkSession}
import org.apache.spark.sql.functions._

import graft.TestdataGraph
import graft.graph.{InOutPageRank, IterativeKernel, PageRank}
import graft.model.PageRankConfig

/** Dumps the physical plan of ONE inner-outer power-phase step job (single
  * materializing job: SpMV join + iterate join + observe, built by
  * PageRank.powerStep) for the plans/r06 evidence. Args: <outFile>
  * [<innerOutFile>] — the optional second file gets the INNER-sweep step
  * job's plan (InOutPageRank.innerStep: y_new in-job via a stableLit dᵀx
  * known before the job, inner+outer residuals and the next dᵀ(Pᵀx) on the
  * observe).
  */
object InOutStepDump {
  def main(args: Array[String]): Unit = {
    val outFile = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val g = TestdataGraph.linkGraph(spark, sfDir)
    graft.util.ShuffleWidth.withWidth(spark, g.edges.rdd.getNumPartitions) {
      // both step plans come from the solvers' own step builders, over a
      // cached frame with representative scalar values
      val prep = PageRank.prepare(g, PageRankConfig())
      val vCol = lit(1.0 / g.numVertices)
      val carry = Seq(col("id"), col("dang"))
      val t0 = GraftSqlInternals.truncate(IterativeKernel.base(g).withColumn("x", vCol))
      t0.handle.count()
      def write(file: String, step: IterativeKernel.Step): Unit = {
        val plan = step.plan.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(java.nio.file.Paths.get(file),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[dump] wrote $file (${plan.length} chars)")
      }
      write(outFile, PageRank.powerStep(prep, t0.df, "x", carry, 0.85, 0.15, vCol))
      args.drop(1).headOption.foreach { innerOut =>
        val alpha = 0.85
        val st = t0.df
          .withColumn("y", col("x")) // stand-in y column of the sweep frame
          .withColumn("f", lit(alpha / 2) * col("x") + lit(1 - alpha) * vCol)
        write(innerOut, InOutPageRank.innerStep(prep, st, carry, alpha, alpha / 2, 0.01, vCol))
      }
    }
    spark.stop()
  }
}
