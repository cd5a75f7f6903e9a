package graft

import scala.io.StdIn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph._
import graft.ingest.TranscriptGen
import graft.model.PageRankConfig

/** PETSc-style "-key value" option database (util/command_line.hpp:39-86 and
  * the PetscOptions usage at /root/reference/ppagerank.cc:49-147). Later
  * occurrences win, like PetscOptionsInsert re-insertion in script mode
  * (/root/reference/ppagerank_main.cc:432-445).
  */
final case class Options(m: Map[String, String]) {
  def str(key: String): Option[String] = m.get(key)
  def dbl(key: String, default: Double): Double = m.get(key).map(_.toDouble).getOrElse(default)
  def int(key: String, default: Int): Int = m.get(key).map(_.toInt).getOrElse(default)
  def flag(key: String): Boolean = m.contains(key)
  def ++(other: Options): Options = Options(m ++ other.m)
}
object Options {
  def parse(args: Seq[String]): Options = {
    val acc = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("-"), s"expected -option, got: $a")
      val key = a.stripPrefix("-")
      if (i + 1 < args.length && !args(i + 1).startsWith("-")) {
        acc(key) = args(i + 1); i += 2
      } else { acc(key) = ""; i += 1 }
    }
    Options(acc.toMap)
  }
  def parseLine(line: String): Options = parse(line.trim.split("\\s+").toSeq.filter(_.nonEmpty))
}

/** CLI with the reference's surface (/root/reference/ppagerank_main.cc:78-152):
  *
  *   runMain graft.Main -m <source> [-alpha a] [-tol t] [-maxiter n]
  *     [-alg power|inout|arnoldi] [-pvec parquet] [-out dir] [-noout]
  *     [-checkpoint dir] [-salt thresh] [-script] [-saveedges dir]
  *     [-merge rawDeltaParquet] [-warmstart ranksParquet]
  *
  * `-m` accepts a transcripts parquet/directory path (schema = the
  * north-rule input_hint), `synth:<nConv>` for the deterministic
  * generator, or `edges:<dir>` for a durable EdgeStore layout written by a
  * previous `-saveedges` run — the analogue of MatLoadPickType's format
  * dispatch (ppagerank_main.cc:268-344). `-script` reads option lines from stdin and
  * runs each against the once-normalized graph (ppagerank_main.cc:360-475;
  * see /root/reference/test_script). Unlike the reference (whose `-noout` is
  * parsed but output writing was never implemented, ppagerank.cc:71-72), the
  * ranks sink is real: parquet to `-out`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = Options.parse(args.toSeq)
    val mSource = opts.str("m").filter(_.nonEmpty)
      .getOrElse(sys.error("-m <transcripts parquet | synth:N> is required"))

    val spark = SparkSession.builder()
      .master(opts.str("master").filter(_.nonEmpty).getOrElse("local[8]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        opts.str("partitions").filter(_.nonEmpty).getOrElse("8"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // -merge <rawDeltaParquet>: fold a raw-edge delta (src, dst,
    // weight=multiplicity; negative deletes) into the `edges:` store BEFORE
    // it is loaded — the incremental-maintenance user path.
    opts.str("merge").filter(_.nonEmpty).foreach { deltaPath =>
      require(mSource.startsWith("edges:"),
        "-merge requires -m edges:<dir> (a durable EdgeStore)")
      val stats = graft.ingest.EdgeStore.mergeDelta(spark,
        mSource.stripPrefix("edges:"), spark.read.parquet(deltaPath))
      println(s"merged delta: ${stats.touchedSrcs} srcs touched, " +
        s"${stats.affectedBuckets}/${stats.totalBuckets} buckets rewritten, " +
        s"${stats.newVertices} new vertices")
    }

    val g = loadGraph(spark, mSource, opts)
    // durable CSR-like layout for later `-m edges:<dir>` runs
    opts.str("saveedges").filter(_.nonEmpty).foreach { p =>
      graft.ingest.EdgeStore.write(g, p)
      println(s"edge store written to $p")
    }
    // K2 matrix stats report (ppagerank_main.cc:202-253)
    GraphOps.matrixStats(g).show(truncate = false)

    if (opts.flag("script")) {
      println("running in script mode (options per stdin line)")
      var line = StdIn.readLine()
      while (line != null) {
        if (line.trim.nonEmpty) {
          val runOpts = opts ++ Options.parseLine(line)
          try runOne(spark, g, runOpts)
          catch { case e: IllegalArgumentException =>
            // tolerate unknown-alg errors without aborting (ppagerank_main.cc:449-452)
            System.err.println(s"run failed: ${e.getMessage}")
          }
        }
        line = StdIn.readLine()
      }
    } else runOne(spark, g, opts)
    spark.stop()
  }

  /** Loads, derives and normalizes the `-m` source ONCE
    * (ppagerank_main.cc:131-136, 408).
    */
  def loadGraph(spark: SparkSession, mSource: String, o: Options): LinkGraph =
    if (mSource.startsWith("edges:"))
      graft.ingest.EdgeStore.read(spark, mSource.stripPrefix("edges:"))
    else {
      val turns = if (mSource.startsWith("synth:"))
        TranscriptGen.generate(spark, mSource.stripPrefix("synth:").toLong)
      else {
        import spark.implicits._
        spark.read.parquet(mSource).as[graft.model.Turn]
      }
      // -trans (ppagerank_main.cc:121-122): PageRank over incoming links —
      // the edge list is transposed before normalization, which is the
      // reference's colsum + right-diagonal-scale path (ppagerank.cc:183-209)
      GraphOps.fromTranscripts(turns, transpose = o.flag("trans"))
    }

  def runOne(spark: SparkSession, g: LinkGraph, o: Options): Unit = {
    val alpha = o.dbl("alpha", 0.85)     // ppagerank.cc:68-69
    val tol = o.dbl("tol", 1e-7)         // ppagerank.cc:88-89
    val maxiter = o.int("maxiter", 10000) // ppagerank.cc:85-86
    val alg = o.str("alg").filter(_.nonEmpty).getOrElse("power") // ppagerank.cc:80-82
    val salt = o.int("salt", 0)
    val pvec = o.str("pvec").filter(_.nonEmpty).map { path => // ppagerank.cc:75-78
      spark.read.parquet(path).select(col("id"), col("v"))
    }
    val ckpt = o.str("checkpoint").filter(_.nonEmpty)
    // -warmstart <ranksParquet>: start the power iteration from a previous
    // run's ranks (incremental re-rank after -merge). Power-only; rejected
    // (not silently ignored) elsewhere.
    val warm = o.str("warmstart").filter(_.nonEmpty).map { path =>
      spark.read.parquet(path).select(col("id"), col("rank"))
    }
    require(warm.isEmpty || alg == "power", s"-warmstart is power-only (got -alg $alg)")

    val (ranks, stats): (DataFrame, graft.model.PageRankStats) = alg match {
      case "power" =>
        val (r, st) = PageRank.run(g, PageRankConfig(alpha = alpha, tol = tol,
          maxIter = maxiter, checkpointDir = ckpt, saltThreshold = salt),
          resume = o.flag("resume"), personalization = pvec, warmStart = warm)
        (r.toDF(), st)
      case "inout" =>
        val (r, st) = InOutPageRank.run(g, InOutPageRank.InOutConfig(
          alpha = alpha,
          beta = o.str("inout_beta").filter(_.nonEmpty).map(_.toDouble),
          eta = o.dbl("inout_eta", 1e-2),
          maxInnerIter = o.int("inout_max_inner_iter", 1000),
          tol = tol, maxIter = maxiter, saltThreshold = salt,
          checkpointDir = ckpt),
          personalization = pvec, resume = o.flag("resume"))
        (r.toDF(), st)
      case "arnoldi" =>
        val (r, st) = ArnoldiPageRank.run(g, ArnoldiPageRank.ArnoldiConfig(
          alpha = alpha, tol = tol, maxRestarts = maxiter, saltThreshold = salt,
          checkpointDir = ckpt),
          personalization = pvec, resume = o.flag("resume"))
        (r.toDF(), st)
      case "ppr" =>
        // batched multi-seed personalized PageRank: -seeds is either a
        // comma-separated id list or a parquet path with a `seed` column
        val seedSpec = o.str("seeds").filter(_.nonEmpty).getOrElse(
          throw new IllegalArgumentException("-alg ppr requires -seeds <ids|parquet>"))
        val seeds: Seq[Long] =
          if (seedSpec.forall(c => c.isDigit || c == ','))
            seedSpec.split(",").filter(_.nonEmpty).map(_.toLong).toSeq
          else spark.read.parquet(seedSpec).select(col("seed").cast("long"))
            .distinct().collect().map(_.getLong(0)).toSeq.sorted
        PageRank.runMultiSeed(g, seeds, PageRankConfig(alpha = alpha, tol = tol,
          maxIter = maxiter, checkpointDir = ckpt, saltThreshold = salt),
          resume = o.flag("resume"))
      case other =>
        // PPAGERANK_ERR_ALG_UNKNOWN (ppagerank.h:28, ppagerank.cc:140-142)
        throw new IllegalArgumentException(s"unknown algorithm: $other")
    }
    // K1 convergence trace
    stats.trace.foreach(mm => println(f"${mm.iter}%4d  ${mm.residual}%10.3e"))
    println(s"alg=$alg alpha=$alpha: ${stats.iterations} iterations, " +
      s"residual=${stats.residual}, converged=${stats.reason.converged}")
    // K3 result sink (the reference parses -noout but never writes output;
    // we implement the write path)
    if (!o.flag("noout")) {
      val out = o.str("out").filter(_.nonEmpty).getOrElse("/tmp/graft-ranks")
      ranks.toDF().join(g.dict, "id").write.mode("overwrite").parquet(out)
      println(s"ranks written to $out")
    }
  }
}
