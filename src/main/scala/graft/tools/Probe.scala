package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftSqlInternals, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.{Bench, Main, Options, SparkEntry, TestdataGraph}
import graft.graph.{ArnoldiPageRank, InOutPageRank, IterativeKernel, LinkGraph, PageRank}
import graft.model.PageRankConfig
import graft.util.ShuffleWidth

/** The engine's one measuring tool. Every measured run prints one JSON line
  * (see [[Run]]), counted by a listener attached for that run only and read
  * after the listener bus is drained. All modes but `scale` run in one
  * session with Bench's settings (`Bench.session` at `SPARK_GRAFT_CPUS`)
  * over Bench's test data directory (`SPARK_GRAFT_SF_DIR`):
  *
  *   Probe solve [-m source] [Main's options] [-reps n]   (default 3 reps)
  *     `Main.runOne` per rep on `-m` (Main's loader) or the sf test graph;
  *     the last rep also samples the driver thread's stack every 2 ms and
  *     prints the samples by activity (optimizer, codegen-source, …).
  *   Probe query <names,…|all> [passes]                   (default 3 passes)
  *     after `SparkEntry.benchSetup`, Bench's pass structure over the
  *     bench-shaped queries (`benchOverrides`, else `queries`).
  *   Probe plan <outDir> <names,…>
  *     `explain formatted` to <outDir>/<name>.txt of queries or of one step
  *     of a solver, built by the solver's own builder: pagerank_step,
  *     inout_power_step, inout_inner_step, arnoldi_step.
  *   Probe scale <threads> [reps] [iters]                 (default 2, 12)
  *     Bench's fixed-work scaling sample, one fresh session per sample; the
  *     store (`GRAFT_BENCH_SCALE_NCONV`) is built only when absent.
  *
  * It replaces thirteen single-purpose mains:
  *   A34Probe n          → solve -alg inout -tol 1e-7 -noout -reps n (and -alg arnoldi)
  *   DriverSample a4|a3  → solve -alg arnoldi|inout -tol 1e-7 -noout -reps 2
  *   SolverProbe dir     → SPARK_GRAFT_SF_DIR=dir solve -alg inout -tol 1e-13 -maxiter 600 -noout
  *   IterProfile         → solve -m synth:N -tol 0 -maxiter 30 -noout
  *   PerfProbe N …       → solve -m synth:N -tol 0 -maxiter 8 -noout; plan <dir> pagerank_step
  *   QueryProbe q n      → query q n
  *   BlockProbe n [qs]   → query all|qs n
  *   ExplainDump d s qs  → plan d qs
  *   PlanDump            → plan <dir> arnoldi_step
  *   InOutStepDump       → plan <dir> inout_power_step,inout_inner_step
  *   ScaleProbe s t r i  → scale t r i
  * Removed with no replacement: I1Probe and D3Probe (their optimizations
  * landed; the pruned-vs-unpruned d3 differential is a PipelineSpec test and
  * the merge layer is timed per layer by perfbench's `--trace 1`), the i1
  * query's separate store-copy timing, the old probes' seven env-var
  * switches and their AQE / broadcast / width / codegen-cache arguments: set
  * a SQL conf Bench does not pin with `-Dspark.…` in GRAFT_JVM_EXTRA instead
  * (e.g. `-Dspark.sql.codegen.wholeStage=false`).
  */
object Probe {

  /** Counts of one measured run. `driverMs` is wall time outside every job
    * (wall minus the union of job intervals); `stageMs` is stage wall per
    * call site, largest first.
    */
  final case class Run(label: String, wallMs: Long, jobs: Long, stages: Long,
      tasks: Long, taskRunMs: Long, taskCpuMs: Long, gcMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, driverMs: Long,
      compiles: Long, compileMs: Long, stageMs: Seq[(String, Long)]) {
    def json: String = Seq(
      "label" -> quote(label), "wall_ms" -> wallMs, "jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuMs,
      "gc_ms" -> gcMs, "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes, "driver_ms" -> driverMs,
      "compiles" -> compiles, "compile_ms" -> compileMs,
      "stage_ms" -> obj(stageMs)).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")

  /** Job, stage and task counters of one run. */
  final class Counters extends SparkListener {
    val jobs, stages, tasks, runMs, cpuMs, gcMs, readBytes, writeBytes = new LongAdder
    val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]
    val stageMs = new ConcurrentHashMap[String, LongAdder]
    private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.increment(); jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t => jobSpans.add((t.longValue, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stages.increment(); tasks.add(si.numTasks)
      val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
      stageMs.computeIfAbsent(si.name.split(" at ").last, _ => new LongAdder).add(wall)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      runMs.add(m.executorRunTime); cpuMs.add(m.executorCpuTime / 1000000L)
      gcMs.add(m.jvmGCTime); readBytes.add(m.shuffleReadMetrics.totalBytesRead)
      writeBytes.add(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Length of the union of `spans`, clipped to [from, to]. */
  private[graft] def covered(spans: Seq[(Long, Long)], from: Long, to: Long): Long =
    spans.map { case (a, b) => (a max from, b min to) }.filter(s => s._1 < s._2)
      .sortBy(_._1).foldLeft((0L, from)) { case ((sum, end), (a, b)) =>
        if (b <= end) (sum, end) else (sum + b - (a max end), b)
      }._1

  /** Runs `body` under a fresh [[Counters]] and prints its [[Run]] line. The
    * bus is drained before the listener is attached and before it is read,
    * so no earlier event is counted and no event of this run is lost.
    */
  def measure[T](spark: SparkSession, label: String)(body: => T): (T, Run) = {
    val sc = spark.sparkContext
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME
    ListenerBusDrain(sc)
    val c = new Counters
    sc.addSparkListener(c)
    val (n0, ns0, t0) = (compile.getCount, CodeGenerator.compileTime, System.currentTimeMillis())
    val out = try body catch { case e: Throwable => sc.removeSparkListener(c); throw e }
    val t1 = System.currentTimeMillis()
    ListenerBusDrain(sc)
    sc.removeSparkListener(c)
    val wall = t1 - t0
    val run = Run(label, wall, c.jobs.sum, c.stages.sum, c.tasks.sum, c.runMs.sum,
      c.cpuMs.sum, c.gcMs.sum, c.readBytes.sum, c.writeBytes.sum,
      wall - covered(c.jobSpans.asScala.toSeq, t0, t1),
      compile.getCount - n0, (CodeGenerator.compileTime - ns0) / 1000000L,
      c.stageMs.asScala.toSeq.map { case (k, v) => (k, v.sum) }.sortBy(-_._2))
    println(run.json)
    (out, run)
  }

  /** Activity of a driver stack: the first recognizable subsystem frame. */
  private def activity(st: Array[StackTraceElement]): String = st.collectFirst {
    case f if f.getClassName.contains("optimizer") &&
      !f.getClassName.contains("RuleExecutor") && f.getMethodName == "apply" =>
      "rule:" + f.getClassName.split("\\.").last.split("\\$").head
    case f if f.getClassName.contains("janino") => "janino-compile"
    case f if f.getClassName.contains("CodeGenerator") ||
      f.getClassName.contains("doGenCode") ||
      f.getClassName.contains("WholeStageCodegen") => "codegen-source"
    case f if f.getClassName.contains("Optimizer") ||
      f.getClassName.contains("RuleExecutor") => "optimizer"
    case f if f.getClassName.contains("QueryPlanner") ||
      f.getClassName.contains("SparkStrateg") ||
      f.getClassName.contains("EnsureRequirements") => "physical-planning"
    case f if f.getClassName.contains("CheckAnalysis") ||
      f.getClassName.contains("Analyzer") => "analysis"
    case f if f.getMethodName == "awaitResult" || f.getMethodName == "runJob" => "await-job"
    case f if f.getClassName.contains("Dataset") ||
      f.getClassName.contains("QueryExecution") => "queryexec-other"
  }.getOrElse(st.headOption.map(f =>
    f.getClassName.split("\\.").last + "." + f.getMethodName).getOrElse("?"))

  /** Runs `body` while a daemon thread samples the calling thread's stack
    * every 2 ms; returns the sample counts by [[activity]], largest first.
    */
  private def sampleDriver[T](body: => T): (T, Seq[(String, Int)]) = {
    val driver = Thread.currentThread()
    val counts = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    @volatile var go = true
    val sampler = new Thread(() => while (go) {
      counts(activity(driver.getStackTrace)) += 1
      Thread.sleep(2)
    })
    sampler.setDaemon(true)
    sampler.start()
    val out = try body finally { go = false; sampler.join() }
    (out, counts.toSeq.sortBy(-_._2))
  }

  /** `Main.runOne` with options `o`, `-reps` times; the last rep is sampled. */
  def solve(spark: SparkSession, g: LinkGraph, o: Options): Seq[Run] = {
    val reps = o.int("reps", 3)
    val alg = o.str("alg").filter(_.nonEmpty).getOrElse("power")
    (1 to reps).map { r =>
      val label = s"solve $alg rep $r"
      if (r < reps) measure(spark, label)(Main.runOne(spark, g, o))._2
      else {
        val ((_, samples), run) = measure(spark, label)(sampleDriver(Main.runOne(spark, g, o)))
        println(s"""{"label":${quote(label)},"driver_samples":${obj(samples)}}""")
        run
      }
    }
  }

  private def benchQuery(spark: SparkSession, sfDir: String, name: String): DataFrame =
    SparkEntry.benchOverrides.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)

  /** Bench's query block: `passes` passes over `names`, each query counted. */
  def query(spark: SparkSession, sfDir: String, names: Seq[String], passes: Int): Seq[Run] = {
    SparkEntry.benchSetup(spark, sfDir)
    val qs = if (names == Seq("all")) SparkEntry.queries.keys.toSeq.sorted else names
    for (p <- 1 to passes; q <- qs)
      yield measure(spark, s"query $q pass $p")(benchQuery(spark, sfDir, q).count())._2
  }

  val stepNames: Seq[String] =
    Seq("pagerank_step", "inout_power_step", "inout_inner_step", "arnoldi_step")

  /** Writes the formatted physical plan of each named query or solver step
    * to `<outDir>/<name>.txt`; returns the files written.
    */
  def plan(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String]): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    def write(name: String, df: DataFrame): String = {
      val file = s"$outDir/$name.txt"
      Files.write(Paths.get(file), df.queryExecution.explainString(FormattedMode).getBytes(UTF_8))
      println(s"[probe] wrote $file")
      file
    }
    val (steps, queries) = names.partition(stepNames.contains)
    if (queries.nonEmpty) SparkEntry.benchSetup(spark, sfDir)
    val stepFiles = if (steps.isEmpty) Nil else {
      val g = TestdataGraph.linkGraph(spark, sfDir)
      ShuffleWidth.withWidth(spark, g.edges.rdd.getNumPartitions) {
        // every step reads one truncated (id, dang, v0) frame, as the
        // solvers' iterates are, with representative scalar values; v0 is
        // the name Arnoldi's step reads, the power steps take it as a parameter
        val prep = PageRank.prepare(g, PageRankConfig())
        val (alpha, v) = (0.85, lit(1.0 / g.numVertices))
        val carry = Seq(col("id"), col("dang"))
        val t0 = GraftSqlInternals.truncate(IterativeKernel.base(g).withColumn("v0", v))
        t0.handle.count()
        val frame = t0.df
        steps.map {
          case name @ "pagerank_step" => write(name, PageRank.powerStep(prep, frame, "v0",
            Seq(col("id")), alpha, 1 - alpha, v, packed = true).plan)
          case name @ "inout_power_step" =>
            write(name, PageRank.powerStep(prep, frame, "v0", carry, alpha, 1 - alpha, v).plan)
          case name @ "inout_inner_step" =>
            val st = frame.withColumn("y", col("v0"))
              .withColumn("f", lit(alpha / 2) * col("v0") + lit(1 - alpha) * v)
            write(name, InOutPageRank.innerStep(prep, st, carry, alpha, alpha / 2, 0.01, v).plan)
          case name @ "arnoldi_step" => write(name, ArnoldiPageRank.basisStep(prep, frame, 0, alpha,
            g.numVertices.toDouble, 0.0, v, sums = false).plan)
        }
      }
    }
    stepFiles ++ queries.map(q => write(q, benchQuery(spark, sfDir, q)))
  }

  /** Bench's fixed-work scaling sample at `threads`, `reps` times. Each
    * sample opens and stops its own session, as in Bench, because a
    * session's thread count is fixed when it is created.
    */
  def scale(threads: Int, reps: Int, iters: Int, cpus: Int): Unit = {
    val store = Bench.scaleStoreDir(Bench.scaleNConv)
    if (!new java.io.File(store, "_meta.txt").exists) Bench.buildScaleStore(Bench.scaleNConv, cpus)
    for (r <- 1 to reps) {
      val (_, edges, med, best) = Bench.scaleSample(threads, store, iters)
      println(s"""{"label":"scale $threads rep $r","edges":$edges,""" +
        f""""median_iter_s":$med%.4f,"best_iter_s":$best%.4f,""" +
        f""""edges_per_sec_best":${edges / best}%.0f}""")
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, cpus) = (Bench.sfDir, Bench.cpus)
    args.toList match {
      case "scale" :: t :: rest =>
        scale(t.toInt, rest.headOption.fold(2)(_.toInt), rest.lift(1).fold(12)(_.toInt), cpus)
      case mode :: rest if Set("solve", "query", "plan")(mode) =>
        val spark = Bench.session(cpus)
        try mode match {
          case "solve" =>
            val o = Options.parse(rest)
            val g = o.str("m").filter(_.nonEmpty).map(Main.loadGraph(spark, _, o))
              .getOrElse(TestdataGraph.linkGraph(spark, sfDir))
            solve(spark, g, o)
          case "query" =>
            query(spark, sfDir, rest.head.split(",").toSeq, rest.lift(1).fold(3)(_.toInt))
          case _ => plan(spark, sfDir, rest.head, rest(1).split(",").toSeq)
        } finally spark.stop()
      case _ =>
        sys.error("usage: Probe solve [options] | query <names|all> [passes] | " +
          "plan <outDir> <names> | scale <threads> [reps] [iters]")
    }
  }
}
