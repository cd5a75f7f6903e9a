package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark process: builds a workload's inputs, then runs the
  * workload repeatedly for the measurement window and writes every
  * run's spans (and, for traced runs, the scheduler events) to a JSON file.
  *
  * {{{
  * perfbench.Main --workload pipeline|solvers --conversations N --tol X
  *   --seed S --seconds T --trace 0|1 --cores C
  *   --work <scratch dir> --out <result.json>
  * }}}
  *
  * With `--trace 1` every run is traced: it has a SparkListener registered
  * for its duration. Traced and untraced processes run the same sequence,
  * so a traced run's `e2e` minus an untraced run's is the tracing overhead.
  */
object Main {

  /** Times the input build is repeated; set-up time counts its median. */
  val SetupReps = 3

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally all.close()
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the session settings of graft.Bench, at this machine's width
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val traceMode = a("trace") == "1"
    val windowS = a("seconds").toDouble
    Files.createDirectories(work)

    val spark = session(a("cores").toInt, work)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val w = Workload(a("workload"), spark, a("seed").toLong, a("conversations").toLong,
      a("tol").toDouble)
    val runs = mutable.ArrayBuffer[Map[String, Any]]()
    val sc = spark.sparkContext

    /** One run in a fresh directory, removed afterwards. Cached RDDs the
      * run leaves behind after releasing what it built are counted, then
      * freed so that runs stay independent.
      */
    def oneRun(tag: String, traced: Boolean): Double = {
      val dir = work.resolve(tag)
      Files.createDirectories(dir)
      val before = sc.getPersistentRDDs.keySet
      val spans = new Spans(spark)
      val ops = new Ops(spans)
      val log = new EventLog
      if (traced) sc.addSparkListener(log)
      val t0 = System.nanoTime()
      try w.body(ops, dir)
      catch {
        case _: LayerFailure =>
        case t: Throwable => ops.attempted += 1; ops.fail(s"run threw $t")
      } finally if (traced) { PerfbenchBus.drain(sc); sc.removeSparkListener(log) }
      val leaked = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      leaked.values.foreach(_.unpersist(false))
      deleteTree(dir)
      runs += Map(
        "tag" -> tag, "traced" -> traced,
        "attempted" -> ops.attempted, "failed" -> ops.failed,
        "failures" -> ops.failures.toSeq,
        "cache_peak_bytes" -> spans.cachePeakBytes,
        "leaked_rdds" -> leaked.size,
        "spans" -> spans.done.sortBy(_.id).map(s => Map(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_ms" -> s.wallMs,
          "extra" -> s.extra)).toSeq,
        "events" -> (if (traced) log.toJson else Map.empty))
      seconds(t0)
    }

    val prepS = (0 until SetupReps).map { _ =>
      val dir = work.resolve("input")
      deleteTree(dir)
      val t0 = System.nanoTime()
      w.prepare(dir)
      seconds(t0)
    }
    val t1 = System.nanoTime()
    w.reference()
    val referenceS = seconds(t1)

    val t0 = System.nanoTime()
    val took = mutable.ArrayBuffer[Double]()
    def more = took.isEmpty || seconds(t0) + took.sorted.apply(took.size / 2) <= windowS
    while (more) took += oneRun(s"run${took.size}", traced = traceMode)
    val windowUsed = seconds(t0)

    val result = Map(
      "workload" -> a("workload"), "seed" -> a("seed").toLong,
      "conversations" -> w.conversations, "cores" -> a("cores").toInt,
      "inputs" -> w.descriptors,
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepS,
        "reference_s" -> referenceS),
      "window_s" -> windowUsed,
      "runs" -> runs.toSeq)
    Files.writeString(Paths.get(a("out")), Json(result))
    spark.stop()
  }
}
