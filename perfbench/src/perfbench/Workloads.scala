package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph._
import graft.ingest.{EdgeStore, TranscriptGen}
import graft.model.{ConvergedReason, PageRankConfig, PageRankStats, Turn}
import graft.graph.InOutPageRank.InOutConfig
import graft.graph.ArnoldiPageRank.ArnoldiConfig

/** A layer call threw; it is already counted as failed. */
final class LayerFailure(msg: String, cause: Throwable) extends RuntimeException(msg, cause)

/** Attempted/failed bookkeeping of one run. Every layer call and every
  * correctness check is one attempted operation; a call that throws or a
  * check that does not hold is a failed one.
  */
final class Ops(val spans: Spans) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()

  def fail(what: String): Unit = { failed += 1; failures += what }

  def call[T](name: String)(body: => T): T = {
    attempted += 1
    try spans(name)(body)
    catch { case t: Throwable =>
      fail(s"$name threw $t")
      throw new LayerFailure(name, t)
    }
  }

  def check(name: String)(cond: => Boolean): Unit = {
    attempted += 1
    val ok = try cond catch { case t: Throwable => fail(s"check $name threw $t"); return }
    if (!ok) fail(s"check $name")
  }
}

/** One benchmark workload over the transcripts table of `conversations`
  * conversations made by TranscriptGen with its default seed. The table is
  * the same for every workload seed: how many iterations a solve takes to
  * reach a tolerance depends on the generated graph (22 to 37 power
  * iterations to 1e-6 across five generator seeds at 20k conversations), and
  * a benchmark whose work changes that much with its seed cannot resolve a
  * speed change. The workload seed chooses which conversations' links
  * arrive late in `Pipeline`; `Solvers` is the same for every seed.
  *
  * `prepare` builds the inputs, into a fresh directory, and is repeated to
  * measure set-up time; `reference` derives the fixtures once; `body` is one
  * run: the timed span `e2e` around the layer calls, then the untimed
  * correctness checks, then release of what the run built.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val conversations: Long,
    val tol: Double) {
  protected def powerCfg = PageRankConfig(tol = tol)
  var input: Path = _
  val descriptors = mutable.LinkedHashMap[String, Long]()

  def prepare(dir: Path): Unit
  def reference(): Unit
  def body(ops: Ops, dir: Path): Unit

  protected def path(name: String): String = input.resolve(name).toString

  protected def generate(): Dataset[Turn] = TranscriptGen.generate(spark, conversations)

  protected def release(g: LinkGraph): Unit = {
    Seq(g.edges.toDF(), g.rawEdges.toDF(), g.vertices, g.dict).foreach(_.unpersist(false))
  }

  protected def solveNotes(ops: Ops, name: String, st: PageRankStats): Unit =
    ops.spans.note(name, "iterations" -> st.iterations.toDouble)

  protected def powerNotes(ops: Ops, g: LinkGraph, st: PageRankStats): Unit = {
    val walls = st.trace.map(_.wall_ms.toDouble).sorted
    ops.spans.note("PageRank.run", "iterations" -> st.iterations.toDouble,
      "edges" -> g.numEdges.toDouble,
      "iter_ms_median" -> (if (walls.isEmpty) 0.0 else
        (walls((walls.size - 1) / 2) + walls(walls.size / 2)) / 2),
      "first_iter_ms" -> st.trace.headOption.map(_.wall_ms.toDouble).getOrElse(0.0))
  }

  protected def checkConverged(ops: Ops, what: String, st: PageRankStats): Unit =
    ops.check(s"$what converged")(st.reason == ConvergedReason.ResidualBelowTol)

  /** Σrank within 1e-9 of 1 and one rank row per vertex. */
  protected def checkRanks(ops: Ops, what: String, ranks: DataFrame, n: Long): Unit = {
    val row = ranks.agg(count(lit(1)), sum(col("rank"))).head()
    ops.check(s"$what rank count ${row.getLong(0)} = vertices $n")(row.getLong(0) == n)
    ops.check(s"$what rank sum ${row.getDouble(1)} = 1")(math.abs(row.getDouble(1) - 1.0) <= 1e-9)
  }
}

/** The cold pipeline with the incremental store step: the transcripts
  * table without the links of 2% of the conversations → link derivation →
  * EdgeStore write → merge of the late links as a raw-edge delta →
  * EdgeStore read → power solve → ranks written.
  */
final class Pipeline(s: SparkSession, seed: Long, n: Long, tol: Double)
    extends Workload(s, seed, n, tol) {
  private val lateConv = pmod(xxhash64(col("conv_id"), lit(seed)), lit(50L)) === 0

  private def turns(): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(path("transcripts")).as[Turn]
  }

  /** Writes the transcripts table without the late conversations' links. */
  def prepare(dir: Path): Unit = {
    input = dir
    val link = coalesce(col("tool"), lit("")).rlike("^(invoke|reply):")
    generate().where(!(link && lateConv)).write.parquet(path("transcripts"))
    descriptors("turns") = turns().count()
  }

  /** The late conversations' links as raw edges (link suppression never
    * crosses conversations, so these are exactly the full graph's edges out
    * of them), and the full graph's normalized edges, which the merged store
    * must reproduce.
    */
  def reference(): Unit = {
    val full = GraphOps.fromTranscripts(generate(), denseIds = false)
    full.rawEdges.join(full.dict.where(lateConv).select(col("id").as("src")), Seq("src"), "left_semi")
      .write.parquet(path("delta"))
    full.edges.write.parquet(path("full_norm"))
    descriptors("vertices") = full.numVertices
    descriptors("edges") = full.numEdges
    descriptors("delta_edges") = spark.read.parquet(path("delta")).count()
    release(full)
  }

  def body(ops: Ops, dir: Path): Unit = {
    val store = dir.resolve("store").toString
    val t = turns()
    val delta = spark.read.parquet(path("delta"))
    val ranksOut = dir.resolve("ranks")
    var base, g: LinkGraph = null
    val (st, merge) = ops.spans("e2e") {
      base = ops.call("GraphOps.fromTranscripts")(GraphOps.fromTranscripts(t, denseIds = false))
      ops.call("EdgeStore.write")(EdgeStore.write(base, store))
      val m = ops.call("EdgeStore.mergeDelta")(EdgeStore.mergeDelta(spark, store, delta))
      g = ops.call("EdgeStore.read")(EdgeStore.read(spark, store))
      val (ranks, st) = ops.call("PageRank.run")(PageRank.run(g, powerCfg))
      ops.call("ranks.write") {
        ranks.toDF().join(g.dict, "id").write.parquet(ranksOut.toString)
      }
      (st, m)
    }
    ops.spans.note("EdgeStore.mergeDelta",
      "buckets_rewritten" -> merge.affectedBuckets.toDouble,
      "touched_srcs" -> merge.touchedSrcs.toDouble)
    powerNotes(ops, g, st)
    checkConverged(ops, "power", st)
    checkRanks(ops, "power", spark.read.parquet(ranksOut.toString), g.numVertices)
    ops.check("merged store = full graph's normalized edges to 1e-12") {
      val merged = EdgeStore.scanNorm(spark, store).withColumnRenamed("weight", "wm")
      val full = spark.read.parquet(path("full_norm")).withColumnRenamed("weight", "wf")
      merged.join(full, Seq("src", "dst"), "full_outer")
        .where(col("wm").isNull || col("wf").isNull || abs(col("wm") - col("wf")) > 1e-12)
        .isEmpty
    }
    release(base)
    release(g)
  }
}

/** Every solver on a small graph, where each iteration's fixed cost
  * (planning, codegen, scheduling) outweighs its per-edge work. The graph
  * is derived in set-up and shared by the runs.
  */
final class Solvers(s: SparkSession, seed: Long, n: Long, tol: Double)
    extends Workload(s, seed, n, tol) {
  private var g: LinkGraph = _
  private var seeds: Seq[Long] = Nil
  private var triangles = -1L

  private def l1(a: DataFrame, b: DataFrame): Double =
    a.select(col("id"), col("rank").as("ra"))
      .join(b.select(col("id"), col("rank").as("rb")), Seq("id"), "full_outer")
      .agg(sum(abs(coalesce(col("ra"), lit(0.0)) - coalesce(col("rb"), lit(0.0)))))
      .head().getDouble(0)

  def prepare(dir: Path): Unit = {
    if (g != null) release(g)
    g = GraphOps.fromTranscripts(generate(), denseIds = false)
  }

  def reference(): Unit = {
    descriptors("turns") = (0L until conversations)
      .map(TranscriptGen.numTurns(TranscriptGen.DefaultSeed, _).toLong).sum
    descriptors("vertices") = g.numVertices
    descriptors("edges") = g.numEdges
    // hashed ids are xxhash64(conv_id); PPR seeds are the first five conversations
    seeds = spark.range(5).select(xxhash64(concat(lit("c"), col("id").cast("string"))))
      .collect().map(_.getLong(0)).toSeq
  }

  def body(ops: Ops, dir: Path): Unit = {
    val cfg = powerCfg
    val (power, inout, arnoldi, ppr, cc, tri) = ops.spans("e2e") {
      val power = ops.call("PageRank.run")(PageRank.run(g, cfg))
      val inout = ops.call("InOutPageRank.run")(
        InOutPageRank.run(g, InOutConfig(tol = tol)))
      val arnoldi = ops.call("ArnoldiPageRank.run")(
        ArnoldiPageRank.run(g, ArnoldiConfig(tol = tol)))
      val (_, ppr) = ops.call("PageRank.runMultiSeed")(PageRank.runMultiSeed(g, seeds, cfg))
      val cc = ops.call("ConnectedComponents.run")(
        ConnectedComponents.run(g.edges, g.vertices))
      val (_, rounds) = ops.call("LabelPropagation.run")(
        LabelPropagation.runWithStats(g.edges, g.vertices, rounds = 5))
      ops.spans.note("LabelPropagation.run", "iterations" -> rounds.toDouble)
      val tri = ops.call("Triangles.count")(Triangles.count(g.edges))
      (power, inout, arnoldi, ppr, cc, tri)
    }
    powerNotes(ops, g, power._2)
    solveNotes(ops, "InOutPageRank.run", inout._2)
    solveNotes(ops, "ArnoldiPageRank.run", arnoldi._2)
    solveNotes(ops, "PageRank.runMultiSeed", ppr)
    for ((what, (ranks, st)) <- Seq("power" -> power, "inout" -> inout, "arnoldi" -> arnoldi)) {
      checkConverged(ops, what, st)
      checkRanks(ops, what, ranks.toDF(), g.numVertices)
    }
    checkConverged(ops, "ppr", ppr)
    ops.check("inout within L1 10 tol of power")(l1(inout._1.toDF(), power._1.toDF()) <= 10 * tol)
    ops.check("arnoldi within L1 10 tol of power")(
      l1(arnoldi._1.toDF(), power._1.toDF()) <= 10 * tol)
    ops.check("every edge's endpoints share a component label") {
      val lab = cc.select(col("id"), col("component"))
      g.edges.toDF().join(lab.withColumnRenamed("id", "src").withColumnRenamed("component", "cs"), "src")
        .join(lab.withColumnRenamed("id", "dst").withColumnRenamed("component", "cd"), "dst")
        .where(col("cs") =!= col("cd")).isEmpty
    }
    ops.check("triangle count repeats across runs")(triangles < 0 || tri == triangles)
    triangles = tri
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, n: Long, tol: Double): Workload =
    name match {
      case "pipeline" => new Pipeline(spark, seed, n, tol)
      case "solvers" => new Solvers(spark, seed, n, tol)
      case other => throw new IllegalArgumentException(s"unknown workload kind: $other")
    }
}
