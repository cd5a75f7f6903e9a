package graft.graph

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSqlInternals, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.TableIO
import graft.model._

/** The loop machinery every iterative solver shares — the counterpart of the
  * PETSc setup/monitor/converged-reason code under the reference's power,
  * inner-outer and Arnoldi loops (ppagerank.cc:278-677) and of its sketched
  * solver object (pagacprvs.h). A solver keeps its step columns, scalar
  * recurrences and resume validation; the kernel owns the shuffle-width
  * scope, the iterate's lifetime (one materializing job per `step`, with
  * the scalars folded in as `observe` accumulators), the snapshot protocol,
  * the iteration/trace/stop-reason bookkeeping and the dangling indicator.
  */
object IterativeKernel {

  /** Where and how often a solve snapshots its iterate. `state` adds solver
    * state columns to the committed frame only; `committed` runs after each
    * commit with the run's snapshot directory.
    */
  final case class Snapshots(
      dir: Option[String] = None,
      every: Int = 0,
      prefix: String = "iter_",
      state: DataFrame => DataFrame = identity,
      committed: String => Unit = _ => ())

  /** One materializing job: `df` observed for `aggs`, then projected to
    * `keep` (all of `df`'s columns when empty).
    */
  final case class Step(df: DataFrame, aggs: Seq[Column], keep: Seq[Column] = Nil) {
    def plan: DataFrame = {
      val observed = df.observe("step", aggs.head, aggs.tail: _*)
      if (keep.isEmpty) observed else observed.select(keep: _*)
    }
  }

  /** Runs `body` on a fresh loop inside the shuffle-width scope of `edges`;
    * the loop runs while fewer than `maxIter` iterations are done and the
    * last residual is ≥ `tol`.
    */
  def apply[T](edges: Dataset[Edge], runId: String, maxIter: Int, tol: Double,
      snapshots: Snapshots = Snapshots())(body: Loop => T): T = {
    val spark = edges.sparkSession
    graft.util.ShuffleWidth.withWidth(spark, edges.rdd.getNumPartitions) {
      body(new Loop(spark, runId, maxIter, tol, snapshots))
    }
  }

  /** `apply` for a rank solver, which is undefined on an empty vertex domain. */
  def ranks[T](g: LinkGraph, runId: String, maxIter: Int, tol: Double,
      snapshots: Snapshots)(body: Loop => T): T = {
    require(g.numVertices > 0, "empty vertex domain")
    apply(g.edges, runId, maxIter, tol, snapshots)(body)
  }

  /** `frame` plus the static dangling indicator dang = 1 iff the vertex has
    * no out-edges (ppagerank.cc:244) — a lazy join.
    */
  def withDangling(g: LinkGraph, frame: DataFrame): DataFrame = {
    val srcs = g.edges.select(col("src").as("id")).distinct().withColumn("nd", lit(1))
    frame.join(srcs, Seq("id"), "left")
      .withColumn("dang", when(col("nd").isNull, 1.0).otherwise(0.0))
      .drop("nd")
  }

  /** (id, dang) over the vertex domain, plus v (0 where unlisted) when a
    * personalization (id, v) is given.
    */
  def base(g: LinkGraph, personalization: Option[DataFrame] = None): DataFrame = {
    val b = withDangling(g, g.vertices)
    personalization match {
      case Some(p) => b.join(p.select(col("id"), col("v").cast("double")), Seq("id"), "left")
        .select(col("id"), col("dang"), coalesce(col("v"), lit(0.0)).as("v"))
      case None => b
    }
  }

  /** Global scalars of `df` in a dedicated job; a sum over no rows is 0. */
  def measure(df: DataFrame, aggs: Column*): Array[Double] =
    doubles(df.agg(aggs.head, aggs.tail: _*).head())

  private def doubles(row: org.apache.spark.sql.Row): Array[Double] =
    Array.tabulate(row.length)(i => row.get(i) match {
      case null => 0.0
      case x: Number => x.doubleValue
    })

  final class Loop private[IterativeKernel] (spark: SparkSession, runId: String,
      maxIter: Int, tol: Double, snapshots: Snapshots) {

    /** The current iterate; a solver may replace it with a lazy projection. */
    var frame: DataFrame = _
    private var live: Option[RDD[_]] = None
    private var iter = 0
    private var delta = Double.MaxValue
    private var reason: ConvergedReason = ConvergedReason.MaxIterations
    private val trace = ArrayBuffer[IterMetric]()
    private var flushed = 0

    def iterations: Int = iter
    /** Residual of the last finished iteration (MaxValue before the first). */
    def residual: Double = delta
    def stats: PageRankStats = PageRankStats(iter, delta, reason, trace.toSeq)

    /** The latest snapshot whose lineage validates, passed through
      * `validate(snapshot, runDir)`; iteration numbering continues from it.
      */
    def resume(enabled: Boolean)(
        validate: (DataFrame, String) => DataFrame = (snap, _) => snap): Option[DataFrame] =
      if (!enabled) None
      else snapshots.dir.flatMap { dir =>
        val runDir = s"$dir/$runId"
        TableIO.latestValidSnapshot(spark, runDir, snapshots.prefix).map { case (k, snap) =>
          val valid = validate(snap, runDir)
          iter = k
          valid
        }
      }

    /** Starts from `df`, lineage-truncated and cached by its first reader. */
    def start(df: DataFrame): Unit = {
      val t = GraftSqlInternals.truncate(df)
      live = Some(t.handle)
      frame = t.df
    }

    /** Runs `s` as the next iterate's one job and returns its observed
      * scalars (a sum over no rows is 0). The previous iterate is released
      * only now, once its successor no longer needs it.
      */
    def step(s: Step): Array[Double] = {
      val (t, observed) = GraftSqlInternals.truncateObserved(s.plan)
      live.foreach(_.unpersist(false))
      live = Some(t.handle)
      frame = t.df
      doubles(observed("step"))
    }

    /** Runs `iteration`, which returns (residual, rank sum), to the stop. */
    def loop(iteration: => (Double, Double)): Unit =
      while (iter < maxIter && delta >= tol) {
        val t0 = System.nanoTime()
        val (d, rankSum) = iteration
        delta = d
        iter += 1
        trace += IterMetric(runId, iter, delta, rankSum, (System.nanoTime() - t0) / 1000000L)
        val converged = delta < tol
        if (converged || (snapshots.dir.isDefined && iter % snapshots.every == 0)) commit()
        if (converged) reason = ConvergedReason.ResidualBelowTol
      }

    /** Snapshot + lineage sidecar, then the unflushed trace to `_metrics`. */
    private def commit(): Unit = snapshots.dir.foreach { dir =>
      import spark.implicits._
      val runDir = s"$dir/$runId"
      val withState = snapshots.state(frame)
      val committed = TableIO.commitSnapshotWithLineage(
        withState, runDir, runId, snapshots.prefix, iter)
      frame = if (withState eq frame) committed
        else committed.select(frame.columns.map(col).toSeq: _*)
      snapshots.committed(runDir)
      val fresh = trace.toSeq.drop(flushed)
      if (fresh.nonEmpty) TableIO.appendRows(fresh.toDF(), s"$runDir/_metrics")
      flushed = trace.size
    }
  }
}
