package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSqlInternals}
import org.apache.spark.sql.functions._

import graft.model._

/** Inner-outer PageRank (Gleich/Gray/Greif/Lau) — a faithful Spark rebuild of
  * the reference's `ComputePageRank_AlgInOut`
  * (/root/reference/ppagerank.cc:341-501).
  *
  * Outer system: (I − βPᵀ)x = (α−β)Pᵀx + (1−α)v, solved by inner Richardson
  * sweeps x ← βy + f with the dangling-corrected operator
  * y = Bx = Pᵀx + (dᵀx)v (PageRankDanglingMult, ppagerank.cc:738-778; we use
  * its implicit form dᵀx = eᵀx − eᵀPᵀx, ppagerank.cc:754-767). Once an inner
  * solve converges in 0 steps the algorithm degrades to plain power
  * iterations (ppagerank.cc:438-444), exactly as the reference does.
  *
  * Defaults mirror the reference: β = α/2 (ppagerank.cc:347-348),
  * η = 1e-2 (350-351), max inner 1000 (353-355).
  *
  * Scalar bookkeeping: B is column-stochastic, so eᵀ(Bx) = eᵀx; the sums of
  * x and f are tracked analytically instead of with extra reductions. The
  * frame carries the static dangling indicator, so dᵀx of each sweep step is
  * known analytically BEFORE the step's job (dᵀx = β·dᵀy + dᵀf, seeded by
  * the init job's observes) — each inner sweep step is ONE materializing job
  * whose observe carries the inner and outer residuals, the same
  * single-action kernel as a power step.
  */
object InOutPageRank {

  final case class InOutConfig(
      alpha: Double = 0.85,
      beta: Option[Double] = None, // default α/2
      eta: Double = 1e-2,
      maxInnerIter: Int = 1000,
      tol: Double = 1e-7,
      maxIter: Int = 10000,
      saltThreshold: Int = 0,
      saltBuckets: Int = 8,
      /** North-rule resumability, at parity with PageRankConfig: every
        * `checkpointEvery` OUTER iterations the solver state — the iterate
        * frame plus the inner/power mode flag — is snapshotted with
        * per-partition lineage; `run(resume = true)` restarts from the
        * latest snapshot whose lineage digest validates.
        */
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 10)

  /** One inner Richardson sweep step x ← βy + f; y ← Bx;
    * δ_in = ‖f + βy_new − x‖₁ (ppagerank.cc:423-435) as ONE job over the
    * sweep frame `st` (carry, f, x, y). dᵀx = β·dᵀy + dᵀf is known BEFORE
    * the job (d is static, f fixed across the sweep — the same scalar as the
    * measured sx − eᵀPᵀx form in exact arithmetic), so
    * y_new = Pᵀx + (dᵀx)v is an in-job column and the inner residual, the
    * outer residual δ = ‖x − αy − (1−α)v‖₁ (ppagerank.cc:456-465) and the
    * next step's dᵀ(Pᵀx) all ride the observe.
    */
  private[graft] def innerStep(prep: PageRank.Prepared, st: DataFrame, carry: Seq[Column],
      alpha: Double, beta: Double, dtx: Double, v: Column): IterativeKernel.Step = {
    val withX = st.withColumn("x", lit(beta) * col("y") + col("f")).drop("y")
    val yraw = PageRank.spmv(prep, withX.select(col("id"), col("x").as("rank")))
    IterativeKernel.Step(
      withX.join(yraw.hint("shuffle_hash"), Seq("id"), "left")
        .withColumn("yc", coalesce(col("y"), lit(0.0)))
        .withColumn("yn", col("yc") + GraftSqlInternals.stableLit(dtx) * v),
      Seq(sum(col("dang") * col("yc")).as("dyraw"),
        sum(abs(col("f") + lit(beta) * col("yn") - col("x"))).as("din"),
        sum(abs(col("x") - lit(alpha) * col("yn") - lit(1 - alpha) * v)).as("dout")),
      carry ++ Seq(col("f"), col("x"), col("yn").as("y")))
  }

  def run(g: LinkGraph, cfg: InOutConfig = InOutConfig(),
      runId: String = "inout",
      personalization: Option[DataFrame] = None,
      resume: Boolean = false): (Dataset[VertexRank], PageRankStats) = {
    // Snapshot state: the iterate frame plus `im`, the inner/power mode flag
    // — the only non-recomputable scalar state (eᵀx and eᵀv are re-measured
    // from the frame below).
    var innerMode = true
    val snapshots = IterativeKernel.Snapshots(cfg.checkpointDir, cfg.checkpointEvery,
      state = _.withColumn("im", lit(innerMode)))
    IterativeKernel.ranks(g, runId, cfg.maxIter, cfg.tol, snapshots) { it =>
    val spark = g.edges.sparkSession
    import spark.implicits._
    val alpha = cfg.alpha
    val beta = cfg.beta.getOrElse(alpha / 2)
    // personalization v (ppagerank.cc:91-104): carried as a column; the
    // analytic eᵀ bookkeeping generalizes with sv = eᵀv (1 for uniform)
    val hasV = personalization.isDefined
    val vCol = if (hasV) col("v") else lit(1.0 / g.numVertices)
    // the frame carries the static dangling indicator through the whole
    // solve: the inner sweep's analytic dᵀx recurrence and the power step's
    // observe both read it
    val carry = Seq(col("id"), col("dang")) ++ (if (hasV) Seq(col("v")) else Nil)
    val prep = PageRank.prepare(g,
      PageRankConfig(saltThreshold = cfg.saltThreshold, saltBuckets = cfg.saltBuckets))

    val resumed = it.resume(resume) { (snap, _) =>
      innerMode = snap.select(col("im")).head().getBoolean(0)
      val st = snap.drop("im")
      // snapshots older than the dang-carrying inner sweep lack the column
      if (st.columns.contains("dang")) st else IterativeKernel.withDangling(g, st)
    }
    // x₀ = v (ppagerank.cc:366-371); y₀ = Bx₀
    it.frame = resumed.getOrElse(IterativeKernel.base(g, personalization)
      .withColumn("x", vCol))
    val sv = if (hasV) IterativeKernel.measure(it.frame, sum(col("v")))(0) else 1.0
    var sx = if (resumed.isDefined) IterativeKernel.measure(it.frame, sum(col("x")))(0) else sv
    // dᵀv (static) and dᵀy of the frame's y column — the seeds of the inner
    // sweep's analytic dᵀx recurrence (dᵀx = β·dᵀy + dᵀf)
    var dv = 0.0
    var dy = 0.0
    if (resumed.isEmpty || innerMode && !it.frame.columns.contains("y")) {
      // init y₀ = Bx₀ = Pᵀx₀ + (dᵀx₀)v with dᵀx₀ = sx − eᵀPᵀx₀
      // (ppagerank.cc:366-377, implicit form 754-767) — ONE job whose
      // observe also measures dᵀv and dᵀ(Pᵀx₀) for the recurrence seeds
      val yraw = PageRank.spmv(prep, it.frame.select(col("id"), col("x").as("rank")))
      val r = it.step(IterativeKernel.Step(
        it.frame.join(yraw, Seq("id"), "left")
          .withColumn("yraw", coalesce(col("y"), lit(0.0))).drop("y"),
        Seq(sum(col("yraw")), sum(col("dang") * col("yraw")), sum(col("dang") * vCol))))
      val dtx0 = sx - r(0)
      dv = r(2)
      dy = r(1) + dtx0 * dv
      it.frame = it.frame
        .withColumn("y", col("yraw") + GraftSqlInternals.stableLit(dtx0) * vCol)
        .drop("yraw") // (id, dang, [v,] x, y)
    } else if (innerMode) {
      // resumed mid-inner-mode snapshot (carries y): re-measure the seeds
      val r = IterativeKernel.measure(it.frame, sum(col("dang") * col("y")),
        sum(col("dang") * vCol))
      dy = r(0)
      dv = r(1)
    }

    // Power-mode scalar state: dᵀx and eᵀx of the CURRENT frame, measured by
    // the job that materialized it. `powerReady` marks that they are
    // current; the transition job below establishes them.
    var dtxP = 0.0
    var sxP = 0.0
    var powerReady = false

    it.loop {
      if (!innerMode) {
        // plain power step (ppagerank.cc:385-409) — PageRank.run's kernel,
        // with ω from the PREVIOUS step's scalars via ω = 1 − α(eᵀx − dᵀx)
        // (identical to 1 − ‖αPᵀx‖₁ in exact arithmetic — P is
        // row-stochastic, so eᵀPᵀx = eᵀx − dᵀx)
        if (!powerReady) {
          // transition into the power kernel: measure dᵀx, eᵀx — ONE job
          val r = it.step(IterativeKernel.Step(it.frame.select(carry :+ col("x"): _*),
            Seq(sum(col("dang") * col("x")), sum(col("x")))))
          dtxP = r(0)
          sxP = r(1)
          powerReady = true
        }
        val r = it.step(PageRank.powerStep(prep, it.frame, "x", carry, alpha,
          1.0 - alpha * (sxP - dtxP), vCol))
        dtxP = r(1)
        sxP = r(2)
        sx = sxP
        (r(0), sx)
      } else {
        // f = (α−β)y + (1−α)v (ppagerank.cc:412-421); f is FIXED across the
        // sweep, so dᵀf is one scalar computed from the recurrence seeds
        it.frame = it.frame.withColumn("f",
          lit(alpha - beta) * col("y") + lit(1 - alpha) * vCol)
        // sums: eᵀy = eᵀx (B column-stochastic); eᵀf
        var sy = sx
        val sf = (alpha - beta) * sy + (1 - alpha) * sv
        val dfD = (alpha - beta) * dy + (1 - alpha) * dv
        var innerIter = 0
        var exitedAtZero = false
        var continue = true
        var lastOdiff = Double.MaxValue
        while (continue && innerIter < cfg.maxInnerIter) {
          val dtxK = beta * dy + dfD
          val sxInner = beta * sy + sf
          val r = it.step(innerStep(prep, it.frame, carry, alpha, beta, dtxK, vCol))
          dy = r(0) + dtxK * dv // dᵀy_new = dᵀ(Pᵀx) + (dᵀx)(dᵀv)
          lastOdiff = r(2)
          sy = sxInner // eᵀ(Bx) = eᵀx
          sx = sxInner
          innerIter += 1
          if (r(1) < cfg.eta) {
            if (innerIter == 1) { innerMode = false; exitedAtZero = true }
            continue = false
          }
        }
        if (exitedAtZero) {
          // x ← αy + (1−α)v (ppagerank.cc:467-477) before switching to power
          // (lazy projection over the cached sweep frame; the power
          // transition job materializes it)
          it.frame = it.frame.select(carry :+
            (lit(alpha) * col("y") + lit(1 - alpha) * vCol).as("x"): _*)
          sx = alpha * sy + (1 - alpha) * sv
          powerReady = false
        }
        (lastOdiff, sx)
      }
    }

    prep.close()
    // In inner mode the current iterate satisfies x with y = Bx; the rank
    // vector the solver returns is x (same convention as the reference,
    // which leaves the iterate in p).
    (it.frame.select(col("id"), col("x").as("rank")).as[VertexRank], it.stats)
    }
  }
}
