package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSqlInternals}
import org.apache.spark.sql.functions._

import graft.model._
import graft.util.SmallSvd

/** Restarted Arnoldi PageRank — Spark rebuild of the reference's
  * `ComputePageRank_AlgArnoldi` (/root/reference/ppagerank.cc:505-677).
  *
  * Per restart: build a k-step Arnoldi factorization M·Vₖ = Vₖ₊₁·H of the
  * FULL PageRank operator M x = αPᵀx + (α·dᵀx + (1−α)·eᵀx)·v
  * (PageRankMult, ppagerank.cc:692-718), subtract the identity from H
  * (ppagerank.cc:591-594), take the right singular vector of the smallest
  * singular value of H (gesvd at 596-643 — here a driver-side Jacobi SVD,
  * SmallSvd), and restart from x = V·v_min (645-647). Convergence:
  * ‖Mx − x‖₁ / ‖x‖₁ < tol (649-657).
  *
  * Spark shape: the k basis vectors live as k columns of ONE id-aligned
  * frame (never k separate shuffles); each Arnoldi step is one SpMV job plus
  * two batched-dot-products jobs (VecMTDot ≙ a single multi-sum aggregate).
  * The second dot pass is CGS2 re-orthogonalization ("twice is enough") —
  * the reference's single-pass classical Gram-Schmidt (VecMTDot + VecMAXPY,
  * ppagerank.cc:573-587) loses orthogonality near convergence and floors
  * the residual around 1e-10; the repeat pass pushes the attainable floor
  * to ~1e-13. It also lets ‖g‖ and the eᵀ/dᵀ sums of each new basis vector
  * be MEASURED in the same aggregate instead of propagated analytically
  * (cancellation-free where the analytic recursions drift).
  *
  * Deviation from the reference: the reference leaves the final iterate
  * ‖·‖₂-normalized with arbitrary sign (its output sink is unimplemented,
  * ppagerank_main.cc:426-471); we sign-fix and L1-normalize the returned
  * ranks so they form a probability vector like the other solvers.
  */
object ArnoldiPageRank {

  final case class ArnoldiConfig(
      alpha: Double = 0.85,
      tol: Double = 1e-7,
      k: Int = 8, // hardcoded 8 in the reference (ppagerank.cc:509)
      maxRestarts: Int = 1250,
      saltThreshold: Int = 0,
      saltBuckets: Int = 8,
      /** Re-orthogonalization (CGS2). None = auto: start with
        * single-reduction classical Gram-Schmidt for tol ≥ 1e-9 (one
        * observe job per Arnoldi step — β, eᵀ, dᵀ of the new basis vector
        * derived analytically via ‖g‖² = ‖w‖² − Σh²), ESCALATING to
        * measured CGS2 (two jobs per step, residual floor ~1e-13) if the
        * restart residual stagnates: the analytic β cancels catastrophically
        * once β/‖w‖ nears √ε, and where that floor lands depends on α and
        * the spectrum (measured: fine at α=0.85/tol 1e-7, stalls at 1.8e-7
        * for α=0.95), so it cannot be predicted from tol alone.
        * Some(true/false) pins the mode and disables the auto-escalation.
        * The reference is single-pass CGS + a norm reduction
        * (ppagerank.cc:573-587) — the fast path here is one reduction
        * CHEAPER than that, the deep path one more accurate.
        */
      reorthog: Option[Boolean] = None,
      /** North-rule resumability: the restart vector x IS the whole solver
        * state (the V basis is rebuilt from it each restart), so a snapshot
        * per `checkpointEvery` restarts — with per-partition lineage — lets
        * `run(resume = true)` continue from the last validated restart; the
        * scalar sums are re-measured from the snapshot.
        */
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5)

  /** One Arnoldi step job: w = M v_j for the full operator
    * M x = αPᵀx + (α·dᵀx + (1−α)·eᵀx)·v (PageRankMult, ppagerank.cc:692-718),
    * given eᵀv_j and dᵀv_j, with the batched VecMTDot H(i,j) = vᵢᵀw for
    * i ≤ j (ppagerank.cc:573) and ‖w‖² observed on the materializing tasks —
    * plus eᵀw and dᵀw when `sums` (the single-pass path, which derives the
    * new basis vector's sums analytically).
    */
  private[graft] def basisStep(prep: PageRank.Prepared, frame: DataFrame, j: Int,
      alpha: Double, ev: Double, dv: Double, v: Column,
      sums: Boolean): IterativeKernel.Step = {
    val yraw = PageRank.spmv(prep,
      frame.select(col("id"), col(s"v$j").as("rank"))).withColumnRenamed("y", "yraw")
    // teleport (and every other measured scalar below) travels through
    // the codegen REFERENCES array (stableLit), never an inline literal:
    // parallel-sum reduction order perturbs these doubles in the last ulp
    // between runs, so a `lit` would change the generated source every
    // run and force a full Janino recompile of every Arnoldi-step stage
    // (~95 classes per solve — measured as the dominant, environment-
    // sensitive cost of this solver before the fix)
    val teleport = alpha * dv + (1 - alpha) * ev
    IterativeKernel.Step(
      frame.join(yraw.hint("shuffle_hash"), Seq("id"), "left")
        .withColumn("w",
          lit(alpha) * coalesce(col("yraw"), lit(0.0)) +
            GraftSqlInternals.stableLit(teleport) * v)
        .drop("yraw"),
      (0 to j).map(i => sum(col(s"v$i") * col("w"))) ++ Seq(sum(col("w") * col("w"))) ++
        (if (sums) Seq(sum(col("w")), sum(col("dang") * col("w"))) else Nil))
  }

  def run(g: LinkGraph, cfg: ArnoldiConfig = ArnoldiConfig(),
      runId: String = "arnoldi",
      personalization: Option[DataFrame] = None,
      resume: Boolean = false): (Dataset[VertexRank], PageRankStats) =
    IterativeKernel.ranks(g, runId, cfg.maxRestarts, cfg.tol, IterativeKernel.Snapshots(
        cfg.checkpointDir, cfg.checkpointEvery, prefix = "restart_")) { it =>
    val spark = g.edges.sparkSession
    import spark.implicits._
    val alpha = cfg.alpha
    val k = cfg.k
    // personalization v (ppagerank.cc:91-104) rides as a column; the full
    // operator becomes M x = αPᵀx + (α·dᵀx + (1−α)·eᵀx)·v
    val hasV = personalization.isDefined
    val vCol = if (hasV) col("v") else lit(1.0 / g.numVertices)
    val prep = PageRank.prepare(g,
      PageRankConfig(saltThreshold = cfg.saltThreshold, saltBuckets = cfg.saltBuckets))
    val carry = Seq(col("id"), col("dang")) ++ (if (hasV) Seq(col("v")) else Nil)

    // Resume (north rule): x is the whole inter-restart state; scalars are
    // re-measured below, identically for a cold and a resumed start.
    // x₀ = v (ppagerank.cc:544-550)
    it.start(it.resume(resume)().getOrElse(
      IterativeKernel.base(g, personalization).withColumn("x", vCol)))
    var (ex, dx, xNorm2, xNorm1) = {
      val r = IterativeKernel.measure(it.frame, sum(col("x")), sum(col("dang") * col("x")),
        sum(col("x") * col("x")), sum(abs(col("x"))))
      (r(0), r(1), math.sqrt(r(2)), r(3))
    }

    // fast single-reduction CGS for relaxed tolerances; escalated to CGS2
    // when the restart residual stagnates at the fast path's cancellation
    // floor (see ArnoldiConfig.reorthog)
    var cgs2 = cfg.reorthog.getOrElse(cfg.tol < 1e-9)
    var stagnant = 0

    it.loop {
      val h = Array.ofDim[Double](k + 1, k) // (k+1)×k, ppagerank.cc:527
      // v0 = x/‖x‖₂ (ppagerank.cc:556-559)
      it.frame = it.frame.withColumn("v0",
        col("x") / GraftSqlInternals.stableLit(xNorm2)).drop("x")
      val evs = Array.fill(k + 1)(0.0); evs(0) = ex / xNorm2 // eᵀv_j
      val dvs = Array.fill(k + 1)(0.0); dvs(0) = dx / xNorm2 // dᵀv_j
      var effK = 0 // columns of H actually built
      var breakdown = false

      var j = 0
      while (j < k && !breakdown) {
        // w = M v_j; H(i,j) = vᵢᵀw for i ≤ j
        val row = it.step(basisStep(prep, it.frame, j, alpha, evs(j), dvs(j), vCol,
          sums = !cgs2))
        for (i <- 0 to j) h(i)(j) = row(i)
        val ww = row(j + 1)
        if (!cgs2) {
          // ONE observe job per step: β and the eᵀ/dᵀ sums of the new basis
          // vector follow analytically (β² = ‖w‖² − Σh² by orthogonality)
          val ew = row(j + 2)
          val dw = row(j + 3)
          val beta2 = ww - (0 to j).map(i => h(i)(j) * h(i)(j)).sum
          val beta = math.sqrt(math.max(beta2, 0.0))
          h(j + 1)(j) = beta
          effK = j + 1
          if (beta < 1e-12 * math.sqrt(ww)) {
            breakdown = true // happy breakdown: Krylov space exhausted
          } else {
            val gCol = (0 to j).foldLeft(col("w")) { (acc, i) =>
              acc - GraftSqlInternals.stableLit(h(i)(j)) * col(s"v$i")
            }
            it.frame = it.frame.withColumn(s"v${j + 1}",
              gCol / GraftSqlInternals.stableLit(beta)).drop("w")
            evs(j + 1) = (ew - (0 to j).map(i => h(i)(j) * evs(i)).sum) / beta
            dvs(j + 1) = (dw - (0 to j).map(i => h(i)(j) * dvs(i)).sum) / beta
          }
        } else {
          // g = w − Σ h(i,j)·vᵢ, then CGS2: measure the residual projections
          // c_i = vᵢᵀg (≈0 in exact arithmetic), fold them back into H, and
          // measure ‖g‖², eᵀg, dᵀg directly in the same aggregate
          val gCol = (0 to j).foldLeft(col("w")) { (acc, i) =>
            acc - GraftSqlInternals.stableLit(h(i)(j)) * col(s"v$i")
          }
          it.frame = it.frame.withColumn("g", gCol).drop("w")
          val row2 = it.step(IterativeKernel.Step(it.frame,
            (0 to j).map(i => sum(col(s"v$i") * col("g"))) ++
              Seq(sum(col("g") * col("g")), sum(col("g")), sum(col("dang") * col("g")))))
          val c = Array.tabulate(j + 1)(i => row2(i))
          val gg = row2(j + 1)
          val eg = row2(j + 2)
          val dg = row2(j + 3)
          for (i <- 0 to j) h(i)(j) += c(i)
          // β = ‖g − Σ cᵢvᵢ‖₂ via the identity on the measured gᵀg — safe here
          // because the c correction is O(ε)·‖g‖, so no catastrophic cancellation
          val beta2 = gg - c.map(x => x * x).sum
          val beta = math.sqrt(math.max(beta2, 0.0))
          h(j + 1)(j) = beta
          effK = j + 1
          if (beta < 1e-12 * math.sqrt(ww)) {
            breakdown = true // happy breakdown: Krylov space exhausted
          } else {
            val g2Col = (0 to j).foldLeft(col("g")) { (acc, i) =>
              acc - GraftSqlInternals.stableLit(c(i)) * col(s"v$i")
            }
            it.frame = it.frame.withColumn(s"v${j + 1}",
              g2Col / GraftSqlInternals.stableLit(beta)).drop("g")
            evs(j + 1) = (eg - (0 to j).map(i => c(i) * evs(i)).sum) / beta
            dvs(j + 1) = (dg - (0 to j).map(i => c(i) * dvs(i)).sum) / beta
          }
        }
        j += 1
      }

      // H ← H − [I; 0] (ppagerank.cc:591-594), on the effK-sized block
      val m = effK
      val hBlock = Array.tabulate(m + 1, m) { (i, jj) =>
        h(i)(jj) - (if (i == jj) 1.0 else 0.0)
      }
      val (_, vMat) = SmallSvd.svd(hBlock)
      val vmin = Array.tabulate(m)(i => vMat(i)(m - 1)) // smallest σ's right vector

      // x ← Σ vmin_i · v_i (VecMAXPY, ppagerank.cc:645-647)
      val xCol = (0 until m).map(i =>
          GraftSqlInternals.stableLit(vmin(i)) * col(s"v$i"))
        .reduce((a, b) => a + b)
      // convergence: δ = ‖Mx − x‖₁/‖x‖₁ (ppagerank.cc:649-657). The
      // reference applies the operator once more (PageRankMult at 651); here
      // Mx − x follows from the Arnoldi relation M·Vₘ = Vₘ₊₁·H — exact to
      // rounding REGARDLESS of basis quality, because each v_{j+1} is
      // constructed as (w − Σ hᵢⱼ vᵢ)/β — so
      // Mx − x = Vₘ₊₁·(H − [I;0])·vmin, a column combination of basis
      // vectors already in the frame. The restart therefore pays NO extra
      // SpMV: residual, ‖x‖₁, dᵀx, ‖x‖₂ and eᵀx all ride one shuffle-free
      // observe job on the frame. On happy breakdown v_m was never built;
      // its coefficient is β·vmin_{m−1} with β < 1e-12·‖w‖ — dropped.
      val rCoef = Array.tabulate(m + 1)(i =>
        (0 until m).map(jj => hBlock(i)(jj) * vmin(jj)).sum)
      val residCol = (0 to (if (breakdown) m - 1 else m)).map(i =>
          GraftSqlInternals.stableLit(rCoef(i)) * col(s"v$i"))
        .reduce((a, b) => a + b)
      val row = it.step(IterativeKernel.Step(it.frame.withColumn("x", xCol),
        Seq(sum(abs(residCol)), sum(abs(col("x"))), sum(col("dang") * col("x")),
          sum(col("x") * col("x")), sum(col("x"))),
        carry :+ col("x")))
      xNorm1 = row(1)
      dx = row(2)
      xNorm2 = math.sqrt(row(3))
      ex = row(4) // measured eᵀx (an analytic recursion drifts)
      val delta = row(0) / xNorm1

      // stagnation → escalate to CGS2 (auto mode only): two consecutive
      // restarts without ≥10% residual improvement means the fast path has
      // hit its analytic-β cancellation floor above tol — without this the
      // solver would spin to maxRestarts at a flat residual
      if (!cgs2 && cfg.reorthog.isEmpty && delta >= cfg.tol) {
        if (delta > 0.9 * it.residual) stagnant += 1 else stagnant = 0
        if (stagnant >= 2) cgs2 = true
      }
      (delta, xNorm1)
    }

    prep.close()
    // sign-fix + L1-normalize (deviation from reference; see scaladoc).
    // eᵀx of the final iterate is `ex` — measured by the observe of the job
    // that materialized this x (restart loop) or by the init aggregate (no
    // restarts ran).
    val sign = if (ex < 0) -1.0 else 1.0
    val ranks = it.frame.select(col("id"),
      (col("x") * lit(sign) / GraftSqlInternals.stableLit(math.abs(ex))).as("rank"))
      .as[VertexRank]
    (ranks, it.stats)
    }
}
