package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** Smoke test of the measuring tool's modes through the test session, so the
  * tool fails at test time, not the next time someone needs a measurement.
  */
class ProbeSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def assertCounted(runs: Seq[Probe.Run]): Unit = {
    assert(runs.nonEmpty)
    runs.foreach(r => assert(r.jobs > 0 && r.wallMs > 0, r.json))
  }

  test("solve: counted runs, no cached blocks left behind beyond the solvers' leak bound") {
    val (n, edges) = GraphFixtures.g2
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val sc = spark.sparkContext
    for (alg <- Seq("power", "arnoldi")) {
      val opts = Options.parse(Seq("-alg", alg, "-tol", "1e-8", "-maxiter", "10", "-noout"))
      Probe.solve(spark, g, opts ++ Options(Map("reps" -> "1"))) // warm up graph prep
      val before = sc.getPersistentRDDs.size
      val runs = Probe.solve(spark, g, opts ++ Options(Map("reps" -> "2")))
      val after = sc.getPersistentRDDs.size
      assert(runs.size == 2)
      assertCounted(runs)
      // SolversSpec's bound: at most two new cached RDDs per solve
      assert(after - before <= 2 * runs.size, s"$alg: cached blocks grew $before -> $after")
    }
  }

  test("query: bench-shaped passes are counted") {
    val runs = Probe.query(spark, sf, Seq("r1_agg_pushdown"), passes = 2)
    assert(runs.map(_.label) == Seq("query r1_agg_pushdown pass 1", "query r1_agg_pushdown pass 2"))
    assertCounted(runs)
  }

  test("plan: every solver step plan has an exchange") {
    val out = Files.createTempDirectory("probe_plans").toString
    val files = Probe.plan(spark, sf, out, Probe.stepNames)
    assert(files.size == Probe.stepNames.size)
    for (f <- files)
      assert(new String(Files.readAllBytes(Paths.get(f))).contains("Exchange"), f)
  }

  test("driver time counts only the wall time outside the union of job intervals") {
    assert(Probe.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L), (50L, 60L)), 2L, 35L) == 23L)
    assert(Probe.covered(Nil, 0L, 10L) == 0L)
  }
}
