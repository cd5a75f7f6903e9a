package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.Edge

/** Connected components (undirected view of the link graph) — exact, per the
  * north rule. Min-id label propagation to fixpoint with doubling-style label
  * shortcutting: each round every vertex takes the minimum label in its
  * closed neighborhood, then labels are path-compressed by joining labels
  * against themselves (label → label-of-label), which converges in
  * O(log diameter) rounds instead of O(diameter).
  *
  * Deterministic: component id = min vertex id of the component
  * (tie-break-free), independent of partitioning.
  */
object ConnectedComponents {

  /** @return (id, component) for every vertex in `vertices`. */
  def run(edges: Dataset[Edge], vertices: DataFrame, maxIter: Int = 50): DataFrame =
    // stops at the first round that changes no label (fewer than 1 change)
    IterativeKernel(edges, "cc", maxIter, tol = 1.0) { it =>
    // Undirected, deduplicated adjacency; both directions materialized once.
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    und.count()

    it.start(vertices.select(col("id"), col("id").as("component")))
    it.loop {
      val labels = it.frame
      // min over closed neighborhood
      val neigh = und.join(labels, und("dst") === labels("id"))
        .groupBy(und("src").as("id"))
        .agg(min(col("component")).as("nmin"))
      // `old` (the pre-round label) rides through the round so convergence
      // is an `observe` accumulator on the SAME tasks that materialize the
      // new labels — no dedicated join+count action per round
      val step1 = labels.join(neigh, Seq("id"), "left")
        .select(col("id"), col("component").as("old"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"))
      // label shortcutting: component ← label(component)
      val byId = step1.select(col("id").as("cid"), col("component").as("cc2"))
      // labels is referenced 3× per round (neigh, step1, shortcut) — the plan
      // would grow 3^k without per-round lineage truncation.
      val changed = it.step(IterativeKernel.Step(
        step1.join(byId, step1("component") === byId("cid"), "left")
          .select(col("id"),
            coalesce(col("cc2"), col("component")).as("component"), col("old")),
        Seq(sum(when(col("component") =!= col("old"), 1L).otherwise(0L)).as("changed")),
        Seq(col("id"), col("component"))))(0)
      (changed, 0.0)
    }
    und.unpersist(false)
    it.frame
    }
}
