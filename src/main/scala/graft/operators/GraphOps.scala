package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed graph primitives for the training-data pipeline tier.
  *
  * The one that matters at 100 TB is connected components over the
  * near-duplicate pair graph: pairwise dedup (MinHash/n-gram/SimHash)
  * emits EDGES, but the keep/drop decision needs CLUSTERS — a document
  * that pairs with two others transitively forms one group with one
  * canonical survivor (the reference literature's "dup cluster
  * resolution" step).
  */
object GraphOps {

  /** Minimum-label connected components over an undirected edge list
    * (columns `aCol`, `bCol`), returning one row per vertex:
    * (id, cluster) where cluster = the smallest vertex id reachable from
    * id. Isolated vertices never appear (they have no edges — callers
    * union them back as singleton clusters if needed).
    *
    * Shape: label propagation + POINTER JUMPING to fixpoint. Each round
    * is two shuffles — (1) push labels along edges and min-combine per
    * vertex (partial aggregation runs map-side, so network cost is
    * bounded by the label frontier, not the edge count); (2) compose the
    * label map with itself (lab ← lab(lab)), which doubles the distance
    * a label has travelled. Propagation alone needs diameter rounds — an
    * adversarial 10^6-hop dup chain would exhaust any fixed `maxIter`
    * and SILENTLY return unconverged labels; with the doubling step
    * convergence is O(log diameter), so `maxIter = 25` covers diameters
    * past 2^25 (and the loop still exits early on the fixpoint test —
    * quasi-clique dup graphs finish in 2-3 rounds).
    *
    * Each round's labels are persisted and the previous round's are
    * unpersisted — the loop holds ONE labels frame and the edge list in
    * memory, both spillable (MEMORY_AND_DISK).
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val und = edges.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(edges.select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("lab", col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // push every vertex's current label to its neighbours, keep the min
      val pushed = und.join(labels, und("src") === labels("id"))
        .select(col("dst").as("id"), col("lab"))
      // localCheckpoint (eager) BEFORE the jump self-join, for two
      // reasons. (1) Lineage: the jump references this frame TWICE, so an
      // un-truncated plan doubles every round — Catalyst re-analysis goes
      // exponential long before the data does (observed as a multi-minute
      // stall on a 7-round graph). Checkpointing materializes the round
      // AND cuts the plan back to a leaf; blocks live in executor storage
      // like a cache. (2) Self-joining a frame whose plan contains a
      // Union trips Catalyst's UnionBase constraint rewrite
      // (NoSuchElementException in AttributeMap) after self-join
      // dedup re-aliases one side; a leaf self-joins cleanly.
      val propagated = labels.union(pushed)
        .groupBy("id").agg(min("lab").as("lab"))
        .localCheckpoint(true)
      // pointer jumping: lab ← min(lab, lab(lab)). Every lab value is a
      // vertex id, and every vertex has a row, so the self-join is total
      // (left_outer is belt-and-braces for an empty frame).
      val next = propagated.alias("a")
        .join(propagated.select(col("id").as("lab"), col("lab").as("lab2"))
          .alias("b"), Seq("lab"), "left_outer")
        .select(col("id"),
          least(col("lab"), coalesce(col("lab2"), col("lab"))).as("lab"))
      // fixpoint test: did any label shrink this round? (labels only ever
      // decrease, so "no change" == converged). One count() per round —
      // the same driver action any iterative Spark job pays.
      val changed = next.join(labels.withColumnRenamed("lab", "prev"), "id")
        .where(col("lab") < col("prev"))
        .limit(1).count()
      labels.unpersist()
      labels = next
      converged = changed == 0L
      i += 1
    }
    und.unpersist()
    labels
  }

  /** Fixed-iteration PageRank in 64-bit FIXED-POINT arithmetic over an
    * undirected edge list: every rank is a BIGINT scaled by `scale`,
    * every reduction a sum of longs, and every division an integer `div`
    * on non-negative operands — so the result is BIT-EXACT regardless of
    * partition count, reduction order, or engine. That determinism is the
    * point: float PageRank drifts with aggregation order (different
    * answers on 32 vs 1000 executors), while this one is reproducible
    * and hash-checkable against an independent SQL implementation.
    * Damping 0.85 is applied as the rational 85/100 (multiply, then
    * integer-divide). Per iteration: one shuffle to push `r div deg`
    * along edges with map-side partial sums, then an eager
    * localCheckpoint so the loop never re-derives prior rounds (same
    * lineage discipline as [[connectedComponents]]). Isolated vertices
    * have no edges and are out of scope. Returns (node, deg, pr_scaled).
    */
  def pageRank(edges: DataFrame, aCol: String, bCol: String,
      iters: Int = 6, scale: Long = 1000000000000L): DataFrame = {
    val und = edges.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .union(edges.select(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one scalar driver action (the same price connectedComponents pays
    // per round for its fixpoint test); base is the (1-d)/N teleport term
    // in fixed point
    val n = deg.count()
    if (n == 0L) { // edgeless graph: no vertices, not a division by zero
      und.unpersist(); deg.unpersist()
      return deg.select(col("u").as("node"), col("deg"),
          col("deg").as("pr_scaled"))
    }
    val base = (15L * scale) / (100L * n)
    var r = deg.select(col("u").as("node"), lit(scale / n).as("r"))
    for (_ <- 1 to iters) {
      r = und.join(r, und("u") === r("node"))
        .join(deg, Seq("u"))
        .select(col("v").as("node"), expr("r div deg").as("c"))
        .groupBy("node")
        .agg(sum("c").as("sc"))
        .select(col("node"), (lit(base) + expr("(85 * sc) div 100")).as("r"))
        .localCheckpoint(true)
    }
    val out = r.join(deg, r("node") === deg("u"))
      .select(col("node"), col("deg"), col("r").as("pr_scaled"))
      .localCheckpoint(true)
    und.unpersist()
    deg.unpersist()
    out
  }
}
