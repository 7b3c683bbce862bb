package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cluster resolution over near-duplicate pairs — the step every real
  * dedup pipeline needs AFTER pair detection and that the reference's
  * per-key `UniqueFilterTransformer` (tiny_etl/transformers/
  * aggregators.py:71-132) cannot express: near-duplication is not an
  * equivalence relation (A≈B and B≈C do not imply A≈C), so confirmed
  * pairs form an arbitrary graph and "keep one per duplicate group"
  * means CONNECTED COMPONENTS of that graph, then one canonical doc per
  * component.
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
  * MapReduce and Beyond", SoCC'14). Each round is two hash-shuffles
  * (group by node, re-emit edges); the edge list provably never grows
  * (|E| is non-increasing) and converges to a star forest — every node
  * pointing at its component's minimum id — in O(log² n) rounds on ANY
  * graph. That guarantee is why this beats the naive min-label
  * propagation loop at 100 TB: label propagation needs O(diameter)
  * rounds, and template-drift chains (A≈B≈C≈… with A≉C) give near-dup
  * graphs unbounded diameter; star contraction does not care.
  *
  * Driver-side control is ONE scalar convergence probe per round
  * ((count, checksum) of the edge list — no data is ever collected),
  * and lineage is truncated each round so the plan stays O(1) deep
  * instead of growing by two shuffles per iteration — both standard
  * for iterative algorithms on Spark (GraphX Pregel does exactly
  * this). Truncation defaults to `localCheckpoint` (executor blocks);
  * pass `checkpointDir` for a RELIABLE checkpoint that survives
  * executor loss — see [[graft.core.IterCheckpoint]].
  */
object DedupClusters {

  /** Safety cap: large-star/small-star converges in O(log² n) rounds;
    * 40 alternations cover any conceivable corpus (2^20 diameter). */
  val MaxRounds = 40

  /** Small-star: orient edges large→small, then every node connects its
    * (smaller) neighbors — and itself — to the neighborhood minimum. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val dir = edges.select(
      greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
    dir.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** One contraction round: large-star, then small-star. Large-star is
    * local to the round because its output is only valid as small-star's
    * input (see below); no other caller can reach it. */
  private def starRound(edges: DataFrame): DataFrame = {
    /** Large-star: every node connects its LARGER neighbors to the
      * minimum of its neighborhood (incl. itself). Two shuffles.
      *
      * NO distinct here (r17): within a round the output feeds ONLY
      * [[smallStar]], whose min-agg is duplicate-insensitive and whose
      * own round-end distinct restores set semantics — so the edge SET
      * per round (and the Kiveris et al. |E| non-increase guarantee,
      * which needs dedup once per round) is unchanged, while each round
      * saves one full exchange + aggregation pass. Pre-distinct volume
      * is exactly one row per input edge (each undirected edge survives
      * the v > u filter once), so the duplicates smallStar absorbs are
      * bounded by per-node degree, never a blow-up. */
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
    }
    smallStar(largeStar(edges))
  }

  /** Convergence probe: the alternating algorithm's fixed points are
    * exactly star forests, and an edge list is a star forest iff no
    * node has two parents and no node is both child and parent — one
    * aggregation over the tagged node stream, detected the ROUND the
    * forest forms (a fingerprint-compare would burn one more full
    * contraction round just to confirm the fixed point). */
  private def isStarForest(edges: DataFrame): Boolean =
    edges.select(col("u"), lit(1L).as("c"), lit(0L).as("p"))
      .union(edges.select(col("v"), lit(0L).as("c"), lit(1L).as("p")))
      .groupBy(col("u"))
      .agg(sum(col("c")).as("c"), sum(col("p")).as("p"))
      .where(col("c") > 1 || (col("c") > 0 && col("p") > 0))
      .isEmpty

  /** Connected components of the undirected graph given as a pair list.
    *
    * @param pairs  confirmed near-dup pairs (each row one undirected
    *               edge; self-loops and duplicates tolerated)
    * @param checkpointDir  when set, per-round lineage truncation uses
    *               a RELIABLE `checkpoint` into this fault-tolerant
    *               directory instead of executor-block
    *               `localCheckpoint` — the deployment dial for long
    *               jobs where an executor loss mid-iteration must not
    *               kill the run (see [[graft.core.IterCheckpoint]])
    * @return (node, component) for every node that appears in `pairs`,
    *         where component = the minimum node id reachable from it
    */
  def components(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      checkpointDir: Option[String] = None): DataFrame = {
    // One ACTION per round, not two: the truncation is LAZY for the
    // localCheckpoint path, so the star-forest probe's own job is what
    // materializes the round's blocks (the probe's aggregation reads
    // every edge anyway — its map stage computes and persists the
    // checkpoint as a side effect). An eager truncate + separate probe
    // re-ran the round's whole AQE pipeline as a second driver action;
    // at fixture scale that fixed per-action latency was the bulk of
    // the contraction's wall (the resolve family is job-count-bound:
    // dedup_clusters measured 24 driver jobs for ~5 task-seconds of
    // work). The reliable-checkpoint dial stays EAGER: a lazy reliable
    // checkpoint recomputes the round to write its files (a second job
    // by construction), so laziness buys nothing there.
    def trunc(df: DataFrame) = graft.core.IterCheckpoint.truncate(
      df, checkpointDir, eager = checkpointDir.isDefined)
    // orient big→small up front: the star-forest probe assumes the
    // child→min convention, and this lets an already-star input (all
    // disjoint pairs) converge with zero contraction rounds
    var edges = trunc(pairs
      .select(
        greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v"))
      .distinct())
    var converged = isStarForest(edges)
    var round = 0
    while (!converged && round < MaxRounds) {
      val prev = edges
      edges = trunc(starRound(edges))
      // the probe is the materializing action for the lazy round; only
      // AFTER it has run are prev's blocks dead (the new round read
      // them) — release then, instead of waiting for driver GC, or a
      // multi-round contraction holds every round's corpus-sized edge
      // list in executor memory at once (the measured cause of the
      // 100×-soak memory thrash; see IterCheckpoint.release). Every
      // released frame was created inside THIS call (the round-0 input
      // truncation included — its release cannot touch the caller's
      // own plans or checkpoints); the final round is never prev, so
      // the returned DataFrame keeps its blocks.
      converged = isStarForest(edges)
      graft.core.IterCheckpoint.release(prev)
      round += 1
    }
    require(converged, s"components() did not converge in $MaxRounds rounds")
    // Star forest: every non-root points at its component min; roots
    // (the minima themselves) have no outgoing edge — add them back.
    // Shaped as one explode rather than a self-union: a union here
    // leaks the checkpointed edges' attrs into downstream UnionBase
    // constraint rewrites (Catalyst NoSuchElementException when a
    // caller unions over this output, as merge() does), and the
    // explode keeps the output plan a single narrow scan.
    edges
      .select(explode(array(
        struct(col("u").as("node"), col("v").as("component")),
        struct(col("v").as("node"), col("v").as("component")))).as("__nc"))
      .select(col("__nc.node").as("node"), col("__nc.component").as("component"))
      .distinct()
  }

  /** Full dedup-cluster resolution: components + per-cluster size +
    * the keep/drop verdict (canonical = the cluster's minimum doc id —
    * deterministic, join-free to name, and stable under re-runs).
    * The size window repartitions by component, which is exactly the
    * partitioning `components` already produced. */
  def resolve(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    val comp = components(pairs, aCol, bCol)
    comp
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .select(
        col("node").as("doc_id"),
        col("component").as("cluster_id"),
        col("cluster_size"),
        (col("node") === col("component")).as("is_canonical"))
  }

  /** Incremental cluster maintenance: fold a tranche of NEW confirmed
    * pairs into an EXISTING cluster assignment without re-clustering
    * the corpus. Output is bit-identical to
    * `resolve(allPriorPairs ∪ pairs)` — the correctness theorem is
    * that contracting a component to its star (member → cluster
    * minimum, which is itself a member) preserves connectivity, so
    * CC(star(CC(P₁)) ∪ P₂) = CC(P₁ ∪ P₂); the fixture battery proves
    * it by hashing `merge` against the one-shot recursive-CTE oracle.
    *
    * 100 TB shape — the cost is bounded by the INCREMENT, not the
    * corpus: only clusters with a member incident to a new pair can
    * change, so the star edges entering the contraction loop are one
    * semi-join away from the new pairs' node set (two hash shuffles),
    * and every untouched cluster row passes through as a narrow
    * anti-join scan with its size and canonical flag intact. A star
    * forest is already a fixed point of the contraction, so the loop's
    * work tracks how much the increment actually perturbs — disjoint
    * tranches converge in the probe round. Assignment rows are two
    * longs; the pass-through scan is the cheap part at any scale.
    *
    * @param clusters prior assignment in [[resolve]]'s shape (one row
    *                 per doc: doc_id, cluster_id, cluster_size,
    *                 is_canonical; cluster_id = component minimum)
    * @param pairs    new confirmed pairs (aCol, bCol); may reference
    *                 docs absent from `clusters` (brand-new tranche
    *                 members) or bridge existing clusters
    */
  def merge(
      clusters: DataFrame,
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      checkpointDir: Option[String] = None): DataFrame = {
    // Input truncation (lazy): the new-pair plan feeds THREE consumers
    // — the contraction loop, the touched-cluster semi-join, and the
    // scope union — and in real use it is the expensive end of a
    // banded-candidate + confirm pipeline. Without the truncation each
    // consumer re-runs that pipeline from the scan; with it the pairs
    // materialize once on first action and every consumer reads the
    // blocks (the contraction's round-0 truncation then sees an
    // already-materialized input). Self-pairs are dropped HERE, not
    // just inside the contraction: a doc whose only new pair is a
    // self-pair must not enter the scope union, or merge would emit a
    // singleton row for a doc that resolve() (which filters self-loops)
    // never emits — breaking the bit-identical merge == resolve
    // contract the whole operator stands on.
    val newEdges = graft.core.IterCheckpoint.truncate(
      pairs.select(col(aCol), col(bCol)).where(col(aCol) =!= col(bCol)),
      checkpointDir, eager = false)
    val newNodes = newEdges.select(col(aCol).as("doc_id"))
      .union(newEdges.select(col(bCol).as("doc_id")))
      .distinct()
    // clusters that can change = those owning a node of some new pair
    val touched = clusters.join(newNodes, Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val affected = clusters.join(touched, Seq("cluster_id"), "left_semi")
    val untouched = clusters.join(touched, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("is_canonical"))
    // star edges of the affected clusters ∪ the increment; the prior
    // minimum is itself a member, so connectivity is preserved exactly
    val starEdges = affected.where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(aCol), col("cluster_id").as(bCol))
    val comp = components(starEdges.unionByName(newEdges), aCol, bCol,
      checkpointDir)
    // every affected-or-new doc gets a row; docs isolated in the edge
    // view (singleton prior clusters, self-pair-only tranche docs) are
    // their own component
    val scope = affected.select(col("doc_id")).union(newNodes).distinct()
    val merged = scope
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .select(col("doc_id"), col("component").as("cluster_id"),
        col("cluster_size"),
        (col("doc_id") === col("component")).as("is_canonical"))
    untouched.unionByName(merged)
  }
}
