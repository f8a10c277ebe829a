package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph — the stage every
  * production dedup pipeline needs AFTER pair finding: pairs only say "A ~ B";
  * keep-one-per-group needs the transitive closure (A ~ B, B ~ C ⇒ one
  * cluster {A,B,C}) and a canonical representative per cluster.
  *
  * Algorithm: min-label propagation with a POINTER-JUMPING shortcut each
  * round. Every node starts labeled with its own id; each round it (1) adopts
  * the smallest label among itself and its neighbors (the Pregel step), then
  * (2) adopts its label's label (`l(u) := l(l(u))` — path halving, the
  * Shiloach–Vishkin shortcut that the Kiveris et al. large-star/small-star
  * MapReduce algorithm is built around). Labels only decrease and always name
  * a node of the same component, so the fixpoint is cluster_id = min node id
  * in the component; propagation alone needs O(component diameter) rounds,
  * but the shortcut compounds the propagation distance geometrically, so
  * convergence is O(log diameter) — a depth-2^20 component (far beyond any
  * real dedup graph) fits the default 20-round cap, and a CHAIN-shaped
  * pathology no longer degenerates (spec-pinned on a 300-node chain in ≤12
  * rounds, where plain propagation needs 299).
  *
  * Each round is one equi-join of the EDGE list (∝ near-dup pairs, far
  * smaller than the corpus) against the label table (two longs per doc), a
  * min-aggregate, plus one label-table self-join for the shortcut — all
  * hash-shuffled on id, nothing driver-side except the convergence counter.
  * Labels are localCheckpoint'ed per round so lineage stays flat. Dedup
  * graphs are overwhelmingly tiny near-cliques (diameter 1-2) that settle in
  * 1-2 rounds either way; the shortcut join is the insurance that the
  * worst-case component costs log rounds, not diameter rounds, at 100 TB.
  */
object DedupClusters {

  // Labels are O(nodes) and the edge list O(pairs): each round ships labels
  // to the checkpointed edge list through the one size-gated broadcast hint;
  // the gate reads the node count once (the label table's row count is
  // invariant across rounds).
  import graft.functions.Hints.msgHint

  /** (id, cluster_id) for every node; cluster_id = min id in its component.
    * `nodes` carries exactly one id column `idCol`; `pairs` carries (id1,
    * id2) edges (undirected, any order, duplicates fine).
    */
  def connectedComponents(
      nodes: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(nodes, idCol, pairs, maxIter)._1

  /** [[connectedComponents]] plus the number of propagate+jump rounds the
    * loop ran after the fused round 0 — exposed so the convergence-rate
    * contract (O(log diameter)) is spec-checkable, not just asserted.
    */
  private[graft] def connectedComponentsWithRounds(
      nodes: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIter: Int = 20): (DataFrame, Int) = {

    // snapshot the pair list FIRST: `pairs` is typically the tail of an
    // expensive pipeline (shingle/hash/verify), and the two union branches
    // below would otherwise each recompute it end-to-end
    val p = pairs
      .select(col("id1").cast("long").as("id1"), col("id2").cast("long").as("id2"))
      .localCheckpoint()
    // symmetrized edge list, materialized once — reused every round
    val edges = p.select(col("id1").as("src"), col("id2").as("dst"))
      .union(p.select(col("id2").as("src"), col("id1").as("dst")))
      .distinct()
      .localCheckpoint()

    // fused round 0: with every node initially labeled by its own id, the
    // first propagation's "min neighbor label" is just "min neighbor id" —
    // a bare aggregate over the edge list, no join, no prior label
    // checkpoint. For the near-clique components of a dedup graph this IS
    // the fixed point, so the loop below typically runs once (verify) —
    // one fewer join+checkpoint round both here and at 100 TB.
    var labels = nodes
      .select(col(idCol).cast("long").as("id"))
      .join(
        edges.groupBy(col("dst")).agg(min(col("src")).as("nbr_min"))
          .select(col("dst").as("id"), col("nbr_min")),
        Seq("id"), "left")
      .select(col("id"), least(col("id"), coalesce(col("nbr_min"), col("id"))).as("label"))
      .localCheckpoint()
    // the label table's cardinality never changes across rounds: one count
    // over the round-0 checkpoint gates every round's broadcast hints
    val nNodes = labels.count()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // propagate is materialized, then the jump runs on the snapshot —
      // TWO checkpoints + one count per round. The fused single-checkpoint
      // round (jump consuming the un-materialized propagate on both sides,
      // ReuseExchange deduping the nbrMin broadcast) was A/B-probed twice
      // and lost both times at fixture scale (r12: isolated 7.99 vs 7.86 s;
      // r13: 6.15 vs 5.55 s adjacent calm probes) — the "saved" prop job is
      // repaid with interest because the jump's broadcast side must
      // executeCollect the un-materialized propagate join anyway, while the
      // checkpointed form collects a ready snapshot. Kept the measured
      // shape (guide §1 measure-first); the round pieces are extracted
      // below ([[ccPropagate]]/[[ccJump]]) so plan evidence can pin them.
      val prop = ccPropagate(edges, labels, nNodes).localCheckpoint()
      val step = ccJump(prop, nNodes).localCheckpoint()
      changed = step.filter(col("__chg")).count()
      labels = step.drop("__chg")
      iter += 1
    }
    // convergence is checked on the PROPAGATION fixpoint: an unchanged round
    // means every node's label already <= all neighbors' labels, which (by
    // the symmetric argument both ways across each edge) forces labels
    // constant per component — and the component min keeps its own id, so
    // the constant is the min. The jump step preserves monotonicity and
    // component membership, so it cannot fake a fixpoint.
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    (labels.select(col("id"), col("label").as("cluster_id")), iter)
  }

  /** The PROPAGATE half of a CC round: adopt the smallest label in the
    * closed neighborhood — (id, old_label, label) from a checkpointed edge
    * list and label table. Every join ships the NODE-sized side
    * ([[msgHint]]): the edge list stays in place, the join is a broadcast
    * hash join, and the only exchange in the round is the node-sized
    * min-aggregate by dst (the r12 SMJ form paid ~5 exchanges per round).
    * Plan pinned in R13OpsSpec; `graft.tools.Probe graph_cc_incremental`
    * prints every round's plan as it ran.
    */
  private[graft] def ccPropagate(
      edges: DataFrame, labels: DataFrame, nNodes: Long): DataFrame = {
    val nbrMin = edges
      .join(msgHint(
        labels.select(col("id").as("src"), col("label").as("src_label")),
        nNodes), "src")
      .groupBy(col("dst"))
      .agg(min(col("src_label")).as("nbr_min"))
      .select(col("dst").as("id"), col("nbr_min"))
    labels
      .join(msgHint(nbrMin, nNodes), Seq("id"), "left")
      .select(
        col("id"), col("label").as("old_label"),
        least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
  }

  /** The POINTER-JUMP half of a CC round over the materialized propagate
    * snapshot: l(u) := l(l(u)) — a label is always the id of a node in the
    * same component with l(x) <= x, so the jump only ever lowers the label
    * and never crosses components; it is what collapses a chain in log
    * rounds instead of one hop per round. Zero exchanges in the gated
    * regime (a broadcast self-probe of the node-sized snapshot).
    */
  private[graft] def ccJump(prop: DataFrame, nNodes: Long): DataFrame =
    prop
      .join(
        msgHint(prop.select(col("id").as("label"), col("label").as("__ll")),
          nNodes),
        Seq("label"), "left")
      .select(
        col("id"),
        coalesce(col("__ll"), col("label")).as("label"),
        (coalesce(col("__ll"), col("label")) < col("old_label")).as("__chg"))

  /** Incremental maintenance of a component labeling as new edges arrive —
    * the daily-ingest shape: yesterday's (id, cluster_id) artifact is
    * AUTHORITATIVE for the old graph, and today's edges only ever MERGE
    * existing components (or attach brand-new nodes), so the full recompute
    * is provably equivalent to connected components over the CONTRACTED
    * graph whose vertices are yesterday's labels.
    *
    * Steps, all keyed: seed every node (old ∪ new) with its old label or
    * itself; translate each new edge to a (label, label) edge, dropping
    * loops; run [[connectedComponents]] on the touched labels only — a
    * graph whose size tracks today's NEW edges, not the accumulated corpus
    * (the whole point at 100 TB: a 10-year graph re-labels in time
    * proportional to one day's delta); map every node through the merge
    * result with untouched labels fixed. Correctness: old labels are
    * component minima of the old graph, every node id ≥ its label, so the
    * min over merged labels IS the min node id of the merged component —
    * identical to the from-scratch labeling (spec-pinned on crafted merge
    * graphs and oracle-checked against the full recompute).
    *
    * `allNodes` carries one column `n`; `oldLabels` is (id, cluster_id);
    * `newPairs` is (id1, id2).
    */
  def incrementalComponents(
      allNodes: DataFrame,
      oldLabels: DataFrame,
      newPairs: DataFrame): DataFrame = {
    val seed = allNodes
      .join(oldLabels, allNodes("n") === oldLabels("id"), "left")
      .select(col("n"), coalesce(col("cluster_id"), col("n")).as("lbl"))
      .localCheckpoint()
    val lblPairs = newPairs
      .join(seed.select(col("n").as("id1"), col("lbl").as("l1")), "id1")
      .join(seed.select(col("n").as("id2"), col("lbl").as("l2")), "id2")
      .filter(col("l1") =!= col("l2"))
      .select(col("l1").as("id1"), col("l2").as("id2"))
      .distinct()
    val touched = lblPairs.select(col("id1").as("n"))
      .union(lblPairs.select(col("id2")))
      .distinct()
    val merged = connectedComponents(touched, "n", lblPairs)
    seed.join(merged, seed("lbl") === merged("id"), "left")
      .select(seed("n").as("id"),
        coalesce(col("cluster_id"), col("lbl")).as("cluster_id"))
  }
}
