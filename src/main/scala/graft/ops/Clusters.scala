package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed connected components — the cluster-assignment step of the
  * dedup pipeline. Near-dup detection yields PAIRS (LSH/SimHash/n-gram
  * candidates); turning pairs into "keep one doc per duplicate cluster"
  * requires the transitive closure: A~B and B~C must land A, B, C in ONE
  * cluster even though (A, C) was never emitted as a pair.
  *
  * Algorithm: iterative min-label propagation. Every vertex starts
  * labelled with its own id; each round, every vertex takes the min of its
  * label and its neighbors' labels. A fixpoint is reached in O(component
  * diameter) rounds — duplicate clusters in real corpora are
  * near-cliques (diameter ≤ 2-3), so this converges in a handful of
  * rounds. For adversarial long-chain graphs the O(log n) alternative is
  * two-phase large-star/small-star (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC'14); min-label is the right default for
  * dedup workloads and is simpler to audit.
  *
  * Scale shape: each round shuffles only compact (id, label) long pairs —
  * never document payloads — and the edge relation is re-joined from its
  * own shuffle output (ReusedExchange). `localCheckpoint` truncates the
  * lineage each round so the plan does not grow with iteration count
  * (an unbounded iterative lineage re-executes every prior round per
  * action and eventually overflows the planner). Convergence is detected
  * with one tiny aggregate per round: labels only ever decrease, so the
  * label-sum is strictly monotone until the fixpoint.
  */
object Clusters {

  /** @param vertices single column `id`
    * @param edges columns `src`, `dst` (undirected; one row per pair)
    * @return (id, label) — label = min vertex id of the component, one
    *   row per distinct id. With no edge (every incremental delta
    *   without an in-batch near-dup) that is `(id, id)` and returns
    *   right after the symmetrize checkpoint, unmaterialized, instead of
    *   running a round only to find the labels unchanged.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // symmetrize once; labels flow both directions along every edge
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    // no edge: every vertex is its own component, the fixpoint the
    // rounds below would reach after collapsing duplicate ids
    if (isEmpty(sym))
      return vertices.select(col("id"), col("id").as("label")).distinct()
    var labels = vertices.select(col("id"), col("id").as("label"))
      .localCheckpoint()
    // decimal sum: immune to long overflow at billion-vertex id ranges.
    // sum() over zero rows is SQL null — an empty vertex frame is already
    // at its (vacuous) fixpoint, so null means "stop", not NPE.
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("label").cast(DecimalType(38, 0))))
        .head.getDecimal(0))
    var prevSum = labelSum(labels)
    var it = 0
    var converged = prevSum.isEmpty
    while (!converged && it < maxIter) {
      val prop = sym.join(labels, sym("src") === labels("id"))
        .select(sym("dst").as("id"), col("label"))
      val next = labels.union(prop)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
      it += 1
    }
    if (!converged)
      // labels are still a valid UPPER approximation (every label is an id
      // within the vertex's component) but components of diameter > maxIter
      // may be split — surface it rather than returning silently. Graphs
      // where this fires want [[connectedComponentsStar]] instead.
      org.apache.log4j.Logger.getLogger(getClass).warn(
        s"connectedComponents hit maxIter=$maxIter without converging; " +
          "labels may split long-diameter components " +
          "(use connectedComponentsStar for long-chain graphs)")
    labels
  }

  /** True when `df` has no row, in one job of one task per partition
    * (`Dataset.isEmpty` scans partitions in growing rounds, one job
    * each, before it can answer "empty"). Meant for checkpointed
    * frames, whose partitions are already computed. */
  private def isEmpty(df: DataFrame): Boolean =
    !df.rdd.mapPartitions(rows => Iterator.single(rows.hasNext))
      .collect().contains(true)

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * O(log n)-round alternative for graphs whose diameter is unknown or
    * adversarial (a 1000-link chain converges in ~11 rounds here vs 1000
    * rounds of min-label propagation).
    *
    * Switch criterion (documented contract, measured in PLANS.md):
    * [[connectedComponents]] (min-label) is the default for DEDUP pair
    * graphs — near-dup clusters are near-cliques (diameter ≤ 2-3), and
    * min-label costs one join per round. Use THIS variant when the edge
    * relation is not a similarity graph (arbitrary lineage/reference
    * graphs), when min-label exits via maxIter without converging, or
    * when a diameter bound simply cannot be argued in advance.
    *
    * Per round: large-star hangs every strictly-larger neighbor of a node
    * onto the minimum of its closed neighborhood; small-star does the same
    * for the smaller-or-equal neighbors. Both are one hash shuffle of
    * compact (long, long) pairs (window min over the node), and every
    * emitted edge (child, parent) satisfies child > parent, so the edge
    * set shrinks toward stars centered at component minima. Fixpoint =
    * edge set unchanged over a full round (exact set equality via EXCEPT,
    * not a hash). Lineage is truncated per round (localCheckpoint), same
    * as min-label. */
  /** Auto-selecting closure — the documented switch criterion
    * ([[connectedComponentsStar]] scaladoc) executed by the engine
    * instead of the caller: run min-label for `probeRounds` rounds (the
    * near-clique fast path — dedup pair graphs converge here); if the
    * fixpoint has not arrived, the diameter assumption was wrong, so
    * fall back to the O(log n) star rounds from scratch. The probe is
    * bounded and cheap (one (id,label) shuffle per round), so the
    * worst-case overpay on an adversarial graph is `probeRounds` light
    * joins — while a mis-chosen min-label on a long-chain graph costs
    * O(diameter) rounds, unboundedly worse. Convergence detection
    * reuses min-label's monotone label-sum. */
  def connectedComponentsAuto(vertices: DataFrame, edges: DataFrame,
      probeRounds: Int = 4, maxIter: Int = 40): DataFrame = {
    val fast = connectedComponents(vertices, edges, probeRounds)
    // one more propagation round changes no label iff converged; the
    // probe run warns on maxIter exit, which is exactly the signal —
    // re-derive it cheaply: converged ⇔ a (probeRounds+1)-round run has
    // the same label sum. Cheaper: recompute one round here.
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val prop = sym.join(fast, sym("src") === fast("id"))
      .select(sym("dst").as("id"), col("label"))
    val next = fast.union(prop).groupBy("id").agg(min("label").as("label"))
    val changed = fast.as("a").join(next.as("b"), "id")
      .filter(col("a.label") =!= col("b.label")).limit(1).count() > 0
    if (!changed) fast else connectedComponentsStar(vertices, edges, maxIter)
  }

  def connectedComponentsStar(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("u")

    // large-star: per node u, m = min(Γ(u) ∪ {u}); emit (v, m) ∀ v>u.
    // v > u ≥ m, so emitted edges keep the child>parent invariant.
    def largeStar(e: DataFrame): DataFrame = {
      val nbr = e.union(e.select(col("v").as("u"), col("u").as("v")))
      nbr.withColumn("m", least(min(col("v")).over(win), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // small-star: direct edges child>parent, per node u over its smaller
    // neighbors N: m = min(N); emit (v, m) ∀ v∈N and (u, m).
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val withMin = dir.withColumn("m", min(col("v")).over(win))
      withMin.select(col("v").as("u"), col("m").as("v"))
        .union(withMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    var e = edges.select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint()
    var it = 0
    var converged = false
    var prevCount = e.count()
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      // exact set equality: both frames are DISTINCT child>parent pairs,
      // so equal cardinality + one-directional emptiness ⇒ equal sets —
      // counts are near-free on the checkpointed frames, which halves
      // the per-round anti-join cost vs a bidirectional except
      val nextCount = next.count()
      converged = nextCount == prevCount && next.except(e).isEmpty
      prevCount = nextCount
      e = next
      it += 1
    }
    if (!converged)
      org.apache.log4j.Logger.getLogger(getClass).warn(
        s"connectedComponentsStar hit maxIter=$maxIter without converging")
    // fixpoint edges are stars (child, componentMin); isolated vertices
    // label themselves. groupBy-min is belt-and-braces for the (already
    // unique) child→parent relation.
    val roots = e.groupBy(col("u").as("id")).agg(min("v").as("__root"))
    vertices.select(col("id"))
      .join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("__root"), col("id")).as("label"))
  }
}
