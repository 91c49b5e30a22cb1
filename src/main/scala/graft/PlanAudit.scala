package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Dev audit main: walks every registry entry's physical plan and
  * reports WindowExec nodes with an EMPTY partition spec — the
  * single-task global-sort shape that cannot survive a corpus-sized
  * input (every such window funnels the whole relation through one
  * task). The suite claim "no unpartitioned windows in product code"
  * is enforced by grep on `Window.orderBy` call sites; this audit
  * closes the gap grep cannot see: windows introduced via SQL strings,
  * builder helpers, or plans Catalyst rewrites into a WindowExec.
  *
  * Usage: `graft.PlanAudit [sfDir] [entry,entry,...]`. With an entry
  * filter it also prints per-entry plan-shape stats (scan / reused /
  * window node counts) to stderr — the quick "did this stay one
  * corpus scan" probe. Prints one line per offending (entry, window)
  * pair to stdout; exit code 0 always — it is a reporting tool, the
  * judgment of "bounded by construction" vs "scale bug" stays with
  * the reader (some unpartitioned windows run over provably tiny
  * relations, e.g. max-count ties or ≤1024 bucket totals — those are
  * documented, not bugs).
  */
object PlanAudit {

  /** Expected scan shapes for every LAYOUT-SERVING registry entry —
    * the invariants that make each layout worth its disk: a z-order
    * layout that stops receiving its pushed range predicates, or a
    * cell/label-partitioned ANN layout whose probes stop pruning
    * partitions, still returns correct rows while silently reading the
    * whole corpus. Each requirement is (scan-metadata key, needle):
    * SOME FileScan in the entry's executed plan must carry the needle
    * (case-insensitive) in that metadata value. Scan METADATA is
    * checked, not the rendered plan string — plan rendering truncates
    * long filter lists, metadata does not. Asserted per entry in
    * PlanShapeSpec; also reported by this audit main. */
  val expectedShapes: Map[String, Seq[(String, String)]] = Map(
    // both rectangle dimensions pushed to the z-run layout's footers
    "scan_zorder_prune" -> Seq(
      ("PushedFilters", "GreaterThanOrEqual(o_custkey"),
      ("PushedFilters", "LessThanOrEqual(o_custkey"),
      ("PushedFilters", "GreaterThanOrEqual(o_totalprice"),
      ("PushedFilters", "LessThanOrEqual(o_totalprice")),
    // the day filter resolves against hive partition directories
    "scan_partition_prune" -> Seq(("PartitionFilters", "event_date")),
    // DYNAMIC pruning: the dim filter reaches the fact scan as a
    // runtime subquery, not a literal
    "join_partition_prune" -> Seq(("PartitionFilters", "dynamicpruning")),
    // ANN layouts: probes (and the label predicate, where the layout
    // has one) prune partitions
    "vec_ann_lsh_pruned" -> Seq(("PartitionFilters", "bucket")),
    "vec_ann_ivf_pruned" -> Seq(("PartitionFilters", "cell")),
    "vec_ann_filtered" -> Seq(
      ("PartitionFilters", "label"), ("PartitionFilters", "cell")),
    "stream_vec_ingest" -> Seq(("PartitionFilters", "cell")),
    "stream_vec_ingest_filtered" -> Seq(
      ("PartitionFilters", "label"), ("PartitionFilters", "cell")),
    // the PQ tiers' FINAL plan is the exact rerank: its layout scan
    // must push the candidate-id IN list (row-group skipping over the
    // id-sorted layout). The ADC stage's cell PartitionFilters are an
    // earlier eager execution, pinned on that stage's own frame in
    // VectorOpsSpec — not visible in the returned plan.
    "vec_ann_ivfpq" -> Seq(("PushedFilters", "In(vec_id")),
    "stream_pq_ingest" -> Seq(("PushedFilters", "In(vec_id")))

  /** Node-level plan invariants — the join/window twins of
    * [[expectedShapes]]'s scan rows (VERDICT r15 ask #5): shapes whose
    * loss keeps results correct while silently changing the 100 TB
    * cost class (a bucketed join that starts shuffling, a rank filter
    * that stops pushing below the exchange, a dim join that falls back
    * to shuffle). Rules match EXACT class simple names over every node
    * of the executed plan (adaptive/staged subtrees and subqueries
    * walked). Gated per entry by PlanShapeSpec. */
  sealed trait NodeRule { def violation(nodes: Seq[SparkPlan]): Option[String] }

  /** At least `atLeast` nodes of class `cls` anywhere in the plan. */
  final case class NodePresent(cls: String, atLeast: Int = 1)
      extends NodeRule {
    def violation(nodes: Seq[SparkPlan]): Option[String] = {
      val n = nodes.count(_.getClass.getSimpleName == cls)
      if (n >= atLeast) None
      else Some(s"expected >=$atLeast $cls node(s), found $n")
    }
  }

  /** No node of class `cls` ANYWHERE in the plan — the whole-plan
    * absence for entries that must stay map-only (a shuffle appearing
    * in a Generate-over-scan pipeline is a silent cost-class change). */
  final case class NodeAbsent(cls: String) extends NodeRule {
    def violation(nodes: Seq[SparkPlan]): Option[String] = {
      val n = nodes.count(_.getClass.getSimpleName == cls)
      if (n == 0) None else Some(s"expected no $cls node, found $n")
    }
  }

  /** No literal anywhere in the plan's expression trees holding more
    * than `maxLeaves` primitive values (arrays/structs counted DEEP:
    * an array of k structs each carrying a d-long vector counts k·d) —
    * the centroid-relation discipline (VERDICT r16): a model table
    * baked into the expression tree plans fine at bounded k but breaks
    * codegen/planning once k scales with the corpus, so scaled models
    * must arrive as broadcast-joined RELATIONS. Gated in SemDedupSpec
    * on the lazy assignment probe (the production Lloyd frames execute
    * eagerly inside checkpoints and never appear in entry plans). */
  final case class NoWideLiteral(maxLeaves: Int) extends NodeRule {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    private def leaves(v: Any, dt: DataType): Long = (v, dt) match {
      case (null, _) => 0L
      case (a: ArrayData, ArrayType(et, _)) =>
        (0 until a.numElements())
          .map(i => leaves(a.get(i, et), et)).sum
      case (r: InternalRow, st: StructType) =>
        st.fields.zipWithIndex
          .map { case (f, i) => leaves(r.get(i, f.dataType), f.dataType) }
          .sum
      case _ => 1L
    }
    def violation(nodes: Seq[SparkPlan]): Option[String] = {
      val wide = nodes.flatMap(_.expressions).flatMap(_.collect {
        case l: Literal => leaves(l.value, l.dataType)
      }).filter(_ > maxLeaves)
      if (wide.isEmpty) None
      else Some(s"literal(s) wider than $maxLeaves leaves: " +
        wide.sorted.reverse.take(3).mkString(","))
    }
  }

  /** No node of class `cls` STRICTLY BELOW any node of class `root` —
    * the subtree-scoped absence (an entry may legitimately shuffle
    * elsewhere, e.g. a post-join aggregation on a different key). */
  final case class NodeAbsentUnder(root: String, cls: String)
      extends NodeRule {
    def violation(nodes: Seq[SparkPlan]): Option[String] = {
      val roots = nodes.filter(_.getClass.getSimpleName == root)
      if (roots.isEmpty) return Some(s"no $root node to scope under")
      val bad = roots.exists(r => collectNodes(r).drop(1)
        .exists(_.getClass.getSimpleName == cls))
      if (bad) Some(s"found a $cls under a $root") else None
    }
  }

  val expectedNodes: Map[String, Seq[NodeRule]] = Map(
    // co-located bucketed join: the SortMergeJoin reads both sides'
    // buckets directly — no exchange BELOW the join, at any table size
    // (the post-join groupBy on a different key may shuffle; that
    // exchange is above the join and out of scope). A LOCAL SortExec
    // per bucket is expected and accepted: since Spark 3.1 bucketed
    // scans do not advertise bucket-local sort order unless
    // spark.sql.legacy.bucketedTableScan.outputOrdering is enabled
    // (advertising it costs a planning-time file listing — the wrong
    // trade at 100 TB), so the join re-sorts each co-located bucket
    // in place: shuffle-free, and near-free on the already-sorted runs.
    "join_bucketed" -> Seq(
      NodePresent("SortMergeJoinExec"),
      NodeAbsentUnder("SortMergeJoinExec", "ShuffleExchangeExec")),
    // rank-filter pushdown: the rk<=3 filter must plan as a
    // WindowGroupLimit PAIR (Partial below the exchange, Final above),
    // so each map task forwards <=3 rows per doc and the shuffle
    // carries O(docs*k), not the full (doc, token) relation
    "text_keywords_tfidf" -> Seq(
      NodePresent("WindowGroupLimitExec", atLeast = 2)),
    // the two tiny dims (nation, region) ride broadcast joins — a
    // fallback to shuffle would move the fact relation for a
    // 25/5-row dim
    "agg_star_schema" -> Seq(
      NodePresent("BroadcastHashJoinExec", atLeast = 2)),
    // null-safe (<=>) equi-join against the tiny banded dim: broadcast
    // hash join supports the null-safe key directly — losing it would
    // shuffle the fact side for a 5-row dim
    "join_null_safe" -> Seq(NodePresent("BroadcastHashJoinExec")),
    // the chunker is scan → Generate → project, MAP-ONLY by design:
    // any exchange appearing here means the chunk law stopped being a
    // per-row expression (the whole point of block chunking at 100 TB)
    "text_chunk_overlap" -> Seq(
      NodePresent("GenerateExec"), NodeAbsent("ShuffleExchangeExec")),
    // the two stateless front-door passes are pure per-row projections:
    // an exchange in either means normalization/extraction stopped
    // being map-only (the property that makes them free at crawl scale)
    "text_normalize_unicode" -> Seq(NodeAbsent("ShuffleExchangeExec")),
    "text_html_extract" -> Seq(NodeAbsent("ShuffleExchangeExec")),
    // DSIR scoring: the B-row score relation must ride a BROADCAST join
    // into the token stream — a sort-merge fallback would shuffle the
    // exploded token relation (≈13× corpus text) to meet 256 rows
    "sample_dsir" -> Seq(NodePresent("BroadcastHashJoinExec")),
    // BM25 top-k: the rk<=15 per-query cut must plan as a
    // WindowGroupLimit pair so each map task forwards <=15 rows per
    // query — losing it shuffles the full (query, doc) score relation
    "text_bm25_topk" -> Seq(
      NodePresent("WindowGroupLimitExec", atLeast = 2)),
    // RRF fusion: same rank-cut discipline on the fused relation (the
    // retriever-side cuts execute eagerly inside their own stages)
    "vec_hybrid_rrf" -> Seq(
      NodePresent("WindowGroupLimitExec", atLeast = 2)),
    // batch BQ: the Hamming candidate cut must also ride a
    // WindowGroupLimit pair — losing it shuffles the full
    // |queries|×corpus (query, id, hamming) relation (the broadcast
    // joins are hint-pinned and cannot degrade; the window cut can)
    "vec_ann_bq_batch" -> Seq(
      NodePresent("WindowGroupLimitExec", atLeast = 2)),
    // binary-quantization ANN: both cuts plan as TakeOrderedAndProject
    // (per-partition heap + bounded driver merge) and the whole probe
    // is exchange-free — an exchange here means the 8-byte-signature
    // prefilter started shuffling 256-byte vectors
    "vec_ann_bq" -> Seq(
      NodePresent("TakeOrderedAndProjectExec", atLeast = 2),
      NodeAbsent("ShuffleExchangeExec")),
    // recall eval: the EXACT side's per-query top-10 cut must keep the
    // WindowGroupLimit pair (the approx side's cuts execute eagerly
    // inside bqTopKBatch's checkpoints) — losing it shuffles the full
    // |queries|×corpus score relation to compute a 3-row metric
    "vec_recall_eval" -> Seq(
      NodePresent("WindowGroupLimitExec", atLeast = 2)),
    // epoch planner: the m-row totals ride a broadcast nested-loop
    // cross join — a shuffle fallback would repartition the stats frame
    // corpus-side if the checkpoint discipline ever regressed (the
    // output orderBy's range exchange over the m-row frame is expected
    // and out of scope; the corpus-scanned-once property itself is
    // pinned by the localCheckpoint)
    "pipeline_epoch_plan" -> Seq(
      NodePresent("BroadcastNestedLoopJoinExec")))
    // graph_modularity has no node row: every join runs eagerly inside
    // GraphOps.modularity's bounded localCheckpoints (labels) or
    // against checkpointed g, and the returned plan is the tiny
    // union-of-single-row-aggregates tail — gating nodes there would
    // pin the wrong stage (the vec_mmr_rerank_batch rationale).
    // vec_mmr_rerank_batch has no node row: its corpus-side joins
    // (candidate re-attach) carry an EXPLICIT broadcast() hint — which
    // Spark honors unconditionally, so it cannot silently degrade — and
    // execute eagerly inside the bounded-frame localCheckpoints, so the
    // returned plan only shows the post-checkpoint m²-row stages (any
    // BroadcastHashJoin visible there would be the sims self-join, not
    // the invariant; asserting it would gate the wrong node).
    // agg_bloom_join has no node row: its broadcast is the ~KB filter
    // INSIDE the probe UDF (not a plan node), and the within_fpp output
    // column already hash-pins the pre-filter semantics.

  /** Every node under `p`, walking adaptive/staged subtrees and
    * subqueries (self included, pre-order). */
  def collectNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(collectNodes)
  }

  /** Every FileSourceScanExec under `p`, walking adaptive/staged
    * subtrees and subqueries. */
  def collectScans(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    val self = p match {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case _ => Seq.empty
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    self ++ kids.flatMap(collectScans)
  }

  /** Violations of [[expectedShapes]] for `name`'s executed plan —
    * empty when the entry has no expectation or every needle is
    * carried by some scan. */
  def shapeViolations(name: String, plan: SparkPlan): Seq[String] = {
    val reqs = expectedShapes.getOrElse(name, Nil)
    val scanViolations = if (reqs.isEmpty) Nil else {
      val scans = collectScans(plan)
      reqs.flatMap { case (key, needle) =>
        val ok = scans.exists(_.metadata.get(key)
          .exists(_.toLowerCase.contains(needle.toLowerCase)))
        if (ok) None
        else Some(s"$name: no FileScan whose $key contains '$needle' " +
          s"(${scans.size} scans inspected)")
      }
    }
    val nodeRules = expectedNodes.getOrElse(name, Nil)
    val nodeViolations = if (nodeRules.isEmpty) Nil else {
      val nodes = collectNodes(plan)
      nodeRules.flatMap(_.violation(nodes).map(v => s"$name: $v"))
    }
    scanViolations ++ nodeViolations
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // the session logs at WARN, so WindowExec's own single-partition
    // warning interleaves with the per-entry markers below: eager
    // executions inside an entry's builder (checkpoint loops, fixture
    // writes) never appear in the FINAL plan, but their warnings land
    // between markers.
    val spark = LocalSession()

    // walk INTO adaptive plans and reused/staged subtrees, then collect
    def windows(p: SparkPlan): Seq[(String, SparkPlan)] = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          Seq(("WindowExec", w))
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          Seq(("WindowGroupLimitExec", w))
        case _ => Seq.empty
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children ++ other.subqueries
      }
      self ++ kids.flatMap(windows)
    }

    val only: Option[Set[String]] =
      args.drop(1).headOption.map(_.split(",").toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try {
        System.err.println(s"[audit-entry] $name")
        val df = fn(spark, sfDir)
        val hits = windows(df.queryExecution.executedPlan)
        hits.foreach { case (kind, w) =>
          println(s"$name\t$kind\t${w.simpleStringWithNodeId().take(160)}")
        }
        shapeViolations(name, df.queryExecution.executedPlan)
          .foreach(v => println(s"$name\tShapeViolation\t$v"))
        if (only.isDefined) {
          // force execution so AQE finalizes, then report plan shape
          df.write.format("noop").mode("overwrite").save()
          val plan = df.queryExecution.executedPlan.toString
          def n(re: String) = re.r.findAllIn(plan).size
          System.err.println(s"[audit-plan] $name scans=${n("FileScan ")} " +
            s"reused=${n("Reused")} windows=${n("WindowExec")}")
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[audit] $name failed to plan: ${e.getClass.getSimpleName}")
      }
    }
    spark.stop()
  }
}
