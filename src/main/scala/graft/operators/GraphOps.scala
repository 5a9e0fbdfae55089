package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftOps._

/** Distributed iterative graph operators.
  *
  * [[connectedComponents]] turns near-duplicate PAIRS into dedup GROUPS
  * (every doc labeled with the min doc id of its component) — the step a
  * real dedup pipeline needs between pair generation and keeper selection.
  */
object GraphOps {

  /** Vertex-sized broadcast cap (rows, not bytes) for the counted
    * per-round broadcasts below: a (vertex) row collects to ~16–24 B,
    * so 4M rows keeps the driver-built HashedRelation inside a modest
    * heap — the [[graft.operators.Dedup.DefaultBroadcastPairCap]]
    * rationale. Above the cap the operators keep their keyed-shuffle
    * plans unchanged (never quadratic, never driver-sized).
    */
  val BroadcastVertexCap = 4000000L

  /** Checkpoint `df` HASH-PARTITIONED and SORTED by `key`: the
    * checkpointed `LogicalRDD` carries that partitioning and ordering
    * into every downstream plan, so an iterative loop that joins the
    * frame on `key` every round exchanges (and sorts) only the other,
    * vertex-sized side — the adjacency is shuffled ONCE per operator
    * instead of once per iteration (guide §2.4: operations keyed the
    * same way share one exchange; measured r15: the rank loops were
    * re-exchanging ~25 MB of edges per round at sf0.1, ~90% of those
    * queries' total shuffle, and the r15 keyed plans read the edge
    * scan directly under the per-round SortMergeJoin with no Exchange
    * and no Sort).
    *
    * The partition count is SCALE-ADAPTIVE, not the raw
    * shuffle-partition constant: `sizeHint` must be an eager graft
    * checkpoint sized like `df` (often `df`'s own dominant input);
    * its MEASURED block bytes divided by AQE's advisory partition
    * size — the same sizing rule AQE's coalescing applies to
    * shuffles — give the count, clamped to [1, shuffle partitions].
    * A fixed count of `spark.sql.shuffle.partitions` measured +13%
    * wall at sf0.1 (hundreds of micro-task stages per loop); letting
    * AQE coalesce instead loses the partitioning entirely (below), so
    * the operator re-derives AQE's own answer from ground truth and
    * keeps the layout. Unknown size (no blocks) falls back to the
    * shuffle-partition count — the conservative wide side.
    *
    * The checkpoint is MATERIALIZED WITH AQE OFF: under AQE the
    * executed plan is an AdaptiveSparkPlanExec, whose
    * outputPartitioning is UnknownPartitioning(0) (it never overrides
    * SparkPlan's default), so `LogicalRDD.fromDataset` would forget
    * the layout this exchange just paid for and every later join
    * would re-shuffle the frame anyway. The statement's plan is a
    * fixed repartition + sort — AQE has nothing to adapt — and the
    * toggle is restored before anything else plans; the iterative
    * consumers run their per-round plans under AQE unchanged.
    *
    * Skew caveat: a hot `key` concentrates in one partition exactly
    * as it did in the per-round exchanges this replaces — no new skew
    * exposure.
    */
  private def keyedCheckpoint(df: DataFrame, key: String,
                              sizeHint: DataFrame): DataFrame =
    org.apache.spark.sql.GraftColumns.keyedCheckpoint(
      df, adaptiveParts(sizeHint), Seq(col(key)), Seq(col(key)))

  /** [[keyedCheckpoint]] for a frame with no sibling checkpoint to
    * size from: materializes `df` once (plain checkpoint), measures
    * it, re-keys from the blocks, releases the unkeyed copy. The
    * extra pass is one local block read — the hoisted cost that
    * replaces an exchange PER ROUND.
    */
  private def keyedCheckpoint(df: DataFrame, key: String): DataFrame = {
    val ck = df.graftCheckpoint()
    try keyedCheckpoint(ck, key, sizeHint = ck)
    finally org.apache.spark.sql.GraftColumns.unpersistCheckpoint(ck)
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (the
    * large-star / small-star algorithm of Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond") — the round
    * count is O(log n) on EVERY graph shape, including the
    * plateau-structured near-dup graphs where pointer jumping
    * degenerates (r11 A/B: min-label propagation + pointer jumps ran
    * q145's component graph in 17 rounds because labels self-root at
    * every LOCAL minimum and `comp(comp(v))` is then the identity —
    * plateaus merged one edge per round; star contraction rewires the
    * EDGES, so plateaus merge geometrically).
    *
    * Edges live canonically as (a, b) with a > b. Per round:
    *  - LARGE-STAR: every vertex u connects each strictly-larger
    *    neighbor to m(u) = min(u, N(u)) — one groupBy over the
    *    symmetric adjacency + one join back;
    *  - SMALL-STAR: every vertex a connects itself and each smaller
    *    neighbor to m = min of its smaller neighbors — one groupBy
    *    over the canonical edges + one join back.
    * Both phases strictly shrink edge endpoints; connectivity is
    * preserved round to round, and the fixpoint is one star per
    * component centered at the component MINIMUM (their Theorem 1) —
    * exactly the min-label output the dedup layer consumes.
    *
    * Termination is exact and O(1) per round: each phase maps every
    * input edge to exactly one output edge whose endpoints are
    * coordinatewise ≤ the input's, then dedups. So (count,
    * Σ(a+b) in decimal) is a sound convergence witness: count
    * unchanged ⟹ the dedup removed nothing (outputs never exceed
    * inputs) ⟹ the map was a bijection; sum unchanged under
    * elementwise-≤ terms ⟹ every edge mapped to ITSELF ⟹ fixpoint.
    * (No sign assumption — the inequality is per-edge, not global.)
    * If still moving at `maxIter` this THROWS rather than silently
    * returning split components.
    *
    * Output: (vertex, component) — component = min vertex id
    * reachable. Only vertices appearing in `edges` are labeled
    * (self-loop-only vertices label themselves). Vertex ids must be
    * integral (the old min-label engine already required this — its
    * decimal label-sum witness was the same contract).
    *
    * Round cost: 2 aggregates + 2 joins + 2 dedups over the EDGE
    * frame in ONE job per round — both star phases ride LAZY
    * checkpoints (large shared by its two small-star consumers) and
    * the 1-row witness agg is the materializing action (r16; r15 paid
    * a dedicated eager small-star checkpoint job plus the witness
    * sweep). Cadence by measurement,
    * re-taken when the engine under it changed: the r10 A/B
    * (pre-clampStats) had eager-per-phase winning by 16-28%; the r12
    * re-run WITH the checkpoint stats clamp (sf0.1 near-dup pair
    * graph, min-of-4; SURVEY §9 round-12 A/B) flipped it — the folded
    * round is ~36% faster (1.18 s vs 1.84 s) because the large-star
    * blocks persist inside the round's witness job instead of paying
    * a job of their own, while the lazy checkpoint still gives both
    * small-star consumers one shared RDD (no duplicated subplan, no
    * exchange-reuse race).
    *
    * RELEASE CONTRACT: the returned frame is a final localCheckpoint
    * and doubles as the release handle (every per-round intermediate
    * is already released) — long-lived callers
    * `GraftColumns.unpersistCheckpoint(result)` once done; one-shot
    * batch queries can let session cleanup collect it. Same contract
    * for [[connectedComponentsWithStats]].
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 50): DataFrame =
    connectedComponentsWithStats(edges, srcCol, dstCol, maxIter)._1

  /** [[connectedComponents]] plus the number of large+small star
    * rounds it ran — the convergence diagnostic behind SURVEY §9's
    * rounds-vs-diameter curves.
    */
  def connectedComponentsWithStats(edges: DataFrame, srcCol: String,
                                   dstCol: String, maxIter: Int = 50)
      : (DataFrame, Int) = {
    import org.apache.spark.sql.GraftColumns
    // materialize the (possibly expensive) edge plan ONCE - the vertex
    // set and the canonical edge set both read it
    val e0 = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .graftCheckpoint()
    val verts = e0.select(col("u").as("id"))
      .union(e0.select(col("v").as("id")))
      .distinct()
      .graftCheckpoint()
    var cur = e0.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("a"),
              least(col("u"), col("v")).as("b"))
      .distinct()
      .graftCheckpoint()
    GraftColumns.unpersistCheckpoint(e0)

    // (edge count, decimal endpoint sum) - the sound witness above
    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(
        count(lit(1)),
        sum(col("a").cast("decimal(38,0)") +
            col("b").cast("decimal(38,0)"))).collect()(0)
      (r.getLong(0),
       if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }

    var prev = checksum(cur)
    var iter = 0
    var converged = prev._1 == 0L // no edges -> all self-labeled
    while (!converged && iter < maxIter) {
      // LARGE-STAR over the symmetric adjacency: m(u) = min(u, N(u));
      // each strictly-larger neighbor v of u re-wires to (v, m(u)).
      // The large-star result rides a LAZY checkpoint (r12 cadence A/B
      // with clampStats in place: ONE eager checkpoint per star round
      // instead of two measured 1.18 s vs 1.84 s min-of-4 on the
      // sf0.1 near-dup pair graph): lineage is truncated and the two
      // small-star consumers below share one RDD — no duplicated
      // subplan, no exchange-reuse race (the q269 lesson) — while the
      // blocks persist inside the round's checksum job instead of a
      // job of their own. Storage stays O(1): the handle is released
      // with the round.
      val sym = cur.select(col("a").as("x"), col("b").as("y"))
        .union(cur.select(col("b").as("x"), col("a").as("y")))
      // COUNTED broadcast of the per-vertex minima (r15): `prev._1` is
      // the round's already-known edge count, and the min maps carry
      // one row per DISTINCT ENDPOINT — up to 2·edges of them (a
      // perfect matching), so the witness is 2·prev._1 (r15 ADVICE:
      // gating on prev._1 alone could admit ~8M-row broadcasts, double
      // the cap's documented driver-heap budget). Under the cap the
      // vertex-sized min maps ship as broadcasts and the two edge-sized
      // join-side exchanges per round disappear — the distinct()s stay
      // the only edge-sized exchanges. Above the cap the keyed-shuffle
      // plan is unchanged (never quadratic).
      def cntBcast(df: DataFrame): DataFrame =
        if (2L * prev._1 <= BroadcastVertexCap) broadcast(df) else df
      val mins = cntBcast(sym.groupBy(col("x"))
        .agg(least(min(col("y")), col("x")).as("m"))
        .select(col("x").as("mx"), col("m")))
      val large = sym.filter(col("y") > col("x"))
        .join(mins, col("x") === col("mx"))
        .select(col("y").as("a"), col("m").as("b"))
        .distinct()
        .graftCheckpointLazy()
      // SMALL-STAR over the canonical edges: a and its smaller
      // neighbors all re-wire to min(N_smaller(a))
      val smin = large.groupBy(col("a"))
        .agg(min(col("b")).as("m"))
        .select(col("a").as("sa"), col("m"))
      // The round's result rides a LAZY checkpoint whose materializing
      // action IS the convergence witness below (r16): the checksum
      // job computes large → small, persists both, and aggregates in
      // ONE job — the r15 shape paid a dedicated eager-checkpoint job
      // per round plus the witness sweep of the fresh blocks. The
      // previous round's blocks are released only AFTER the witness
      // materializes this round (a truncated localCheckpoint cannot be
      // recomputed once unpersisted).
      val smallRaw = large
        .join(cntBcast(smin), col("a") === col("sa"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .unionByName(smin.select(col("sa").as("a"), col("m").as("b")))
        .distinct()
      if (iter == 0 && sys.env.contains("GRAFT_CC_DEBUG")) {
        // debug-only round-1 plan probe (the GRAFT_RANK_DEBUG
        // convention): execute the un-checkpointed round through its
        // own QueryExecution and print the finalized post-AQE plan —
        // the evidence hook for the counted star-min broadcasts, which
        // the final frame's plan cannot show (each round hides behind
        // a LogicalRDD scan)
        val dbgQe = smallRaw
          .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
          .queryExecution
        dbgQe.toRdd.count()
        println(dbgQe.executedPlan.toString)
      }
      val small = smallRaw.graftCheckpointLazy()
      val prevCur = cur
      cur = small
      val s = checksum(cur)
      GraftColumns.unpersistCheckpoint(large)
      GraftColumns.unpersistCheckpoint(prevCur)
      // compareTo, not equals: BigDecimal.equals is scale-sensitive
      converged = s._1 == prev._1 && s._2.compareTo(prev._2) == 0
      prev = s
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds - " +
        "rerun with a larger maxIter")
    // stars: every non-center appears exactly once on the a side with
    // its center as b (min agg is belt-and-braces, exact at fixpoint);
    // centers and self-loop-only vertices label themselves
    val leaf = cur.groupBy(col("a")).agg(min(col("b")).as("__c"))
      .select(col("a").as("id"), col("__c"))
    val labels = verts
      .join(leaf, Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("comp"))
      .graftCheckpoint()
    GraftColumns.unpersistCheckpoint(cur)
    GraftColumns.unpersistCheckpoint(verts)
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      println(s"[cc] star rounds=$iter")
    (labels, iter)
  }

  /** Fixed-iteration PageRank in EXACT INTEGER arithmetic.
    *
    * Ranks live in integer "units" summing to ≤ `totalUnits`; every
    * division is a floor division on nonnegative longs, so the result
    * is bit-identical at any partitioning and any engine that agrees
    * on integer division — which is what lets a SQL oracle re-derive
    * it (float PageRank sums in shuffle order and can't be hash-gated).
    * Update rule per iteration, damping d = num/den:
    *
    *   rank'(v) = (totalUnits·(den−num)) div (den·N)
    *            + Σ over in-edges (u,v) of
    *                (rank(u)·num·w(u,v)) div (den·outweight(u))
    *
    * (unweighted: w = 1 and outweight = outdegree — the original
    * recurrence, bit-for-bit).
    *
    * Floor remainders (and mass at dangling nodes — nodes with no
    * out-edges) simply drop out of circulation each round instead of
    * being redistributed: ranks are comparable, not a probability
    * simplex, and the variant is documented rather than patched with
    * a float correction the oracle couldn't mirror.
    *
    * Scale shape: per iteration one hash join of ranks onto edges (on
    * src) and one map-combined sum by dst — the same two exchanges any
    * distributed PageRank pays; `localCheckpoint` truncates lineage and
    * the previous round's blocks are released, so storage is O(1)
    * rounds. Outdegrees are joined in once, riding the same src keying.
    * Iteration count is a caller-fixed constant (rank queries want a
    * known budget, and convergence-testing floats is exactly the
    * nondeterminism this formulation removes).
    *
    * Output: (node, rank_units) for every node appearing in `edges`.
    *
    * RELEASE CONTRACT: result == handle (the [[connectedComponents]]
    * convention) — the final ranks checkpoint is the only block the
    * result pins; intermediates are released before return.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, totalUnits: Long = 1000000000000L,
               dampNum: Long = 85, dampDen: Long = 100,
               weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampNum > 0 && dampNum < dampDen,
            s"damping must satisfy 0 < num < den, got $dampNum/$dampDen")
    // weighted variant: mass flows proportionally to integer edge
    // weights — contribution (r·num·w) div (den·W_u) with W_u the
    // node's total out-weight. weightCol ABSENT ⟹ w = 1 and W_u =
    // outdeg: the multiply-by-1 leaves every floor division identical,
    // so the unweighted path is bit-for-bit the original recurrence.
    // Overflow bound: r·num·w ≤ totalUnits·num·max_w must fit int64 —
    // at the 1e12/85 defaults that allows max_w up to ~10⁵; rescale
    // weights (the flow is ratio-invariant) beyond that. ENFORCED
    // below for the weighted path (control-plane aggregates, fail-loud
    // with the rescale hint), along with w ≥ 1: a zero/negative/null
    // weight would make the per-edge div NULL and sum() would silently
    // drop it — wrong ranks with no error, which this operator's
    // exact-integer contract forbids.
    val w = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                         w.as("__w"))
      .graftCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .graftCheckpoint()
    val n = nodes.count() // control-plane scalar: one number, not data
    if (n == 0) {
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(e)
      return nodes.withColumn("rank_units", lit(0L))
    }
    val base = totalUnits * (dampDen - dampNum) / (dampDen * n)
    if (weightCol.isDefined) {
      // fail-loud weighted-path preconditions — two 1-row control-plane
      // aggregates over the checkpointed edges, paid once, not per round
      val wstats = e.agg(
        count(when(col("__w").isNull || col("__w") <= 0, 1)).as("n_bad"),
        max(col("__w")).as("max_w")).head()
      val nBad = wstats.getLong(0)
      require(nBad == 0,
        s"weighted pageRank requires integer weights >= 1: $nBad edge(s) " +
        s"have a null or non-positive '${weightCol.get}' (a 0/negative/" +
        "null weight makes the per-edge division NULL and its mass would " +
        "be silently dropped)")
      val maxW = wstats.getLong(1)
      val maxWAllowed = Long.MaxValue / totalUnits / dampNum
      require(maxW <= maxWAllowed,
        s"weighted pageRank overflow: max($weightCol) = $maxW but " +
        s"rank*dampNum*w must fit int64, which at totalUnits=$totalUnits " +
        s"dampNum=$dampNum allows weights up to $maxWAllowed. Rescale the " +
        "weights (mass flow is ratio-invariant, e.g. divide all weights " +
        "by their gcd or a common factor) or lower totalUnits.")
    }
    // adjacency WITH outdegree, materialized once — the deg join is
    // loop-invariant, so hoisting it halves the joins every iteration
    // pays (this is the preprocessed adjacency any PageRank ships to
    // the loop)
    val outw = e.groupBy(col("src")).agg(sum(col("__w")).as("__outw"))
    if (weightCol.isDefined) {
      // denominator bound: dampDen·W_u must fit int64 for every node
      val maxOutw = outw.agg(max(col("__outw"))).head().getLong(0)
      require(maxOutw <= Long.MaxValue / dampDen,
        s"weighted pageRank overflow: a node's total out-weight $maxOutw " +
        s"times dampDen=$dampDen exceeds int64; rescale the weights " +
        "(mass flow is ratio-invariant).")
    }
    // COUNTED broadcast gate decided up front (n is the exact node
    // count, a control-plane scalar): under the cap the per-round rank
    // frame ships as a broadcast; above it the keyed SortMergeJoin
    // plan on src is unchanged.
    val bcastRanks = n <= BroadcastVertexCap
    // Adjacency keyed by the layout the ROUND actually consumes (r16,
    // guide §2.4 second bite): under the broadcast gate the per-round
    // join needs no src layout (the rank side is the broadcast), but
    // the contribution aggregate groups by dst and the restart join
    // keys on node — so key the adjacency by DST and co-key nodesBase
    // by node at the SAME partition count, and the whole round plans
    // with ZERO exchange (probe → partial-only agg on the dst layout →
    // co-partitioned left join). r15 kept src keying, which left one
    // vertex-sized agg exchange + the base-join exchanges per round.
    // Above the cap the src keying stays (the SMJ joins on src).
    val (ew, nodesBase) =
      if (bcastRanks) {
        val p = adaptiveParts(e)
        // outw is vertex-sized and n ≤ BroadcastVertexCap here, so the
        // outdegree attachment rides a broadcast probe — the dst keying
        // then pays exactly ONE edge exchange, same as the src keying
        // (which reused the src-join's layout; a shuffled src join
        // followed by a dst repartition would pay two).
        (org.apache.spark.sql.GraftColumns.keyedCheckpoint(
           e.join(broadcast(outw), Seq("src")), p,
           Seq(col("dst")), Seq(col("dst"))),
         org.apache.spark.sql.GraftColumns.keyedCheckpoint(
           nodes.withColumn("__base", lit(base)), p,
           Seq(col("node")), Seq(col("node"))))
      } else
        (keyedCheckpoint(e.join(outw, Seq("src")), "src", sizeHint = e),
         nodes.withColumn("__base", lit(base)))

    if (sys.env.contains("GRAFT_RANK_DEBUG")) {
      def part(df: DataFrame): String =
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
          .queryExecution.analyzed match {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            s"${l.outputPartitioning}"
          case o => s"not-a-LogicalRDD: ${o.getClass.getSimpleName}"
        }
      println(s"[rank] p from e bytes: ew=${part(ew)} " +
        s"nodesBase=${part(nodesBase)}")
    }
    val ranks = rankLoop(
      ew, nodesBase,
      nodes.withColumn("rank_units", lit(totalUnits / n)).graftCheckpoint(),
      iterations, dampNum, dampDen,
      broadcastRanks = bcastRanks)
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(e)
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(ew)
    if (bcastRanks)
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(nodesBase)
    // ranks is itself checkpointed (materialized), so releasing the node
    // blocks here cannot recompute anything downstream
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(nodes)
    ranks
  }

  /** The scale-adaptive partition count [[keyedCheckpoint]] derives —
    * exposed so two frames that must be CO-PARTITIONED (the dst-keyed
    * adjacency and the node-keyed base frame of the broadcast-gated
    * rank loop) are keyed with one agreed count.
    */
  private def adaptiveParts(sizeHint: DataFrame): Int = {
    import org.apache.spark.sql.GraftColumns
    val conf = sizeHint.sparkSession.sessionState.conf
    val maxP = conf.numShufflePartitions
    val bytes = GraftColumns.materializedBytes(sizeHint)
    val advisory = math.max(1L, conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    // Floor at 2, not 1: a 1-partition keyed checkpoint's LogicalRDD
    // claims SinglePartition, and EnsureRequirements re-shuffles BOTH
    // sides of a join whose co-partitioning rests on a SinglePartition
    // spec (measured: the p=1 round plan exchanged both sides to the
    // shuffle-partition count; p=2 plans the zero-exchange round).
    if (bytes <= 0L) maxP
    else math.max(2L, math.min(maxP.toLong,
      (bytes + advisory - 1L) / advisory)).toInt
  }

  /** The shared PageRank recurrence: per iteration ONE keyed join of
    * ranks onto the prepped adjacency (`ew` = edges with `__w` and
    * per-src `__outw`) + one map-combined sum by dst, then restart
    * mass from `nodesBase`'s per-node `__base` column — a CONSTANT
    * column for classic PageRank, a seed-indicator column for the
    * personalized variant; the loop itself is identical. Each round
    * localCheckpoints and releases the previous round's blocks, so
    * lineage and storage stay O(1) in the iteration count.
    */
  private def rankLoop(ew: DataFrame, nodesBase: DataFrame,
                       ranks0: DataFrame, iterations: Int,
                       dampNum: Long, dampDen: Long,
                       broadcastRanks: Boolean = false): DataFrame = {
    // Cadence by measurement, re-taken whenever the engine under it
    // changes: the r10 A/B (pre-clampStats) had eager-per-round winning
    // by 15-30%; the r12 re-run WITH `GraftColumns.clampStats` in place
    // (sf0.1/local[32], min-of-8 across two sessions; SURVEY §9
    // round-12 A/B) flipped it — one LAZY checkpoint per round, the whole
    // chain materialized by a single job, is ~12% faster (2.87 s vs
    // 3.28 s): lineage stays truncated per round (clamped stats, small
    // codegen units) but the per-round job-submission latency is paid
    // once instead of `iterations` times. "Eager every 2nd round" lost
    // to both (3.75 s). Tradeoff, documented: block storage during the
    // materializing job is O(iterations)·|V| narrow rows instead of
    // O(1) — at 5 fixed rounds and MEMORY_AND_DISK blocks that is
    // bounded and spillable; revisit before raising iteration counts
    // by 10×. Intermediates are released as soon as the chain is
    // materialized, so the steady-state contract (result == only live
    // checkpoint) is unchanged.
    var ranks = ranks0
    val handles = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var i = 0
    while (i < iterations) {
      val rankSide = ranks.select(col("node").as("src"),
                                  col("rank_units").as("__r"))
      val contrib = ew
        .join(if (broadcastRanks) broadcast(rankSide) else rankSide,
              Seq("src"))
        .select(col("dst").as("node"),
                expr(s"(__r * $dampNum * __w) div ($dampDen * __outw)")
                  .as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__in"))
      val nextRaw = nodesBase
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
                (col("__base") + coalesce(col("__in"), lit(0L)))
                  .as("rank_units"))
      if (i == 0 && sys.env.contains("GRAFT_RANK_DEBUG")) {
        // debug-only plan-shape probe (the GRAFT_CC_DEBUG convention):
        // execute round 1 standalone THROUGH ITS OWN QueryExecution
        // (r15 ADVICE: the old noop write ran a separate QE, so the
        // printed plan was the never-executed initial adaptive plan)
        // and print the finalized post-AQE plan — the lazy checkpoint
        // below hides the round internals behind a LogicalRDD scan
        val dbgQe = nextRaw
          .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
          .queryExecution
        dbgQe.toRdd.count()
        println(dbgQe.executedPlan.toString)
      }
      val next = nextRaw.graftCheckpointLazy()
      handles += next
      ranks = next
      i += 1
    }
    // ONE materializing job persists the whole chain; then every
    // intermediate round (and the caller's ranks0 checkpoint) is
    // released, leaving only the final ranks blocks live.
    ranks.count()
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(ranks0)
    handles.dropRight(1).foreach(
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(_))
    ranks
  }

  /** PERSONALIZED PageRank, EXACT INTEGER: the teleport mass restarts
    * at a SEED SET instead of uniformly — rank becomes proximity to
    * the seeds through the link structure. The triage query of a
    * similarity graph: seed the known-bad docs, rank everything by
    * closeness (q147 seeds suppliers and ranks customers by trade
    * proximity). Same recurrence as [[pageRank]] (shared [[rankLoop]]);
    * only `base` changes from a constant to a per-node column:
    *
    *   base(v) = totalUnits·(den−num) div (den·|S|)  if v ∈ S, else 0
    *   rank0(v) = totalUnits div |S|                 if v ∈ S, else 0
    *
    * Every seed must appear in the graph — teleport mass aimed at an
    * absent node would silently vanish from circulation (a rescale
    * with no error), so that fails loud instead. Dangling-node mass
    * drains exactly as in [[pageRank]] (documented divergence).
    * Unweighted edges (w = 1): ranks never exceed totalUnits, so the
    * default units are int64-safe without a weight check.
    *
    * Output: (node, rank_units) for every node in `edges`; non-seed
    * nodes unreachable from the seeds get 0.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           seedCol: String, iterations: Int,
                           totalUnits: Long = 1000000000000L,
                           dampNum: Long = 85, dampDen: Long = 100)
      : DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampNum > 0 && dampNum < dampDen,
            s"damping must satisfy 0 < num < den, got $dampNum/$dampDen")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                         lit(1L).as("__w"))
      .graftCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .graftCheckpoint()
    val sd = seeds.select(col(seedCol).as("node")).distinct()
      .graftCheckpoint()
    val nSeedsTotal = sd.count() // control-plane scalars, one number each
    require(nSeedsTotal > 0,
      "personalizedPageRank needs a non-empty seed set")
    val nSeeds = sd.join(nodes, Seq("node")).count()
    require(nSeeds == nSeedsTotal,
      s"personalizedPageRank: ${nSeedsTotal - nSeeds} seed(s) do not " +
      "appear in the edge set — teleport mass aimed at an absent node " +
      "would silently vanish; drop absent seeds explicitly if intended.")
    val base = totalUnits * (dampDen - dampNum) / (dampDen * nSeeds)
    require(base > 0,
      s"personalizedPageRank: totalUnits=$totalUnits is too small for " +
      s"$nSeeds seeds at damping $dampNum/$dampDen (per-seed restart " +
      "mass floors to 0) — raise totalUnits.")
    val rInit = totalUnits / nSeeds
    // seed flag joined ONCE, materialized, and reused by both the base
    // column and the initial ranks — the per-node restart vector
    val nodesBase0 = nodes
      .join(sd.withColumn("__s", lit(1L)), Seq("node"), "left")
      .select(col("node"),
              when(col("__s").isNotNull, lit(base)).otherwise(lit(0L))
                .as("__base"))
      .graftCheckpoint()
    // counted broadcast gate — the [[pageRank]] rationale; the count
    // rides the materialized nodes checkpoint. Under the gate the
    // adjacency keys by DST and the base frame co-keys by node (the
    // pageRank zero-exchange-round layout); above it src keying stands.
    val bcastRanks = nodes.count() <= BroadcastVertexCap
    val outw = e.groupBy(col("src")).agg(sum(col("__w")).as("__outw"))
    val (ew, nodesBase) =
      if (bcastRanks) {
        val p = adaptiveParts(e)
        // broadcast-probed outdegree attachment — the [[pageRank]]
        // rationale: one edge exchange total for the dst keying
        (org.apache.spark.sql.GraftColumns.keyedCheckpoint(
           e.join(broadcast(outw), Seq("src")), p,
           Seq(col("dst")), Seq(col("dst"))),
         org.apache.spark.sql.GraftColumns.keyedCheckpoint(
           nodesBase0, p, Seq(col("node")), Seq(col("node"))))
      } else (keyedCheckpoint(e.join(outw, Seq("src")), "src",
                              sizeHint = e), nodesBase0)
    val ranks0 = nodesBase0
      .select(col("node"),
              when(col("__base") > 0, lit(rInit)).otherwise(lit(0L))
                .as("rank_units"))
      .graftCheckpoint()
    val ranks = rankLoop(ew, nodesBase, ranks0, iterations,
                         dampNum, dampDen,
                         broadcastRanks = bcastRanks)
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(e)
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(ew)
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(nodes)
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(sd)
    if (bcastRanks)
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(nodesBase)
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(nodesBase0)
    ranks
  }

  /** HITS (hubs and authorities), fixed iterations, EXACT INTEGER
    * arithmetic — the second classic link-analysis recurrence, and the
    * natural one for BIPARTITE relevance (suppliers as hubs, customers
    * as authorities; queries as hubs, documents as authorities):
    *
    *   auth(v)  = Σ over in-edges (u,v) of hub(u)
    *   hub(u)   = Σ over out-edges (u,v) of auth(v)
    *
    * each followed by integer max-normalization
    * `x' = (x · scale) div max(x)` — the floor-division analog of the
    * usual L∞ normalization, which keeps every score in [0, scale] so
    * the recurrence cannot overflow (unnormalized HITS grows like
    * degᶦ and leaves int64 in a handful of rounds). The max is ONE
    * 1-row aggregate per half-step — control-plane-sized, crossJoined
    * back as a broadcast literal, never a data-sized shuffle.
    *
    * Everything is floor arithmetic on nonnegative longs, so the
    * result is bit-reproducible and a SQL oracle can unroll it
    * (scalar-subquery max per half-step). Bound: a raw half-step sum
    * over in-edges is ≤ in-degree · scale, and the normalization then
    * multiplies that raw score by `scale` AGAIN before the div — so the
    * real constraint is degree · scale² < 2⁶³: at the default scale
    * 1e6 that admits degrees to ~9.2·10⁶ (int64max / scale²), not
    * deg·scale alone. ENFORCED: one control-plane max-degree aggregate
    * before the loop throws with a lower-scale hint instead of letting
    * non-ANSI arithmetic wrap silently.
    *
    * Output: (node, hub_e6, auth_e6). Nodes with no out-edges have
    * hub 0 (resp. auth 0 for no in-edges) — not an error, the
    * definition.
    *
    * RELEASE CONTRACT: result == handle (the [[connectedComponents]]
    * convention; the result joins the final hub/auth checkpoints,
    * both released by `unpersistCheckpoint`'s deep traversal).
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int, scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(scale >= 1, s"scale must be >= 1: $scale")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .graftCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .graftCheckpoint()
    if (nodes.isEmpty) {
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(e)
      return nodes.withColumn("hub_e6", lit(0L))
        .withColumn("auth_e6", lit(0L))
    }
    // overflow guard (see scaladoc): max(in-degree, out-degree) · scale²
    // must fit int64. One control-plane aggregate over the checkpointed
    // edges, paid once — the alternative is a silent wrap mid-recurrence.
    val maxDeg = e.groupBy(col("dst")).agg(count(lit(1)).as("d"))
      .select(max(col("d")).as("m"))
      .union(e.groupBy(col("src")).agg(count(lit(1)).as("d"))
               .select(max(col("d")).as("m")))
      .agg(max(col("m"))).head().getLong(0)
    val maxDegAllowed = Long.MaxValue / scale / scale
    require(maxDeg <= maxDegAllowed,
      s"hits overflow: max degree $maxDeg at scale=$scale would exceed " +
      s"int64 (degree*scale*scale must fit; allowed degree here: " +
      s"$maxDegAllowed). Lower `scale` — scores are ratio-comparable " +
      "at any scale.")

    // x' = (x * scale) div max(x); max(x) > 0 always holds where this
    // is called (scores start at `scale` everywhere and a max of 0
    // would mean an empty edge set, handled above)
    def normalized(scores: DataFrame, c: String): DataFrame = {
      val mx = scores.agg(max(col(c)).as("__mx"))
      scores.crossJoin(broadcast(mx))
        .select(col("node"),
                expr(s"($c * $scale) div __mx").as(c))
    }

    // NOT keyed-checkpointed (r15 A/B): the half-step score frames are
    // eager checkpoints with small EXACT stats, so the planner already
    // broadcasts them and the edge frame is never exchanged per round —
    // keyed copies only ADDED two full edge exchanges (q141 shuffle
    // 125 → 191 MB, wall +2 s). Leave the broadcast plan alone.
    var hub = nodes.withColumn("hub_e6", lit(scale)).graftCheckpoint()
    var auth = nodes.withColumn("auth_e6", lit(scale)).graftCheckpoint()
    var i = 0
    while (i < iterations) {
      val authRaw = nodes
        .join(e.join(hub.select(col("node").as("src"),
                                col("hub_e6").as("__h")), Seq("src"))
                .groupBy(col("dst").as("node"))
                .agg(sum(col("__h")).as("__a")),
              Seq("node"), "left")
        .select(col("node"), coalesce(col("__a"), lit(0L)).as("auth_e6"))
      val nextAuth = normalized(authRaw, "auth_e6").graftCheckpoint()
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(auth)
      auth = nextAuth
      val hubRaw = nodes
        .join(e.join(auth.select(col("node").as("dst"),
                                 col("auth_e6").as("__a")), Seq("dst"))
                .groupBy(col("src").as("node"))
                .agg(sum(col("__a")).as("__h")),
              Seq("node"), "left")
        .select(col("node"), coalesce(col("__h"), lit(0L)).as("hub_e6"))
      val nextHub = normalized(hubRaw, "hub_e6").graftCheckpoint()
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(hub)
      hub = nextHub
      i += 1
    }
    val out = hub.join(auth, Seq("node"))
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(e)
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(nodes)
    out
  }

  /** Per-node LOCAL CLUSTERING COEFFICIENT, floor-scaled e6:
    * `coeff = 2·tri(v) / (deg(v)·(deg(v)−1))` — how close a node's
    * neighborhood is to a clique. On a duplicate graph this separates
    * tight duplicate CLUSTERS (coeff → 1e6: templated families, every
    * copy pairs with every copy) from chain/star artifacts of the
    * candidate generator (coeff → 0: likely threshold-boundary noise)
    * — a triage signal for what [[connectedComponents]] will merge.
    *
    * Composes [[triangles]] (degree-ordered, no wedge blowup) with the
    * degree count: one explode per triangle + two hash aggs + one
    * keyed join beyond the triangle listing itself. Exact integer
    * output; deg < 2 nodes get 0 by definition.
    */
  def clusteringCoefficients(edges: DataFrame, uCol: String,
                             vCol: String): DataFrame = {
    val raw = edges
      .select(least(col(uCol), col(vCol)).as("u"),
              greatest(col(uCol), col(vCol)).as("v"))
      .filter(col("u") < col("v"))
      .distinct()
    val deg = raw.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val tri = triangles(raw, "u", "v")
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("__nt"))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("degree"),
              coalesce(col("__nt"), lit(0L)).as("n_triangles"),
              expr("""CASE WHEN degree >= 2
                     |THEN (1000000 * 2 * coalesce(__nt, 0L))
                     |     div (degree * (degree - 1))
                     |ELSE 0L END""".stripMargin).as("coeff_e6"))
  }

  /** Triangle enumeration (a < b < c) — the transitivity/density measure
    * of a similarity or duplicate graph. Input edges are canonicalized
    * (undirected, deduped, self-loops dropped) so callers can hand in
    * raw pair lists.
    *
    * Shape: DEGREE-ORDERED orientation (the O(√m)-wedge refinement) —
    * orient every edge toward the (degree, id)-larger endpoint, pair up
    * each node's out-neighbors, close the pairs against the oriented
    * edge set. Two hash equi-joins plus one degree join, no products.
    * Why degrees: out-degree under this total order is ≤ O(√m) for ANY
    * graph (a node of degree d > √2m has fewer than d neighbors of
    * degree ≥ d), so a hub's C(d,2) wedge blowup cannot happen — the
    * star graph that costs C(n,2) wedges under id-orientation costs
    * O(m) here because every edge points INTO the hub. Each triangle
    * still appears exactly once (its nodes have a unique ≺ path);
    * output is re-canonicalized to a < b < c so callers see the same
    * rows regardless of orientation internals.
    */
  def triangles(edges: DataFrame, uCol: String, vCol: String): DataFrame = {
    val raw = edges
      .select(least(col(uCol), col(vCol)).as("u"),
              greatest(col(uCol), col(vCol)).as("v"))
      .filter(col("u") < col("v"))
      .distinct()
    val deg = raw.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // ≺ = (degree, id) ascending — a total order; orient u→v iff u ≺ v.
    // Target degree rides along: wedge pairs need it to canonicalize
    // out-neighbor pairs in the SAME order, so the closing edge's
    // orientation is known (b ≺ c ⟹ the edge is stored as b→c).
    val o = raw
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
               (col("du") === col("dv") && col("u") < col("v")),
             struct(col("u").as("s"), col("v").as("t"), col("dv").as("dt")))
          .otherwise(
             struct(col("v").as("s"), col("u").as("t"), col("du").as("dt")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
    val wedges = o.select(col("s"), col("t").as("b"), col("dt").as("db"))
      .join(o.select(col("s").as("s2"), col("t").as("c"), col("dt").as("dc")),
            col("s") === col("s2") &&
              (col("db") < col("dc") ||
               (col("db") === col("dc") && col("b") < col("c"))))
      .select(col("s").as("a"), col("b"), col("c"))
    wedges
      .join(o.select(col("s").as("b2"), col("t").as("c2")),
            col("b") === col("b2") && col("c") === col("c2"), "left_semi")
      .select(sort_array(array(col("a"), col("b"), col("c"))).as("__t"))
      .select(col("__t").getItem(0).as("a"), col("__t").getItem(1).as("b"),
              col("__t").getItem(2).as("c"))
  }

  /** Label-propagation communities (synchronous, deterministic).
    *
    * Community detection BELOW the connected-component grain: CC merges
    * everything reachable, LPA splits a component into densely-linked
    * families — on a dup graph, the template families inside one giant
    * "everything shares some chunk" component. Labels start as the
    * vertex's own id; each round, every vertex synchronously adopts the
    * most frequent label among its NEIGHBORS (not itself), ties broken
    * by the SMALLEST label — both rules fixed, so the result is
    * bit-reproducible at any partitioning and HASH-GATEABLE (classic
    * async/random-tie LPA is not). The fixed `iterations` count is the
    * contract (synchronous LPA on bipartite-ish structures can
    * 2-cycle, so "run to convergence" is not well-defined);
    * neighborhood majorities stabilize small dense families in 2–3
    * rounds.
    *
    * Per round: ONE keyed join (neighbor label lookup) + one
    * (node, label) count + one per-node argmax — the argmax rides a
    * single `max(struct(cnt, -label))` aggregate, no window, so the
    * round is two map-combined shuffles on node id. `localCheckpoint`
    * keeps O(1) rounds of lineage/storage, mirroring [[pageRank]].
    * Requires non-negative integer vertex ids (the negation trick);
    * fails loud otherwise.
    *
    * Output: (node, community) for every vertex with at least one
    * edge; community = the adopted label after `iterations` rounds.
    *
    * RELEASE CONTRACT: result == handle (the [[connectedComponents]]
    * convention; the result projects over the final labels checkpoint,
    * which `unpersistCheckpoint`'s deep traversal still releases).
    */
  def labelPropagation(edges: DataFrame, uCol: String, vCol: String,
                       iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val raw = edges
      .select(col(uCol).cast("long").as("u"), col(vCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val sym = raw.union(raw.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .graftCheckpoint()
    val nBadIds = sym.filter(col("u") < 0 || col("u").isNull)
      .limit(1).count()
    require(nBadIds == 0,
      "labelPropagation requires non-negative non-null vertex ids " +
        "(the deterministic tie-break negates labels)")
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .graftCheckpoint()
    // per-round eager checkpoint by measurement — see [[rankLoop]]'s
    // note on why batched lazy rounds lost the profile
    var i = 0
    while (i < iterations) {
      // each vertex u counts its neighbors' labels: join on the
      // neighbor end, count per (u, label), then argmax by
      // (count DESC, label ASC) via one struct-max aggregate
      val next = sym
        .join(labels.select(col("node").as("v"), col("label").as("nl")),
              Seq("v"))
        .groupBy(col("u"), col("nl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("u"))
        .agg(max(struct(col("c"), (-col("nl")).as("neg"))).as("best"))
        .select(col("u").as("node"), (-col("best.neg")).as("label"))
        .graftCheckpoint()
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(labels)
      labels = next
      i += 1
    }
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(sym)
    labels.select(col("node"), col("label").as("community"))
  }

  /** k-CORE: the maximal subgraph where every vertex keeps degree ≥ k,
    * found by Matula–Beck peeling — repeatedly delete vertices whose
    * CURRENT degree (in the surviving subgraph) is below k until none
    * remain. On a near-dup candidate graph this separates the dense
    * duplicate families (which survive high k) from the threshold-noise
    * fringe the pair generator attaches to them.
    *
    * Per round: one degree aggregate over surviving edges + two
    * semi-joins to drop edges touching peeled vertices — all keyed
    * shuffles, fully distributed, no per-vertex driver state.
    * `localCheckpoint` keeps plan size and storage O(1) in rounds.
    * Termination is exact: the surviving-vertex count is a strictly
    * decreasing integer witness; unchanged count ⟺ fixpoint. Peeling
    * removes ≥ 1 vertex per non-final round, but in practice cascades
    * settle in a handful of rounds; if `maxRounds` is hit while still
    * peeling this THROWS rather than returning a too-large "core".
    *
    * Output: (node, core_degree) — survivors with their degree inside
    * the k-core (≥ k by construction). Multi-edges count once (the
    * input is distinct-ed); self-loops are dropped.
    * Returns (result, rounds) — rounds is the convergence diagnostic.
    *
    * RELEASE CONTRACT: result == handle (the [[connectedComponents]]
    * convention; the result aggregates over the surviving-edge
    * checkpoint, released by `unpersistCheckpoint`'s deep traversal).
    * Same contract for [[kCore]].
    */
  def kCoreWithStats(edges: DataFrame, uCol: String, vCol: String,
                     k: Int, maxRounds: Int = 50): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1, got $k")
    val raw = edges
      .select(col(uCol).as("u"), col(vCol).as("v"))
      .filter(col("u") =!= col("v"))
    // NOT keyed-checkpointed and the keep set NOT broadcast (r15 A/B:
    // keying + per-round counted broadcasts measured q156 5.0 → 5.7 s
    // and +23% shuffle — the keying exchange outweighs what the
    // already-small per-round frames save, and each broadcast is a
    // per-round driver collect, the r14 measured-stats lesson).
    var sym = raw.union(raw.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .graftCheckpoint()

    // Convergence witness: the SYMMETRIC EDGE count, not the distinct-
    // vertex count. A peeled vertex loses all its edges, so the count
    // strictly decreases every non-final round; an unchanged count
    // means `keep` retained every edge, i.e. every surviving vertex
    // already has degree ≥ k — the same fixpoint the vertex count
    // witnessed, but countable WITHOUT a shuffle: the round's lazy
    // checkpoint materializes through the count, so each round is ONE
    // job (previously eager-checkpoint job + distinct-count job).
    var prev = sym.count()
    var rounds = 0
    var converged = prev == 0L
    while (!converged && rounds < maxRounds) {
      val keep = sym.groupBy(col("u")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k)
        .select(col("u").as("__keep"))
      val next = sym
        .join(keep, sym("u") === col("__keep"), "left_semi")
        .join(keep.select(col("__keep").as("__keepv")),
              sym("v") === col("__keepv"), "left_semi")
        .graftCheckpointLazy()
      val n = next.count() // materializes the checkpoint + witnesses
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(sym)
      sym = next
      converged = n == prev || n == 0L
      prev = n
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"kCore still peeling after $maxRounds rounds — raise maxRounds " +
        "(each round removes at least one vertex, so rounds are bounded " +
        "by the peel-cascade depth)")
    val out = sym.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("core_degree"))
    (out, rounds)
  }

  /** [[kCoreWithStats]] without the round count. */
  def kCore(edges: DataFrame, uCol: String, vCol: String,
            k: Int, maxRounds: Int = 50): DataFrame =
    kCoreWithStats(edges, uCol, vCol, k, maxRounds)._1

  /** INCREMENTAL component maintenance: merge an existing labeling with
    * a batch of NEW edges without recomputing from scratch — the
    * daily-increment shape of dedup clustering (yesterday's corpus is
    * labeled; today's crawl adds pairs; relabeling 100 TB nightly is
    * not an option). Each labeled node contributes one STAR edge to
    * its component label; components are connected through their
    * stars, so CC over (stars ∪ newEdges) yields exactly the labeling
    * a full recompute over (oldEdges ∪ newEdges) would — same
    * reachability, same min-id labels (labels are node ids, so the
    * component minimum is preserved). That equivalence is the gate:
    * q209's oracle IS the batch recompute.
    *
    * Cost: CC runs over |labels| + |newEdges| edges — the star set is
    * LINEAR in labeled nodes regardless of how many original edges
    * produced the labeling (a 10⁹-pair history collapses to one edge
    * per node), and pointer-jumping rounds scale with the MERGED
    * component diameter, which is ≤ old diameter + new-edge chains.
    * Labeled nodes untouched by any new edge keep their label via the
    * final left join (their star edge still re-derives it; the join
    * also covers the general-API case of degenerate self-labeled
    * singletons, which CC's edge-only labeling would drop).
    *
    * Input contract: `labels` columns (id, comp) with comp = the
    * component's min node id (this function's own output shape);
    * ids in `newEdges` may be new nodes.
    *
    * RELEASE CONTRACT: the returned frame is its own localCheckpoint
    * and doubles as the release handle (the [[graft.operators.Dedup]]
    * `containmentPairs` convention) — the internal CC's blocks are
    * already released before return, and the result's plan contains
    * NO caller-owned frame, so a maintenance loop can
    * `GraftColumns.unpersistCheckpoint(result)` each increment
    * without touching its own inputs. This operator exists for
    * long-lived incremental loops, where an unreleased per-increment
    * result is exactly the storage leak that kills week-long runs.
    */
  def mergeComponents(labels: DataFrame, newEdges: DataFrame,
                      srcCol: String, dstCol: String): DataFrame = {
    val star = labels
      .select(col("id"), col("comp"))
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("src"), col("comp").as("dst"))
    val e = star.unionByName(
      newEdges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val merged = connectedComponents(e, "src", "dst").toDF("id", "__mc")
    val kept = labels.select(col("id"), col("comp"))
      .join(merged, Seq("id"), "left")
      .select(col("id"), coalesce(col("__mc"), col("comp")).as("comp"))
    val newOnly = merged
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("__mc").as("comp"))
    val out = kept.unionByName(newOnly).graftCheckpoint()
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(merged)
    out
  }

  /** Multi-source BFS: minimum hop distance from any seed vertex,
    * computed over exactly `maxHops` frontier-relaxation rounds. The
    * round count is part of the SEMANTICS (dist > maxHops ⇒ vertex
    * absent), which makes the whole computation reproducible by a SQL
    * oracle as `maxHops` unrolled CTEs — no convergence test, no float,
    * no nondeterminism: dist(v) after round i is exactly
    * min(dist_{i-1}(v), 1 + min over in-neighbors' dist_{i-1}).
    * Callers wanting "full" BFS pass maxHops ≥ graph diameter; extra
    * rounds are exact no-ops.
    *
    * The per-round cost is one keyed join (edges ⋈ current labels) +
    * one min-aggregate — the textbook distributed BFS relaxation; the
    * frontier never materializes on the driver. Distances are exact
    * integers. Edges are treated as DIRECTED (symmetrize upstream for
    * undirected reachability).
    *
    * Output: (node, dist) for every vertex with dist ≤ maxHops,
    * including the seeds at dist 0. Seeds not present in the edge set
    * still appear (dist 0) — reachability is from the seed SET.
    *
    * RELEASE CONTRACT: the returned frame is the final round's
    * localCheckpoint (every per-round intermediate is already
    * released), so it doubles as the release handle — long-lived
    * callers must `GraftColumns.unpersistCheckpoint(result)` after
    * materializing, or each call pins one dist RDD until driver GC
    * (the [[graft.operators.Dedup.applyDedupReleasable]] discipline,
    * with result == handle). Same contract for [[weightedDistances]].
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .withColumn("__w", lit(1L))
    relaxDistances(e, seeds, seedCol, maxHops)
  }

  /** WEIGHTED shortest distances from a seed set — Bellman–Ford with a
    * bounded relaxation-round count: after round i, dist(v) is the
    * exact minimum total weight over paths of ≤ i EDGES from any seed
    * (vertices with no such path are absent). Like [[bfsHops]] the
    * round cap is part of the semantics, so a SQL oracle unrolls the
    * identical recurrence — no convergence test, no floats. For full
    * shortest paths pass rounds ≥ the longest shortest-path edge
    * count; extra rounds are exact no-ops (weights are nonnegative,
    * ENFORCED — a negative weight would make bounded-round "distance"
    * meaningless and is refused loudly, as are null weights).
    * Overflow bound: dist ≤ rounds · max(weight) — far inside int64
    * for any sane weighting.
    *
    * Per round ONE keyed join + ONE map-combined min aggregate;
    * parallel edges need no pre-aggregation (min absorbs them).
    */
  def weightedDistances(edges: DataFrame, srcCol: String, dstCol: String,
                        weightCol: String, seeds: DataFrame,
                        seedCol: String, rounds: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                         col(weightCol).cast("long").as("__w"))
    val bad = e.filter(col("__w").isNull || col("__w") < 0)
      .limit(1).count()
    require(bad == 0,
      "weightedDistances requires nonnegative non-null weights — " +
      "negative edges make bounded-round distances meaningless")
    relaxDistances(e, seeds, seedCol, rounds)
  }

  /** Shared bounded-round relaxation core of [[bfsHops]] /
    * [[weightedDistances]]: edges must carry (src, dst, __w).
    */
  private def relaxDistances(edges: DataFrame, seeds: DataFrame,
                             seedCol: String, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    // keyed by the relaxation's join key: every round then exchanges
    // only the vertex-sized dist frame (see [[keyedCheckpoint]])
    val e = keyedCheckpoint(edges, "src")
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L))
      .graftCheckpoint()
    // per-round eager checkpoint by measurement — this recurrence
    // references `dist` TWICE per round (union + join), so batched
    // lazy rounds double the logical plan per round on top of losing
    // the [[rankLoop]] profile; see the note there
    var i = 0
    while (i < rounds) {
      val relaxed = e
        .join(dist.select(col("node").as("src"), col("dist").as("__sd")),
              Seq("src"))
        .select(col("dst").as("node"), (col("__sd") + col("__w")).as("dist"))
      val next = dist.union(relaxed)
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"))
        .graftCheckpoint()
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(dist)
      dist = next
      i += 1
    }
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(e)
    dist
  }

  /** PER-SEED bounded BFS: distances keyed by (seed, node) — unlike
    * [[bfsHops]], which merges the seed set into one frontier, each
    * seed keeps its own distance map, so per-seed radius/eccentricity
    * and reach statistics fall out of a single aggregate over the
    * result. After round i, `hops` is the exact minimum hop count
    * over paths of ≤ i edges from THAT seed (pairs with no such path
    * are absent); the round cap is part of the semantics, so a SQL
    * oracle unrolls the identical recurrence.
    *
    * Scale: state is O(seeds × reached nodes) — linear in the seed
    * count, which is the knob. Per round ONE keyed join on `src`
    * (the relaxation) + ONE map-combined min aggregate on
    * (seed, node); the seed column rides the shuffle for free as part
    * of the grouping key. For |seeds| ≫ tens, prefer sketch-based
    * all-pairs methods (HyperANF-style) — this operator is the exact
    * small-seed-panel tool (contamination radius, hub eccentricity).
    *
    * RELEASE CONTRACT: identical to [[bfsHops]] — the returned frame
    * is the final round's localCheckpoint and doubles as the release
    * handle.
    */
  /** SHORTEST-PATH COUNTS from one seed — the forward (σ) phase of
    * Brandes' betweenness algorithm, level-synchronous: after round i
    * the settled set holds (node, dist, sigma) for every node within
    * i hops, where sigma = the EXACT number of distinct shortest paths
    * from the seed. Round i extends the dist-(i−1) frontier by one
    * edge and sums sigma over predecessors; nodes already settled are
    * anti-joined away (a path through a closer node is not shortest).
    * Only frontier sources feed the extension, so the sum picks up
    * exactly the dist-(i−1) predecessors — the BFS-DAG recurrence
    * σ(v) = Σ_{u∈pred(v)} σ(u).
    *
    * sigma grows MULTIPLICATIVELY with level width (dense bipartite
    * graphs reach 10¹⁰⁺ within 4 hops at modest scale), so it rides
    * decimal(38,0) end to end — a long would wrap silently around
    * 9·10¹⁸ on exactly the corpora worth measuring. The hop cap is
    * part of the semantics (the [[bfsHops]] convention): a SQL oracle
    * unrolls the identical recurrence, no convergence test.
    *
    * Per round: ONE keyed join on `src` + ONE map-combined sum agg +
    * ONE anti-join against the settled set. State is O(reached
    * nodes); the frontier never touches the driver.
    *
    * RELEASE CONTRACT: identical to [[bfsHops]] — the returned frame
    * is the final merged localCheckpoint and doubles as the release
    * handle.
    */
  def pathCounts(edges: DataFrame, srcCol: String, dstCol: String,
                 seed: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val d38 = "decimal(38,0)"
    val e = keyedCheckpoint(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct(), "src")
    var settled = e.sparkSession.range(1)
      .select(lit(seed).as("node"), lit(0L).as("dist"),
              lit(1L).cast(d38).as("sigma"))
      .graftCheckpoint()
    var frontier = settled
    var i = 0
    while (i < maxHops) {
      val ext = e
        .join(frontier.select(col("node").as("src"), col("sigma")),
              Seq("src"))
        .select(col("dst").as("node"), col("sigma"))
        .groupBy(col("node"))
        .agg(sum(col("sigma")).cast(d38).as("sigma"))
      val nxt = ext
        .join(settled.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit((i + 1).toLong).as("dist"), col("sigma"))
        .graftCheckpoint()
      // In non-ANSI mode a decimal(38,0) sum that exceeds 1e38 returns
      // NULL instead of throwing, which would silently degrade those
      // nodes' path counts; fail fast so overflow surfaces. The scan is
      // frontier-sized and reads the checkpoint just materialized.
      val nullSigma = nxt.filter(col("sigma").isNull).count()
      require(nullSigma == 0L,
        s"pathCounts: sigma overflowed decimal(38,0) at hop ${i + 1} " +
          s"for $nullSigma node(s); the exact count is not representable")
      val merged = settled.union(nxt).graftCheckpoint()
      if (i > 0)
        org.apache.spark.sql.GraftColumns.unpersistCheckpoint(frontier)
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(settled)
      frontier = nxt
      settled = merged
      i += 1
    }
    if (maxHops > 0)
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(frontier)
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(e)
    settled
  }

  def perSeedHops(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, seedCol: String,
                  maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    // NOT keyed-checkpointed (r15 A/B: q195 6.6 → 9.0 s under the keyed
    // plan — here the per-round exchange is dominated by the
    // (seed × node)-sized dist frame, not the edges, and pinning the
    // edge partitioning only dragged the dist exchange down to the
    // edge frame's low adaptive partition count)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .graftCheckpoint()
    var dist = seeds.select(col(seedCol).as("seed")).distinct()
      .select(col("seed"), col("seed").as("node"),
              lit(0L).as("hops"))
      .graftCheckpoint()
    var i = 0
    while (i < maxHops) {
      val relaxed = e
        .join(dist.select(col("seed"), col("node").as("src"),
                          col("hops").as("__sd")),
              Seq("src"))
        .select(col("seed"), col("dst").as("node"),
                (col("__sd") + 1L).as("hops"))
      val next = dist.union(relaxed)
        .groupBy(col("seed"), col("node"))
        .agg(min(col("hops")).as("hops"))
        .graftCheckpoint()
      org.apache.spark.sql.GraftColumns.unpersistCheckpoint(dist)
      dist = next
      i += 1
    }
    org.apache.spark.sql.GraftColumns.unpersistCheckpoint(e)
    dist
  }
}
