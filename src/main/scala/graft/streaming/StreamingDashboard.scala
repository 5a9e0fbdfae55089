package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.etl.GameTransforms
import graft.semantic.{ChessMeasures, Dashboard, FilterContext}

/** The reference BI dashboard (SURVEY §2.6, `pbix!Layout[v5,v7,v10,v12,
  * v14,v6]`) maintained INCREMENTALLY over the game stream — the r14
  * verdict's task #3: the one reference-shaped surface that wasn't yet
  * streaming. After every micro-batch each visual reads from tiny
  * per-grain state tables and equals the batch [[Dashboard]] over the
  * union of every game seen so far: both run the SAME visual definitions
  * of the [[Dashboard]] companion, the batch one over counters of the
  * filtered fact, this one over the maintained counters
  * (`StreamingDashboardSpec` pins all six visuals after EVERY batch,
  * plus crash replay as a no-op).
  *
  * Composition, by the measures' own algebra:
  *
  *  - All 11 measures (A1–A11) are built from four ADDITIVE counters —
  *    games/wins/losses/draws — so each visual's grain admits a
  *    per-key mergeable state: batch partials (a per-batch groupBy)
  *    sum into the accumulated per-key row. Per batch this costs
  *    `|batch| + |state keys|`, independent of history — the reason a
  *    dashboard over a 100 TB game archive can update per micro-batch
  *    at all. Rates are derived at READ time (wins/games over the
  *    merged counters), never merged — a rate is not additive.
  *  - The Top-N visuals (v7 opponents, v14 openings) and the rolling
  *    12-day window (v6) are CORPUS-GLOBAL, but over the per-key STATE
  *    (opponents/ECO/days — dimension-sized, not fact-sized), so the
  *    per-batch recompute is a sort-limit / window over thousands of
  *    rows. This is the [[StreamingCuration]] stages-4-10 pattern with
  *    a crucial economy: the global stage reads the AGGREGATED state,
  *    never the accumulated facts.
  *
  * State: [[StreamingAgg.commitVersion]]'s exactly-once discipline —
  * one dir per grain per batch id (`<root>/<grain>/batch=<id>`),
  * `_SUCCESS`-gated, batch N merges the latest version STRICTLY below
  * N, so an at-least-once replay rewrites its own version
  * byte-identically and readers never see a partial merge.
  *
  * Slicers: the page's [[FilterContext]] is fixed at stream definition
  * and applied to every batch BEFORE partial aggregation (row-level
  * predicates commute with union, so this equals the batch semantics).
  * A slicer CHANGE defines a different materialized view — rebuild the
  * state from the source, exactly as a BI extract refresh would.
  */
object StreamingDashboard {

  /** The visual grains ([[Dashboard.Grains]]): one state table each. */
  val Grains: Seq[(String, Seq[String])] = Dashboard.Grains

  /** Counter-sum merge of accumulated state ∪ batch partials — the
    * additive-measure form of [[graft.operators.IncrementalAgg]]'s
    * mergeable-state contract, generalized to composite keys. Every
    * non-dimension column of [[ChessMeasures.counters]] is a counter.
    */
  private def merge(dims: Seq[String])
                   (prev: DataFrame, part: DataFrame): DataFrame = {
    val sums = part.columns.toSeq.filterNot(dims.contains)
      .map(c => sum(col(c)).as(c))
    prev.unionByName(part).groupBy(dims.map(col): _*)
      .agg(sums.head, sums.tail: _*)
  }

  /** One micro-batch of RAW game rows into all six grain states.
    * Idempotent per `batchId`: a replay merges the same predecessor
    * version with the same partials and overwrites its own version.
    */
  def dashboardBatch(batch: DataFrame, stateRoot: String, batchId: Long,
                     ctx: FilterContext = FilterContext.empty): Unit = {
    // derive once per batch, share across the six grain aggregations
    val derived = ctx(GameTransforms.withDerived(batch)).cache()
    try {
      Grains.foreach { case (grain, dims) =>
        StreamingAgg.commitVersion(ChessMeasures.counters(derived, dims),
                                   batchId, s"$stateRoot/$grain")(merge(dims))
      }
    } finally derived.unpersist()
  }

  /** Wire the stream: raw game micro-batches → [[dashboardBatch]].
    * At-least-once delivery + per-batch-id idempotent versions =
    * effectively-once state (the [[StreamingDedup.dedupStream]]
    * contract).
    */
  def dashboardStream(games: DataFrame, stateRoot: String,
                      checkpointDir: String,
                      ctx: FilterContext = FilterContext.empty)
      : DataStreamWriter[Row] =
    games.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dashboardBatch(batch, stateRoot, batchId, ctx)
        (): Unit
      }

  /** Drain everything available and stop (cron-style incremental run). */
  def runAvailableNow(writer: DataStreamWriter[Row]): Unit = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  // ------------------------------------------------------- the visuals
  // Each reader runs the batch visual's definition over ONLY the latest
  // committed state of its grain.

  private def state(spark: SparkSession, stateRoot: String)
                   (grain: String): DataFrame =
    StreamingAgg.latestState(spark, s"$stateRoot/$grain")
      .map(_._2)
      .getOrElse(throw new IllegalStateException(
        s"no committed dashboard state under $stateRoot/$grain — " +
          "run at least one batch first"))

  /** v5/v11 KPI cards: [[Dashboard.cards]]. */
  def cards(spark: SparkSession, stateRoot: String): DataFrame =
    Dashboard.cards(state(spark, stateRoot))

  /** v12 matrix: [[Dashboard.winRateByBucketAndColor]]. */
  def winRateByBucketAndColor(spark: SparkSession,
                              stateRoot: String): DataFrame =
    Dashboard.winRateByBucketAndColor(state(spark, stateRoot))

  /** v10 rating bands: [[Dashboard.winRateByOpponentBucket]]. */
  def winRateByOpponentBucket(spark: SparkSession,
                              stateRoot: String): DataFrame =
    Dashboard.winRateByOpponentBucket(state(spark, stateRoot))

  /** v7 Top-N opponents: [[Dashboard.topOpponents]]. */
  def topOpponents(spark: SparkSession, stateRoot: String,
                   n: Int = 10): DataFrame =
    Dashboard.topOpponents(state(spark, stateRoot), n)

  /** v14 Top-N openings: [[Dashboard.topOpenings]]. */
  def topOpenings(spark: SparkSession, stateRoot: String,
                  n: Int = 5): DataFrame =
    Dashboard.topOpenings(state(spark, stateRoot), n)

  /** v6 rolling 12-day win rate: [[Dashboard.rollingWinRate]] over the
    * maintained daily grain.
    */
  def rollingWinRate(spark: SparkSession, stateRoot: String,
                     days: Int = 12): DataFrame =
    Dashboard.rollingWinRate(spark, state(spark, stateRoot), days)
}
