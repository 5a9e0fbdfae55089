package graft.semantic

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.GameTransforms

/** The reference dashboard's visual queries (SURVEY.md §2.6, pbix Layout
  * v5–v14), compiled to DataFrame plans over the derived games fact.
  * Every query takes a [[FilterContext]] — the page's active slicers —
  * reproducing the BI cross-filter semantics (each visual's aggregate is
  * evaluated under the conjunction of all active filters). Each visual
  * reads one grain of [[ChessMeasures.counters]] over the filtered fact
  * through the companion's definition, the same one the streaming
  * dashboard reads over its maintained state.
  */
final class Dashboard(gamesFact: DataFrame) {

  /** Derived fact shared by all visuals. */
  val fact: DataFrame = GameTransforms.withDerived(gamesFact)

  /** Counters of `grain` over the fact under `ctx`. */
  private def at(ctx: FilterContext)(grain: String): DataFrame =
    ChessMeasures.counters(ctx(fact), Dashboard.Grains.toMap.apply(grain))

  /** v5/v11 KPI cards: [[Dashboard.cards]]. */
  def cards(ctx: FilterContext = FilterContext.empty): DataFrame =
    Dashboard.cards(at(ctx))

  /** v7 Top-N opponents: [[Dashboard.topOpponents]]. */
  def topOpponents(n: Int = 10,
                   ctx: FilterContext = FilterContext.empty): DataFrame =
    Dashboard.topOpponents(at(ctx), n)

  /** v12 matrix: [[Dashboard.winRateByBucketAndColor]]. */
  def winRateByBucketAndColor(ctx: FilterContext = FilterContext.empty): DataFrame =
    Dashboard.winRateByBucketAndColor(at(ctx))

  /** v10 rating bands: [[Dashboard.winRateByOpponentBucket]]. */
  def winRateByOpponentBucket(ctx: FilterContext = FilterContext.empty): DataFrame =
    Dashboard.winRateByOpponentBucket(at(ctx))

  /** v14 Top-N openings: [[Dashboard.topOpenings]]. */
  def topOpenings(n: Int = 5,
                  ctx: FilterContext = FilterContext.empty): DataFrame =
    Dashboard.topOpenings(at(ctx), n)

  /** v6 rolling win rate: [[Dashboard.rollingWinRate]]. */
  def rollingWinRate(spark: SparkSession, days: Int = 12,
                     ctx: FilterContext = FilterContext.empty): DataFrame =
    Dashboard.rollingWinRate(spark, at(ctx), days)
}

/** The six visual definitions, each over the counters of ONE grain. `at`
  * maps a grain name of [[Grains]] to its `(dims…, games, wins, losses,
  * draws)` frame: counters over the filtered fact for the batch
  * [[Dashboard]], the latest committed state for
  * [[graft.streaming.StreamingDashboard]]. Counters a visual does not
  * select are pruned from the aggregate (or the state scan) by Catalyst.
  */
object Dashboard {

  /** The visual grains and their dimension columns over the derived
    * fact. Every visual below reads exactly one grain.
    */
  val Grains: Seq[(String, Seq[String])] = Seq(
    "global"       -> Nil,
    "bucket_color" -> Seq("time_control_bucket", "user_color"),
    "opp_bucket"   -> Seq("opponent_rating_bucket"),
    "opponent"     -> Seq("opponent_username"),
    "eco"          -> Seq("eco"),
    "daily"        -> Seq("date_ymd"))

  /** A5/A6 `Win%` / `WinRate`: null-safe wins/games. */
  private def winRate: Column =
    col("wins").cast("double") / nullif(col("games"), lit(0L))

  /** v5/v11 KPI cards + donut: global W/L/D/total/rate (one row). */
  def cards(at: String => DataFrame): DataFrame =
    at("global").select(
      col("games").as("total_games"), col("wins").as("total_wins"),
      col("losses").as("total_losses"), col("draws").as("total_draws"),
      winRate.as("win_rate"))

  /** v7: opponents pivot — Top-N opponents by games played (ties by
    * name), with games, wins and win rate per opponent. The rank is an
    * order-limit over the opponent grain, so it respects the slicers
    * (F7 Top-N filter semantics).
    */
  def topOpponents(at: String => DataFrame, n: Int): DataFrame =
    at("opponent").select(
        col("opponent_username"), col("games").as("games_count"),
        col("wins"), winRate.as("win_rate"))
      .orderBy(col("games_count").desc, col("opponent_username").asc)
      .limit(n)

  /** v12: win rate by time-control bucket × color (A6 matrix). */
  def winRateByBucketAndColor(at: String => DataFrame): DataFrame =
    at("bucket_color").select(
        col("time_control_bucket"), col("user_color"),
        col("games").as("games_count"), col("wins").as("total_wins"),
        winRate.as("win_rate"))
      .orderBy(col("win_rate").desc, col("time_control_bucket").asc,
               col("user_color").asc)

  /** v10: win rate by opponent rating band (P13's 200-point buckets,
    * `pbix!Layout[v10]` slicer) — games/wins/rate per band.
    */
  def winRateByOpponentBucket(at: String => DataFrame): DataFrame =
    at("opp_bucket").select(
        col("opponent_rating_bucket"),
        col("games").as("games_count"), col("wins").as("total_wins"),
        winRate.as("win_rate"))
      .orderBy(col("win_rate").desc, col("opponent_rating_bucket").asc)

  /** v14: Top-N openings by games (ties by ECO), presented by per-ECO
    * win rate (A7/A8 + F8).
    */
  def topOpenings(at: String => DataFrame, n: Int): DataFrame =
    at("eco").select(
        col("eco"), col("games").as("games_count"), winRate.as("win_rate"))
      .orderBy(col("games_count").desc, col("eco").asc)
      .limit(n)
      .orderBy(col("win_rate").desc, col("eco").asc)

  /** v6: A11 `Rolling12Days_WinRate` — trailing `days`-day win rate on a
    * daily axis over the day grain. Scaffold-joins the generated
    * DateTable spanning the grain's min→max date so zero-game days exist
    * in the frame (a row-frame window over sparse dates would silently
    * widen the window — SURVEY.md §7.4), then a range frame over
    * epoch-days. The visual plots the measure on
    * `DateTable.Date Hierarchy.{Year,Month,Day}` (pbix!Layout[v6]), so the
    * dim's year/month/month_name/day attributes ride along in the output —
    * consumers drill the hierarchy without re-deriving date parts.
    */
  def rollingWinRate(spark: SparkSession, at: String => DataFrame,
                     days: Int): DataFrame = {
    val daily = at("daily")
      .select(col("date_ymd").as("date"), col("games"), col("wins"))
    val scaffold = DateDim.spanning(spark, daily, "date")
    val dense = scaffold.join(daily, Seq("date"), "left")
      .select(col("date"), col("year"), col("month"), col("month_name"),
              col("day"),
              coalesce(col("games"), lit(0L)).as("games"),
              coalesce(col("wins"), lit(0L)).as("wins"))
    val w = Window
      .orderBy(datediff(col("date"), lit("1970-01-01")))
      .rangeBetween(-(days - 1), 0)
    dense
      .withColumn("window_games", sum(col("games")).over(w))
      .withColumn("window_wins", sum(col("wins")).over(w))
      .withColumn("rolling_win_rate",
        col("window_wins").cast("double") / nullif(col("window_games"), lit(0L)))
      .orderBy("date")
  }
}
