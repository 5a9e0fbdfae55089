package graft.semantic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The 11-measure chess semantic layer (SURVEY.md §2.6 A1–A11).
  *
  * Measure names attested in the reference's report layout; bodies inferred
  * from name + schema (the model blob is compressed — SURVEY.md §0 note).
  * Every measure is built from four ADDITIVE counters — games (A1/A8/A9),
  * wins (A2/A10), losses (A3), draws (A4) — kept per grain by [[counters]];
  * the rates (A5/A6/A7, A11's rolling rate) are derived from them at read
  * time in the [[Dashboard]] companion, never summed (a rate is not
  * additive). Operates on the derived fact (GameTransforms.withDerived):
  * requires `result`, `user_color`, and the derived dimension columns.
  */
object ChessMeasures {

  /** Draw vocabulary of the side-result fallback domain (chess.com result
    * codes that end a game drawn).
    */
  val DrawCodes: Seq[String] = Seq(
    "agreed", "repetition", "stalemate", "insufficient",
    "50move", "timevsinsufficient")

  /** Outcome classification for the tracked user: win/loss/draw/unknown.
    *
    * Handles BOTH the canonical domain (`1-0`, `0-1`, `1/2-1/2`) and the
    * reference's non-canonical fallback `"{white} / {black}"` (e.g.
    * `"win / checkmated"`) — SURVEY.md §7.4 "Result-string semantics".
    */
  def outcome(result: Column, userColor: Column): Column = {
    val mySide = when(userColor === "white",
      element_at(split(result, " / "), 1))
      .otherwise(element_at(split(result, " / "), 2))
    val otherSide = when(userColor === "white",
      element_at(split(result, " / "), 2))
      .otherwise(element_at(split(result, " / "), 1))
    when(result === "1-0", when(userColor === "white", "win").otherwise("loss"))
      .when(result === "0-1", when(userColor === "black", "win").otherwise("loss"))
      .when(result === "1/2-1/2", "draw")
      .when(result.contains(" / "),
        when(mySide === "win", "win")
          .when(otherSide === "win", "loss")
          .when(mySide.isin(DrawCodes: _*), "draw")
          .otherwise("unknown"))
      .otherwise("unknown")
  }

  /** The counters `games`/`wins`/`losses`/`draws` at `dims` grain over a
    * derived fact (no dims → one global row). Batch visuals read them
    * straight off the filtered fact; the streaming dashboard keeps them
    * per micro-batch and sums them into its state.
    */
  def counters(derived: DataFrame, dims: Seq[String]): DataFrame = {
    val o = outcome(col("result"), col("user_color"))
    def tally(v: String): Column = sum((o === v).cast("long"))
    derived.groupBy(dims.map(col): _*).agg(count(lit(1)).as("games"),
      tally("win").as("wins"), tally("loss").as("losses"),
      tally("draw").as("draws"))
  }
}
