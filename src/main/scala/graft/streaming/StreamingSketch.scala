package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.CountMin

/** Streaming count–min maintenance — [[CountMin]]'s linearity
  * ([[CountMin.merge]]: per-slice tables ADD to the corpus table,
  * q277's gated contract) turned into a stream: each micro-batch is a
  * slice, its sketch cell-adds into a state table that is at all times
  * EXACTLY the sketch of every row seen so far. State is ≤ depth·width
  * rows regardless of history — the one stream aggregate whose state
  * cannot grow — so point-frequency estimates over an unbounded stream
  * cost a bounded probe forever (contrast the exact per-key state of
  * [[StreamingAgg]], which grows with the key universe).
  *
  * Versioning/exactly-once is [[StreamingAgg.commitVersion]]'s discipline:
  * full merged state written to `batch=<id>`, merge reads the latest
  * committed version STRICTLY below the current id, so crash replay
  * overwrites its own version with identical content.
  */
object StreamingSketch {

  /** Merge one micro-batch's rows into the sketch state at `root`. */
  def mergeBatch(batch: DataFrame, batchId: Long, keyCol: String,
                 depth: Int, width: Int, root: String): Unit =
    StreamingAgg.commitVersion(
        CountMin.sketch(batch, keyCol, depth, width), batchId, root) {
      (prev, part) => CountMin.merge(prev.unionByName(part))
    }

  /** Wire a stream of rows carrying `keyCol` into a maintained sketch. */
  def maintain(stream: DataFrame, keyCol: String, depth: Int, width: Int,
               root: String)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       id: Long) =>
        mergeBatch(batch.toDF(), id, keyCol, depth, width, root)
    }

  /** Point estimates from the maintained state (latest version). */
  def estimate(spark: org.apache.spark.sql.SparkSession, root: String,
               keys: DataFrame, keyCol: String,
               depth: Int, width: Int): DataFrame = {
    val sk = StreamingAgg.latestState(spark, root)
      .map(_._2)
      .getOrElse(
        // empty sketch: every estimate reads 0 via the left join
        keys.sparkSession.emptyDataFrame
          .select(lit(0).as("r"), lit(0L).as("cell"), lit(0L).as("cnt"))
          .limit(0))
    CountMin.estimate(sk, keys, keyCol, depth, width)
  }
}
