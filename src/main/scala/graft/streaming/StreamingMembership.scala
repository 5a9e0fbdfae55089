package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{Bloom, Kmv}

/** Streaming maintenance for the two SET sketches, completing the
  * bounded-state stream-sketch family ([[StreamingSketch]] maintains
  * the count–min COUNTER table; these maintain the [[Bloom]]
  * membership bits and the [[Kmv]] distinct-value order statistics).
  * All three share the property that makes them the only stream
  * aggregates whose state cannot grow: merge is closed over a
  * constant-size table (≤ mBits/32 words, ≤ k hashes, ≤ depth·width
  * counters), so an unbounded stream is summarized forever in bounded
  * state.
  *
  * Versioning/exactly-once is [[StreamingAgg.commitVersion]]'s discipline:
  * the merged state is written whole to `batch=<id>`, the merge reads
  * the latest committed version STRICTLY below the current id, and a
  * crash-replayed batch overwrites its own version with identical
  * content. For these two sketches replay safety is DOUBLY held:
  * beyond the versioning, the merges themselves are IDEMPOTENT
  * (bit-OR and min-k absorb duplicates — unlike counter addition), so
  * even an at-least-once pipeline without the version gate could not
  * corrupt them.
  */
object StreamingMembership {

  /** Merge one micro-batch's keys into the Bloom filter at `root`. */
  def mergeBloomBatch(batch: DataFrame, batchId: Long, keyCol: String,
                      mBits: Int, k: Int, root: String): Unit =
    StreamingAgg.commitVersion(
        Bloom.build(batch, keyCol, mBits, k), batchId, root) {
      (prev, part) => Bloom.merge(prev.unionByName(part))
    }

  /** Wire a key stream into a maintained Bloom filter. */
  def maintainBloom(stream: DataFrame, keyCol: String, mBits: Int,
                    k: Int, root: String)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       id: Long) =>
        mergeBloomBatch(batch.toDF(), id, keyCol, mBits, k, root)
    }

  /** Probe `df` against the maintained filter (latest committed
    * version): keeps rows whose key MIGHT have been streamed. An
    * absent state means nothing was streamed — nothing passes.
    */
  def filterMaybe(spark: SparkSession, root: String, df: DataFrame,
                  keyCol: String, mBits: Int, k: Int): DataFrame =
    StreamingAgg.latestState(spark, root) match {
      case Some((_, state)) =>
        Bloom.filterMaybe(df, keyCol, Bloom.pack(state, mBits), mBits, k)
      case None => df.limit(0)
    }

  /** Merge one micro-batch's keys into the KMV sketch at `root`. */
  def mergeKmvBatch(batch: DataFrame, batchId: Long, keyCol: String,
                    k: Int, root: String): Unit =
    StreamingAgg.commitVersion(Kmv.sketch(batch, keyCol, k), batchId, root) {
      (prev, part) => Kmv.merge(prev.unionByName(part), k)
    }

  /** Wire a key stream into a maintained KMV sketch. */
  def maintainKmv(stream: DataFrame, keyCol: String, k: Int,
                  root: String)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       id: Long) =>
        mergeKmvBatch(batch.toDF(), id, keyCol, k, root)
    }

  /** Distinct-count estimate over everything streamed so far (latest
    * committed version; 0 if nothing committed).
    */
  def estimateDistinct(spark: SparkSession, root: String,
                       k: Int): DataFrame =
    StreamingAgg.latestState(spark, root) match {
      case Some((_, state)) => Kmv.estimateDistinct(state, k)
      case None =>
        spark.range(1).select(lit(0L).as("kmv_est"))
    }
}
