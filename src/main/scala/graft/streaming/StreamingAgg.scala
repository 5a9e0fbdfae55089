package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.IncrementalAgg

/** Streaming incremental-aggregate maintenance — the streaming form of
  * [[IncrementalAgg]] (q94): a per-key aggregate STATE table kept
  * current by merging each micro-batch's partials, never rescanning the
  * accumulated data. The state lives as a parquet table (table-as-state,
  * like [[StreamingDedup]]'s corpus): per-key aggregate rows are tiny
  * next to the fact stream, and the merge cost is
  * `|state keys| + |batch keys|` per batch — independent of history.
  *
  * Exactly-once without sink transactions: each batch writes the FULL
  * merged state to a version directory named by its batch id
  * (`batch=<id>`), and the merge reads the latest version STRICTLY
  * BELOW the current id. A replayed batch therefore re-reads the same
  * predecessor it saw the first time and overwrites its own directory
  * with identical content — idempotent by construction, no matter how
  * often the engine replays after a crash. Old versions are retention
  * history (vacuum by age in production); the latest version is always
  * complete, so readers never see a partial merge.
  */
object StreamingAgg {

  /** Latest state version strictly below `beforeBatchId` (None = no
    * predecessor). Versions are parquet dirs `batch=<id>` under `root`.
    */
  def latestState(spark: SparkSession, root: String,
                  beforeBatchId: Long = Long.MaxValue)
      : Option[(Long, DataFrame)] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      // only fully-committed versions count: a crash mid-write leaves a
      // batch=<id> dir without _SUCCESS, and an external reader landing
      // on it would otherwise see a partial merge
      val ids = fs.listStatus(p).toSeq
        .filter(st => st.isDirectory &&
          fs.exists(new Path(st.getPath, "_SUCCESS")))
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("batch=") =>
          n.stripPrefix("batch=").toLong
        }
        .filter(_ < beforeBatchId)
      if (ids.isEmpty) None
      else {
        val id = ids.max
        Some(id -> spark.read.parquet(s"$root/batch=$id"))
      }
    }
  }

  /** The state-write policy every merge-style stream state shares: merge
    * `part` into the latest committed version STRICTLY below `batchId`
    * (`merge(prev, part)`; `part` alone when there is none) and overwrite
    * `batch=<batchId>` with the result.
    */
  def commitVersion(part: DataFrame, batchId: Long, root: String)
                   (merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    val merged = latestState(part.sparkSession, root,
                             beforeBatchId = batchId) match {
      case Some((_, prev)) => merge(prev, part)
      case None            => part
    }
    merged.write.mode("overwrite").parquet(s"$root/batch=$batchId")
  }

  /** Merge one micro-batch's PARTIAL aggregate rows (already aggregated
    * by `keyCol`, mergeable-prefix columns — see
    * [[IncrementalAgg.mergeStates]]) into the state at `root`.
    */
  def mergeBatch(partials: DataFrame, batchId: Long, keyCol: String,
                 root: String): Unit =
    commitVersion(partials, batchId, root)(
      IncrementalAgg.mergeStates(keyCol, _, _))

  /** Wire a stream: `aggregate` turns each raw micro-batch into partial
    * per-key aggregates; the merge maintains the state table at `root`.
    */
  def maintain(stream: DataFrame, keyCol: String, root: String)
              (aggregate: DataFrame => DataFrame)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       id: Long) => mergeBatch(aggregate(batch.toDF()), id, keyCol, root)
    }
}
