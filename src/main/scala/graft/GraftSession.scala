package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine: the one place a session is
  * built, so every main, tool and spec runs under the same settings.
  *
  * Local defaults target the test harness (one JVM); the same settings
  * are the ones that matter on a real cluster: AQE for runtime
  * re-planning (skew joins, dynamic coalescing of shuffle partitions) and
  * an explicit shuffle-partition count sized to the parallelism instead of
  * the legacy default of 200.
  */
object GraftSession {

  /** Local core count: SPARK_GRAFT_CPUS when set, so bench and verify
    * runs match the harness sizing, else `min(nproc, 32)`.
    */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(Runtime.getRuntime.availableProcessors(), 32))

  /** A `local[n]` builder with [[configure]] and [[envProfile]] applied
    * (`n` = `cores`, else [[defaultCores]]). Callers may layer static
    * settings on the result before `getOrCreate()`.
    */
  def builder(appName: String = "graft",
              cores: Option[Int] = None): SparkSession.Builder = {
    val n = cores.getOrElse(defaultCores)
    envProfile(configure(
      SparkSession.builder().master(s"local[$n]").appName(appName), n))
  }

  /** Build (or reuse) a local session from [[builder]]. */
  def local(appName: String = "graft",
            cores: Option[Int] = None): SparkSession =
    builder(appName, cores).getOrCreate()

  /** Cluster-profile additions for the 100 TB deployment. Semantics are
    * identical to [[configure]]; these only size the runtime:
    *  - shuffle partitions ≈ 2–3× total executor cores (AQE coalesces
    *    down, so err high); pass that count to [[configure]].
    *  - 256 MiB scan splits: fewer, fuller tasks over many-TB scans
    *    (default 128 MiB doubles the task count for no benefit when rows
    *    are wide).
    *  - 64 MiB advisory post-shuffle partitions: AQE's coalesce target —
    *    large enough to amortize task overhead, small enough to spill
    *    rarely.
    *  - broadcast threshold RAISED 10 MiB → 64 MiB: with ≥8 GiB
    *    executors, shipping a 64 MiB dim to every executor is cheaper
    *    than shuffling a many-TB fact; revisit for memory-tight fleets.
    *
    * DEFAULT DECISION (r15 verdict #8, same-box interleaved A/B/A on
    * the 10 heaviest queries at sf0.1: default 89.3/87.6 s vs profile
    * 97.8 s raw, box-stable — the two default runs agree within 2%):
    * the profile stays OPT-IN, not the local default. Its shuffle
    * savings are real (q140 −25%, q258 −8% bytes; −5.1% suite-wide in
    * r14) but on local[32] shuffle is a memory copy, so the fewer,
    * fuller tasks from 256 MiB splits / 64 MiB advisory partitions
    * only cost parallelism (~+10% wall). On a real cluster those same
    * bytes cross a network — there the profile's trade is the right
    * one, and its semantics are proven identical (r14: 275/275
    * hash-identical, synth10 byte-identical under it).
    */
  def clusterProfile(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.files.maxPartitionBytes", "256m")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")

  /** Env-selected profile for the driver mains: `SPARK_GRAFT_PROFILE=
    * cluster` layers [[clusterProfile]] onto any builder so Verify/Bench
    * can run the whole suite under the 100 TB sizing (the raised 64 MiB
    * broadcast threshold is the config that can flip join selection —
    * hash changes under it are bugs, not configuration effects). Unset
    * or empty = no-op. Any OTHER non-empty value fails loudly (ADVICE
    * r14): Bench tags its artifact from ANY profile value, so a typo
    * (`PROFILE=Cluster`) used to produce a stock-config run whose
    * artifact claimed a profile — mislabeled experiment data. A tagged
    * artifact must correspond to an actually-applied profile.
    */
  def envProfile(b: SparkSession.Builder): SparkSession.Builder =
    sys.env.get("SPARK_GRAFT_PROFILE").filter(_.nonEmpty) match {
      case Some("cluster") =>
        // loud by design: a profiled run must be identifiable from its log
        println("[graft] SPARK_GRAFT_PROFILE=cluster: 256m splits, " +
          "64m advisory partitions, 64m broadcast threshold")
        clusterProfile(b)
      case Some(other) =>
        sys.error(s"[graft] unrecognized SPARK_GRAFT_PROFILE='$other' " +
          "(only 'cluster' is defined) — refusing to run: the bench " +
          "would label its artifact with a profile that was never applied")
      case None => b
    }

  /** Apply graft's standard configuration to any builder (local or cluster).
    * Kept separate so cluster deployments get identical semantics.
    */
  def configure(b: SparkSession.Builder,
                shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // testdata events.parquet stores TIMESTAMP(NANOS) which Spark has no
      // native type for; read as long nanos and normalize in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
