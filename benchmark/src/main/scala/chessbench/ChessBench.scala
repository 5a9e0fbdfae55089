package chessbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.GraftSession
import graft.etl.{GamesStore, IngestJob, Schemas, StateStore}
import graft.semantic.{Dashboard, FilterContext}
import graft.streaming.{StreamingDashboard, StreamingIngest}

/** Workload sizes: tracked users, backfill months, games per full month. */
final case class Sizing(users: Int, months: Int, gamesPerMonth: Int)

object Sizing {
  def of(workload: String): Sizing = workload match {
    case "chess-backfill" => Sizing(users = 2, months = 12, gamesPerMonth = 100)
    case "chess-daily"    => Sizing(users = 2, months = 6, gamesPerMonth = 80)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** One closed-loop cycle's measurements. */
final case class CycleResult(
    ingestS: Double, appended: Long, freshS: Double, streamFreshS: Double,
    visualS: Seq[Double], layers: Map[String, Double],
    spans: String, reconciled: Boolean)

/** Where one copy of the system's state lives. */
final case class Dirs(root: Path) {
  val batch: String = root.resolve("batch").toString
  val state: String = root.resolve("state.json").toString
  val stream: String = root.resolve("stream").toString
  val ckpt: Path = root.resolve("ckpt")
  val dash: String = root.resolve("dash").toString
}

final class ChessBench(spark: SparkSession, world: ArchiveWorld, var trace: Trace) {
  import ChessBench._

  private val sc = spark.sparkContext
  private val users = world.synth.usernames
  /** Games the stores held before the next cycle; the caller sets it when
    * it resets or restores the stores.
    */
  var storedGames = 0L
  var attempted = 0L
  val mismatches: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def collect(df: DataFrame): Checks.Visual =
    Checks.Visual(df.columns.toSeq, df.collect().map(_.toString).toSeq)

  private def slicer: FilterContext = {
    val (y0, m0) = world.synth.yearMonth(world.latest - 1)
    val (y1, m1) = world.synth.yearMonth(world.latest)
    FilterContext.empty.dateBetween(col("date_ymd"),
      f"$y0%04d-$m0%02d-01", f"$y1%04d-$m1%02d-28")
  }

  /** One cycle on `d`: the batch path (ingest, then the six visuals
    * under the empty context and the cards under a date-range slicer),
    * then the streaming twin over the same landed files, then the
    * checks. `daily` re-fetches each user's latest month first.
    */
  def cycle(d: Dirs, label: String, daily: Boolean): CycleResult = {
    val expectedBefore = storedGames
    val exp = world.expected
    val runId = s"run-$label"
    val batchStore = new GamesStore(d.batch)
    val streamStore = new GamesStore(d.stream)
    val stateStore = new StateStore(d.state)
    val fetcher = world.fetcher
    val ctx = slicer
    val fetch0 = FetchStats.snapshot
    val exec0 = (trace.planningNs.get, trace.sqlActions.get)
    attempted += 3 + users.size + 2 * Visuals.size

    var root: Span = null
    val visualS = mutable.ArrayBuffer[Double]()
    val batchRows = mutable.ArrayBuffer[(String, Checks.Visual)]()
    val streamRows = mutable.ArrayBuffer[(String, Checks.Visual)]()
    var ingestS = 0.0
    var freshS = 0.0
    var streamFreshS = 0.0

    trace.span(sc, "bench", s"cycle.$label") {
      if (trace.enabled) root = trace.roots.last
      // ---- batch path: landed archives -> IngestJob -> dashboard
      freshS = timed {
        ingestS = timed {
          trace.span(sc, "etl", "IngestJob.run") {
            if (daily) stateStore.save(stateStore.unmarkLatest(stateStore.load()))
            new IngestJob(spark, fetcher, batchStore, stateStore).run(users.mkString(","), runId)
          }
        }._2
        val dash = new Dashboard(batchStore.games(spark))
        val views = batchVisuals(dash, FilterContext.empty) ++
          batchVisuals(dash, ctx).take(1).map { case (n, df) => (s"$n@slicer", df) }
        views.foreach { case (name, df) =>
          val (v, s) = timed(trace.span(sc, "semantic", s"visual.$name")(collect(df())))
          visualS += s
          if (!name.contains('@')) batchRows += name -> v
        }
      }._2
      // ---- streaming twin: landed files -> StreamingIngest -> StreamingDashboard
      streamFreshS = timed {
        users.indices.foreach { u =>
          trace.span(sc, "streaming", s"StreamingIngest.${users(u)}") {
            StreamingIngest.runAvailableNow(StreamingIngest.ingestStream(
              spark, world.userLanding(u), streamStore, users(u),
              d.ckpt.resolve("ingest").resolve(users(u)).toString))
          }
        }
        trace.span(sc, "streaming", "StreamingDashboard") {
          streamStore.ensureAll(spark)
          val games = spark.readStream.schema(Schemas.gamesFact).parquet(streamStore.gamesPath)
          StreamingDashboard.runAvailableNow(StreamingDashboard.dashboardStream(
            games, d.dash, d.ckpt.resolve("dash").toString))
        }
        streamVisuals(spark, d.dash).foreach { case (name, df) =>
          val (v, s) = timed(trace.span(sc, "streaming", s"visual.$name")(collect(df())))
          visualS += s
          streamRows += name -> v
        }
      }._2
    }

    // ---- checks (untimed)
    val found = mutable.ArrayBuffer[String]()
    found ++= Checks.visualsMatch(batchRows.toSeq, streamRows.toSeq)
    val cards = batchRows.find(_._1 == "cards").map(_._2.rows.head).getOrElse("")
    val wantCards = s"[${exp.games},${exp.wins},${exp.losses},${exp.draws},"
    if (!cards.startsWith(wantCards)) found += s"cards: got $cards, expected $wantCards..."
    val g = batchStore.games(spark)
    found ++= Checks.equal("batch games", g.count(), exp.games)
    found ++= Checks.equal("batch distinct game_url", g.select("game_url").distinct().count(), exp.games)
    found ++= Checks.equal("stream games", streamStore.games(spark).count(), exp.games)
    found ++= Checks.equal("ledger rows", batchStore.ledger(spark).count(), world.ledgerRows)
    val errors = batchStore.status(spark)
      .filter(col("run_id") === runId && col("stage") === graft.etl.Stages.ErrorArchiveDownload)
      .select("message", "http_status").collect().map(r => (r.getString(0), r.getString(1))).toSet
    found ++= Checks.equal("status-log error rows", errors, world.failures)
    found.foreach(m => mismatches += s"$label: $m")
    storedGames = exp.games

    val layers =
      if (root == null) Map.empty[String, Double]
      else layerMetrics(root, d, fetch0, exec0, exp.games - expectedBefore)
    CycleResult(ingestS, exp.games - expectedBefore, freshS, streamFreshS, visualS.toSeq,
      layers,
      if (root == null) "" else trace.treeJson(root),
      root == null || trace.reconciles(root))
  }

  // ---------------------------------------------------------- per layer

  private def dirFiles(path: String): Seq[Path] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      } finally s.close()
    }
  }

  private def dataFiles(path: String): Seq[Path] =
    dirFiles(path).filter(_.getFileName.toString.startsWith("part-"))

  private var lastOutputBytes = 0L

  def resetStoreBytes(d: Dirs): Unit =
    lastOutputBytes = dataFiles(d.batch).map(Files.size).sum

  private def layerMetrics(root: Span, d: Dirs, fetch0: (Long, Long, Long, Long),
                           exec0: (Long, Long), appended: Long): Map[String, Double] = {
    trace.drain(spark)
    val m = mutable.LinkedHashMap[String, Double]()
    val spans = root.descendants
    def under(layer: String) = spans.filter(s => s.layer == layer && s.parent.contains(root))
    def jobsOf(ss: Seq[Span]) = ss.flatMap(trace.jobsUnder).distinct
    def jobS(j: JobRec) = (j.endNs - j.startNs).max(0L) / 1e9

    val f1 = FetchStats.snapshot
    val etl = under("etl")
    val etlJobs = jobsOf(etl)
    m("etl.fetch_calls") = (f1._1 - fetch0._1).toDouble
    m("etl.fetch_s") = (f1._2 - fetch0._2) / 1e9
    m("etl.fetch_bytes") = (f1._3 - fetch0._3).toDouble
    EtlCallSites.foreach { site =>
      m(s"etl.job_s.$site") = etlJobs.filter(j => callSiteFile(j.callSite) == site).map(jobS).sum
    }
    m("etl.jobs_per_user") = etlJobs.size.toDouble / users.size
    m("etl.driver_gap_s") = etl.map(trace.driverGapNs).sum / 1e9
    m("etl.dedup_yield") = appended.toDouble / math.max(1L, f1._4 - fetch0._4)
    val files = dataFiles(d.batch)
    m("etl.store_files") = files.size.toDouble
    val bytes = files.map(Files.size).sum
    m("etl.output_bytes") = (bytes - lastOutputBytes).toDouble
    lastOutputBytes = bytes

    val sem = under("semantic")
    Visuals.foreach { v =>
      m(s"semantic.visual_s.$v") =
        sem.filter(s => s.name == s"visual.$v" || s.name == s"visual.$v@slicer").map(_.wallNs).sum / 1e9
    }
    val semJobs = jobsOf(sem)
    m("semantic.jobs_per_visual") = semJobs.size.toDouble / sem.size
    m("semantic.input_bytes") = semJobs.map(_.input).sum.toDouble
    m("semantic.driver_gap_s") = sem.map(trace.driverGapNs).sum / 1e9

    val str = under("streaming")
    val prog = str.flatMap(trace.progressUnder)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    m("streaming.batches") = prog.size.toDouble
    m("streaming.batch_s") = prog.map(dur(_, "triggerExecution")).sum / 1e3
    m("streaming.rows_per_batch") = prog.map(_.numInputRows).sum.toDouble / math.max(1, prog.size)
    StreamPhases.foreach { ph => m(s"streaming.phase_ms.$ph") = prog.map(dur(_, ph)).sum.toDouble }
    m("streaming.dashboard_batch_s") =
      str.filter(_.name == "StreamingDashboard").map(_.wallNs).sum / 1e9
    m("streaming.state_bytes") = StreamingDashboard.Grains.map { case (g, _) =>
      graft.streaming.StreamingAgg.latestState(spark, s"${d.dash}/$g")
        .map { case (id, _) => dataFiles(s"${d.dash}/$g/batch=$id").map(Files.size).sum }
        .getOrElse(0L)
    }.sum.toDouble

    val all = trace.jobsUnder(root)
    m("spark.jobs") = all.size.toDouble
    m("spark.stages") = all.map(_.stages).sum.toDouble
    m("spark.tasks") = all.map(_.tasks).sum.toDouble
    m("spark.failed_tasks") = all.map(_.failedTasks).sum.toDouble
    m("spark.executor_run_s") = all.map(_.runMs).sum / 1e3
    m("spark.executor_cpu_s") = all.map(_.cpuNs).sum / 1e9
    m("spark.gc_s") = all.map(_.gcMs).sum / 1e3
    m("spark.shuffle_write_bytes") = all.map(_.shuffleWrite).sum.toDouble
    m("spark.shuffle_read_bytes") = all.map(_.shuffleRead).sum.toDouble
    m("spark.fetch_wait_s") = all.map(_.fetchWaitMs).sum / 1e3
    m("spark.spill_bytes") = all.map(_.spill).sum.toDouble
    m("spark.input_bytes") = all.map(_.input).sum.toDouble
    m("spark.driver_gap_s") = trace.driverGapNs(root) / 1e9
    m("spark.planning_s") = (trace.planningNs.get - exec0._1) / 1e9
    m("spark.sql_actions") = (trace.sqlActions.get - exec0._2).toDouble
    m.toMap
  }
}

object ChessBench {
  val Visuals: Seq[String] =
    Seq("cards", "top_opponents", "bucket_color", "opp_bucket", "top_openings", "rolling")

  val StreamPhases: Seq[String] =
    Seq("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")

  /** Source files whose jobs the etl layer's job time is split by. */
  val EtlCallSites: Seq[String] = Seq("IngestJob", "GamesStore", "other")

  def callSiteFile(site: String): String = {
    val f = site.split(" at ").lastOption.getOrElse("").split("\\.scala").head
    if (EtlCallSites.contains(f)) f else "other"
  }

  def batchVisuals(d: Dashboard, ctx: FilterContext): Seq[(String, () => DataFrame)] = Seq(
    "cards"         -> (() => d.cards(ctx)),
    "top_opponents" -> (() => d.topOpponents(10, ctx)),
    "bucket_color"  -> (() => d.winRateByBucketAndColor(ctx)),
    "opp_bucket"    -> (() => d.winRateByOpponentBucket(ctx)),
    "top_openings"  -> (() => d.topOpenings(5, ctx)),
    "rolling"       -> (() => d.rollingWinRate(d.fact.sparkSession, 12, ctx)))

  def streamVisuals(spark: SparkSession, root: String): Seq[(String, () => DataFrame)] = Seq(
    "cards"         -> (() => StreamingDashboard.cards(spark, root)),
    "top_opponents" -> (() => StreamingDashboard.topOpponents(spark, root, 10)),
    "bucket_color"  -> (() => StreamingDashboard.winRateByBucketAndColor(spark, root)),
    "opp_bucket"    -> (() => StreamingDashboard.winRateByOpponentBucket(spark, root)),
    "top_openings"  -> (() => StreamingDashboard.topOpenings(spark, root, 5)),
    "rolling"       -> (() => StreamingDashboard.rollingWinRate(spark, root, 12)))
}
