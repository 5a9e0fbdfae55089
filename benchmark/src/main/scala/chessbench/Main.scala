package chessbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload chess-daily --seed 7 --seconds 20 --trace 0 \
  *      --work <scratch dir> --out <result.json> --artifact <artifact.json>
  * }}}
  *
  * `setup_s` = JVM and session start + the median of three syntheses
  * of the inputs + (chess-daily) the backfill that builds and
  * snapshots the starting stores, which also warms the JVM.
  *
  * Measured: chess-backfill runs one cold backfill cycle on the fresh
  * JVM. chess-daily runs one daily cycle on the backfilled stores, and
  * repeats it from the restored snapshot until `--seconds` have passed.
  * With `--trace 1` the measured cycles are traced and the result
  * carries the per-layer metrics; the artifact keeps the traced
  * end-to-end values, which the runner compares with an untraced run
  * of the same seed (tracing overhead).
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                        trace: Boolean = false, work: String = "", out: String = "",
                        artifact: String = "")

  def parse(args: Seq[String]): Opts = args.grouped(2).foldLeft(Opts()) {
    case (o, Seq("--workload", v)) => o.copy(workload = v)
    case (o, Seq("--seed", v))     => o.copy(seed = v.toLong)
    case (o, Seq("--seconds", v))  => o.copy(seconds = v.toInt)
    case (o, Seq("--trace", v))    => o.copy(trace = v == "1")
    case (o, Seq("--work", v))     => o.copy(work = v)
    case (o, Seq("--out", v))      => o.copy(out = v)
    case (o, Seq("--artifact", v)) => o.copy(artifact = v)
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    val sizing = Sizing.of(o.workload)
    val work = Paths.get(o.work).toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work)
    // two cores: the jobs here are small and driver-bound; on a shared
    // 4-core box local[2] ran faster and steadier than local[4]
    val n = math.min(2, Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.configure(
        SparkSession.builder().master(s"local[$n]").appName("chessbench"), n)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try run(spark, o, sizing, work)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, o: Opts, s: Sizing, work: Path): Int = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val synth = ChessSynth(o.seed, s.users, s.months, s.gamesPerMonth)
    val landing = work.resolve("landing")
    // synthesis is the part of set-up that can repeat: land three times
    // into a fresh directory and count the median
    val landings = (1 to 3).map { _ =>
      deleteTree(landing)
      val w = new ArchiveWorld(synth, landing)
      val t = System.nanoTime()
      w.landBackfill()
      (w, (System.nanoTime() - t) / 1e9)
    }
    val world = landings.last._1
    val landS = Stats.median(landings.map(_._2))
    val off = new Trace(false)
    val on = new Trace(o.trace)
    val bench = new ChessBench(spark, world, off)
    val results = mutable.ArrayBuffer[CycleResult]()
    var prepS = 0.0
    var failure: Option[Throwable] = None

    def measured(body: => Unit): Unit = {
      bench.trace = on
      on.install(spark)
      try body finally on.uninstall(spark)
    }

    try {
      o.workload match {
        case "chess-backfill" =>
          // one cycle on the cold JVM: a backfill is a one-off batch
          // job, and its users pay JIT, class loading and the first plan
          // compilations on every run
          val d = Dirs(work.resolve("backfill"))
          measured(results += bench.cycle(d, "cold", daily = false))

        case "chess-daily" =>
          val prep0 = System.nanoTime()
          val live = Dirs(work.resolve("live"))
          val snap = work.resolve("snapshot")
          bench.cycle(live, "backfill", daily = false)
          bench.resetStoreBytes(live)
          copyTree(live.root, snap.resolve("live"))
          copyTree(landing, snap.resolve("landing"))
          val worldSnap = world.snapshot()
          val storedSnap = bench.storedGames
          def restore(): Unit = {
            deleteTree(live.root); deleteTree(landing)
            copyTree(snap.resolve("live"), live.root)
            copyTree(snap.resolve("landing"), landing)
            world.restore(worldSnap)
            bench.storedGames = storedSnap
            bench.resetStoreBytes(live)
          }
          prepS = (System.nanoTime() - prep0) / 1e9
          val t0 = System.nanoTime()
          var i = 0
          measured {
            while (i == 0 || (System.nanoTime() - t0) / 1e9 < o.seconds) {
              if (i > 0) restore()
              world.landCycle()
              results += bench.cycle(live, s"day$i", daily = true)
              i += 1
            }
          }
      }
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        failure = Some(t)
    }

    val setupS = sessionS + landS + prepS
    val measureEndMs = System.currentTimeMillis()
    val peakRssMb = peakRss() / 1024.0
    val failed = bench.mismatches.size + failure.size
    val correct = failed == 0
    val cycles = results.toSeq
    val e2e: Map[String, Double] =
      if (cycles.isEmpty) Map.empty
      else endToEnd(cycles) ++ Map("setup_s" -> setupS, "peak_rss_mb" -> peakRssMb)
    val layers: Map[String, Double] =
      if (!o.trace || cycles.isEmpty) Map.empty
      else cycles.flatMap(_.layers.keys).distinct.map { k =>
        k -> cycles.map(_.layers(k)).sum / cycles.size
      }.toMap

    val metrics = (if (o.trace) layers else e2e).filter { case (k, _) => Metrics.units.contains(k) }
    val cal0 = System.nanoTime()
    val host = graft.HostCalibration.measure()
    val calS = (System.nanoTime() - cal0) / 1e9
    val units = Metrics.units
    val metricsJson = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":{"value":${num(v)},"unit":"${units.getOrElse(k, "?")}"}"""
    }.mkString("{", ",", "}")
    val result =
      s"""{"correct":$correct,"attempted":${math.max(1L, bench.attempted)},"failed":$failed,"metrics":$metricsJson}"""
    write(o.out, result)

    val visualS = cycles.flatMap(_.visualS)
    val tail = Stats.tail(visualS)
    val artifact = Seq(
      s""""workload":"${o.workload}"""",
      s""""seed":${o.seed}""",
      s""""seconds":${o.seconds}""",
      s""""trace":${o.trace}""",
      s""""sizing":{"users":${s.users},"months":${s.months},"games_per_month":${s.gamesPerMonth}}""",
      s""""landed_bytes":${world.landedBytes}""",
      s""""cycles_measured":${cycles.size}""",
      s""""end_to_end":${obj(e2e)}""",
      s""""visual_tail":{"value_s":${num(tail.map(_._1).getOrElse(Double.NaN))},"percentile":${num(tail.map(_._2).getOrElse(Double.NaN))},"samples":${visualS.size}}""",
      s""""error_rate":${num(failed.toDouble / math.max(1L, bench.attempted))}""",
      s""""per_layer":${obj(layers)}""",
      s""""spans_reconciled":${cycles.forall(_.reconciled)}""",
      s""""span_trees":[${cycles.map(_.spans).filter(_.nonEmpty).mkString(",")}]""",
      s""""phases_s":{"session":${num(sessionS)},"landing_median":${num(landS)},"landings":${num(landings.map(_._2).sum)},"prepare":${num(prepS)},"setup":${num(setupS)},"run_to_measure_end":${num((measureEndMs - jvmStartMs) / 1e3)},"calibration":${num(calS)}}""",
      s""""host":{"host_factor":${num(host.factor)},"calibration":${host.json},"java":"${System.getProperty("java.version")}","spark":"${spark.version}","cores":${spark.sparkContext.defaultParallelism}}""",
      s""""mismatches":[${(bench.mismatches ++ failure.map(_.toString)).map(jsonStr).mkString(",")}]""")
      .mkString("{", ",", "}")
    write(o.artifact, artifact)
    if (correct) 0 else 1
  }

  /** End-to-end metrics over a set of cycles. */
  def endToEnd(rs: Seq[CycleResult]): Map[String, Double] = {
    Map(
      "ingest_games_per_s" -> Stats.median(rs.map(r => r.appended / r.ingestS)),
      "fresh_p50_s" -> Stats.median(rs.map(_.freshS)),
      "stream_fresh_p50_s" -> Stats.median(rs.map(_.streamFreshS)),
      "visual_mean_s" -> Stats.median(rs.map(r => r.visualS.sum / r.visualS.size)))
  }

  private def peakRss(): Double = {
    val lines = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
    lines.split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(Double.NaN)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => " "
      case c    => c.toString
    } + "\""

  private def write(path: String, body: String): Unit =
    if (path.nonEmpty) Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { x =>
      val t = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(t) else Files.copy(x, t)
    } finally s.close()
  }
}
