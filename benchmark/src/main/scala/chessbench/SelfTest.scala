package chessbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Self-tests of the harness (no Spark session needed):
  *
  * {{{ SelfTest <scratch dir> <BENCHMARK.json> }}}
  *
  * Exits non-zero when any check fails.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case t: Throwable => t.printStackTrace(); false }
    println(s"${if (passed) "PASS" else "FAIL"} $name")
    if (!passed) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val scratch = Paths.get(args(0)).toAbsolutePath
    val spec = Paths.get(args(1))

    check("tail rule: eleventh-largest sample, share at or below it") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.tail(xs) == Some((90.0, 90.0, 100)) &&
        Stats.tail(xs.take(11)) == Some((1.0, 100.0 / 11, 11)) &&
        Stats.tail(xs.take(10)).isEmpty &&
        Stats.tail(scala.util.Random.shuffle(xs)) == Stats.tail(xs)
    }

    check("median of odd and even sample counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }

    check("metric names are valid") {
      Metrics.units.keys.forall(Stats.validName) &&
        Seq("", "a b", "x/y", "-lead", "é", "a" * 65).forall(n => !Stats.validName(n)) &&
        Seq("setup_s", "etl.job_s.IngestJob", "streaming.phase_ms.addBatch", "9x-y")
          .forall(Stats.validName)
    }

    check("BENCHMARK.json declares exactly the reported metrics and units") {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(spec.toFile)
      def listed(key: String): Seq[(String, String)] =
        root.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
      listed("end_to_end").toMap == Metrics.endToEnd.toMap &&
        listed("per_layer").toMap == Metrics.perLayer.toMap
    }

    check("synthesizer: same seed gives byte-identical archives") {
      val a = landAll(7L, scratch.resolve("a"))
      val b = landAll(7L, scratch.resolve("b"))
      val c = landAll(8L, scratch.resolve("c"))
      a == b && a.nonEmpty && a != c
    }

    check("synthesizer: archives hold the expected games, PGNs are full-size") {
      val s = ChessSynth(3L, users = 2, months = 4, gamesPerMonth = 40)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val okMonths = for (u <- 0 until 2; m <- 0 until 4 if s.status(u, m) == 200) yield (u, m)
      val sizesOk = okMonths.forall { case (u, m) =>
        mapper.readTree(s.archiveBody(u, m, s.monthSize(u, m))).get("games").size == s.monthSize(u, m)
      }
      val pgns = okMonths.flatMap { case (u, m) => s.monthGames(u, m).map(_.pgn.length) }
      val mean = pgns.sum.toDouble / pgns.size
      val prefix = s.monthGames(0, 3).take(s.partialSize).map(_.url) ==
        mapper.readTree(s.archiveBody(0, 3, s.partialSize)).get("games").elements().asScala
          .map(_.get("url").asText).toSeq
      sizesOk && prefix && mean >= 1400 && mean <= 2100
    }

    check("synthesizer: one 404, one 500, one malformed archive and one empty month per seed") {
      val months = for (u <- 0 until 2; m <- 0 until 6) yield (u, m)
      def outcomes(seed: Long) = {
        val s = ChessSynth(seed, users = 2, months = 6, gamesPerMonth = 10)
        months.map { case (u, m) => if (s.isEmptyMonth(u, m)) 0 else s.status(u, m) }
      }
      val all = (1L to 20L).map(outcomes)
      all.forall { o =>
        o.filter(_ != 200).sorted == Seq(0, 404, 500, ChessSynth.MalformedStatus) &&
          Seq(5, 11).forall(o(_) == 200) // the latest month of each user never fails
      } && all.distinct.size > 1
    }

    val visuals = ChessBench.Visuals.map(v => v -> Checks.Visual(Seq("k", "n"), Seq("[a,1]", "[b,2]")))

    check("stream = batch check passes on identical visuals") {
      Checks.visualsMatch(visuals, visuals).isEmpty
    }

    check("stream = batch check fires when a visual is perturbed") {
      val rowChanged = visuals.map {
        case ("top_openings", v) => "top_openings" -> v.copy(rows = Seq("[a,1]", "[b,3]"))
        case other => other
      }
      val colChanged = visuals.map {
        case ("cards", v) => "cards" -> v.copy(columns = Seq("k", "m"))
        case other => other
      }
      val rowDropped = visuals.map {
        case ("rolling", v) => "rolling" -> v.copy(rows = v.rows.take(1))
        case other => other
      }
      val r = Checks.visualsMatch(visuals, rowChanged)
      val c = Checks.visualsMatch(visuals, colChanged)
      val d = Checks.visualsMatch(visuals, rowDropped)
      val missing = Checks.visualsMatch(visuals, visuals.tail)
      r.size == 1 && r.head.startsWith("top_openings") &&
        c.size == 1 && c.head.startsWith("cards") &&
        d.size == 1 && d.head.startsWith("rolling") &&
        missing.size == 1 && missing.head.startsWith("cards")
    }

    println(if (failures == 0) "self-tests: all passed" else s"self-tests: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** Land a small backfill plus one daily cycle; relative path -> bytes. */
  private def landAll(seed: Long, dir: Path): Map[String, Seq[Byte]] = {
    Main.deleteTree(dir)
    val w = new ArchiveWorld(ChessSynth(seed, users = 2, months = 3, gamesPerMonth = 12), dir)
    w.landBackfill()
    w.landCycle()
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      dir.relativize(p).toString -> Files.readAllBytes(p).toSeq
    }.toMap
    finally s.close()
  }
}
