package chessbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded synthesizer of chess.com-shaped monthly archives.
  *
  * U tracked users × M backfill months × G games per full month, plus
  * one further month per daily cycle. Every archive is a pure function
  * of (seed, user, month, size), so the same seed yields byte-identical
  * files. A month's games are chronological and an archive of size k
  * is the first k of them: re-fetching a month that grew repeats the
  * games already stored (the duplicates the ingest must drop).
  *
  * Shape of the data:
  *  - opponents are drawn from a Zipf(1.1) pool, so a few opponents
  *    dominate the Top-N visuals;
  *  - ECO codes and time controls come from fixed vocabularies;
  *  - PGNs are full-size (headers plus 20–31 moves with `[%clk]`
  *    comments, about 1.5–2 KB);
  *  - in every run exactly three backfill archives fail — one HTTP 404,
  *    one HTTP 500 and one malformed body (the ingest maps it to status
  *    598) — and one month is empty; the seed picks which. A fixed count
  *    keeps the number of games, and so the work, the same for every
  *    seed.
  */
final case class ChessSynth(seed: Long, users: Int, months: Int,
                            gamesPerMonth: Int) {
  import ChessSynth._

  val usernames: IndexedSeq[String] = (0 until users).map(u => f"player_$u%03d")

  /** Size of the open (latest) month when it is first fetched. */
  val partialSize: Int = math.max(1, gamesPerMonth / 4)

  private def rng(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed)((h, p) => mix64(h ^ mix64(p + 0x9E37L))))

  /** `yyyy/mm` of month index m (month 0 = 2024/01). */
  def yearMonth(m: Int): (Int, Int) = (2024 + m / 12, m % 12 + 1)

  def archiveUrl(user: String, m: Int): String = {
    val (y, mo) = yearMonth(m)
    f"$BaseUrl/pub/player/$user/games/$y%04d/$mo%02d"
  }

  def listUrl(user: String): String = s"$BaseUrl/pub/player/$user/games/archives"

  /** (user, month) → injected outcome, drawn among the backfill months
    * but the latest (the daily cycle re-fetches that one): 404, 500,
    * [[MalformedStatus]], and 0 for the empty month.
    */
  private lazy val injected: Map[(Int, Int), Int] = {
    val eligible = (for (u <- 0 until users; m <- 0 until months - 1) yield (u, m)).toArray
    val r = rng(7L)
    for (i <- eligible.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = eligible(i); eligible(i) = eligible(j); eligible(j) = t
    }
    eligible.toSeq.zip(Seq(404, 500, MalformedStatus, 0)).toMap
  }

  /** The outcome of fetching month m of user u: 200, 404, 500 or
    * [[MalformedStatus]].
    */
  def status(u: Int, m: Int): Int = injected.get((u, m)).filter(_ != 0).getOrElse(200)

  /** True for the empty month (`{"games": []}`). */
  def isEmptyMonth(u: Int, m: Int): Boolean = injected.get((u, m)).contains(0)

  /** Games in the full month (the open month is fetched as a prefix). */
  def monthSize(u: Int, m: Int): Int =
    if (isEmptyMonth(u, m)) 0 else gamesPerMonth

  /** One month's full, chronological game list. */
  def monthGames(u: Int, m: Int): IndexedSeq[Game] = {
    val n = monthSize(u, m)
    val r = rng(u, m, 3L)
    val (y, mo) = yearMonth(m)
    val start = java.time.LocalDate.of(y, mo, 1).atStartOfDay(java.time.ZoneOffset.UTC)
      .toEpochSecond
    val span = 28L * 86400L
    val ends = Array.fill(n)(start + r.nextLong(span)).sorted
    val userRating = 1200 + rng(u, 1L).nextInt(800)
    (0 until n).map { i =>
      val userWhite = r.nextBoolean()
      val opp = zipf(r, OpponentPool)
      val oppRating = userRating - 300 + r.nextInt(601)
      val outcome = r.nextInt(100) match {
        case x if x < 47 => Win
        case x if x < 90 => Loss
        case _           => Draw
      }
      Game(
        id = (((seed & 0xFFFFL) * 1000L + u) * 1000L + m) * 10000L + i,
        user = usernames(u), opponent = f"opp_$opp%04d",
        userWhite = userWhite, userRating = userRating, oppRating = oppRating,
        outcome = outcome,
        timeControl = TimeControls(r.nextInt(TimeControls.size)),
        eco = Ecos(zipf(r, Ecos.size)),
        endTime = ends(i),
        moveSeed = r.nextLong())
    }
  }

  /** The archive payload holding the first `size` games of month m. */
  def archiveBody(u: Int, m: Int, size: Int): String =
    if (status(u, m) == MalformedStatus) "{\"games\": [ {\"url\": \"truncated"
    else {
      val sb = new java.lang.StringBuilder(size * 2200 + 16)
      sb.append("{\"games\":[")
      monthGames(u, m).take(size).zipWithIndex.foreach { case (g, i) =>
        if (i > 0) sb.append(',')
        g.appendJson(sb)
      }
      sb.append("]}").toString
    }
}

object ChessSynth {
  val BaseUrl = "https://api.chess.com"
  /** The status the ingest assigns to a 200 whose body is not JSON. */
  val MalformedStatus = 598
  val OpponentPool = 400

  sealed trait Outcome
  case object Win extends Outcome
  case object Loss extends Outcome
  case object Draw extends Outcome

  val TimeControls: IndexedSeq[String] =
    IndexedSeq("60", "120+1", "180", "180+2", "300", "300+5", "600",
               "600+5", "900+10", "1800", "1/86400", "1/259200")

  val Ecos: IndexedSeq[String] =
    (for (l <- "ABCDE"; n <- 0 until 100 by 7) yield f"$l$n%02d").toIndexedSeq

  private val Pieces = Array("", "N", "B", "R", "Q", "K")
  private val FileLetters = "abcdefgh"

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Zipf(1.1) draw over [0, n) by inverse CDF on a cached table. */
  private val zipfTables = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  def zipf(r: SplittableRandom, n: Int): Int = {
    val cdf = zipfTables.computeIfAbsent(n, { k =>
      val w = (1 to k).map(i => 1.0 / math.pow(i, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    })
    val x = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, x)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }

  final case class Game(id: Long, user: String, opponent: String,
                        userWhite: Boolean, userRating: Int, oppRating: Int,
                        outcome: Outcome, timeControl: String, eco: String,
                        endTime: Long, moveSeed: Long) {
    def url: String = s"https://www.chess.com/game/live/$id"
    def white: String = if (userWhite) user else opponent
    def black: String = if (userWhite) opponent else user
    def whiteWon: Boolean = (outcome == Win) == userWhite && outcome != Draw
    def pgnResult: String = outcome match {
      case Draw => "1/2-1/2"
      case _    => if (whiteWon) "1-0" else "0-1"
    }
    private def sideResult(white: Boolean): String = outcome match {
      case Draw => "agreed"
      case _    => if (white == whiteWon) "win" else "resigned"
    }

    def pgn: String = {
      val r = new SplittableRandom(moveSeed)
      val d = java.time.Instant.ofEpochSecond(endTime).atZone(java.time.ZoneOffset.UTC)
      val date = f"${d.getYear}%04d.${d.getMonthValue}%02d.${d.getDayOfMonth}%02d"
      val time = f"${d.getHour}%02d:${d.getMinute}%02d:${d.getSecond}%02d"
      val (wr, br) = if (userWhite) (userRating, oppRating) else (oppRating, userRating)
      val sb = new java.lang.StringBuilder(2048)
      def tag(k: String, v: String): Unit =
        sb.append('[').append(k).append(" \"").append(v).append("\"]\n")
      tag("Event", "Live Chess"); tag("Site", "Chess.com"); tag("Date", date)
      tag("Round", "-"); tag("White", white); tag("Black", black)
      tag("Result", pgnResult); tag("ECO", eco)
      tag("ECOUrl", s"https://www.chess.com/openings/$eco-Opening")
      tag("UTCDate", date); tag("UTCTime", time)
      tag("WhiteElo", wr.toString); tag("BlackElo", br.toString)
      tag("TimeControl", timeControl)
      tag("Termination", s"${if (outcome == Draw) "Game drawn by agreement" else (if (whiteWon) white else black) + " won by resignation"}")
      tag("StartTime", time); tag("EndDate", date); tag("EndTime", time)
      tag("Link", url)
      sb.append('\n')
      val moves = 20 + r.nextInt(12)
      var clockW = 300.0; var clockB = 300.0
      var i = 1
      while (i <= moves) {
        def move(): String = {
          val p = Pieces(r.nextInt(Pieces.length))
          s"$p${FileLetters.charAt(r.nextInt(8))}${1 + r.nextInt(8)}"
        }
        clockW = math.max(0.1, clockW - r.nextInt(60) / 10.0)
        clockB = math.max(0.1, clockB - r.nextInt(60) / 10.0)
        sb.append(i).append(". ").append(move()).append(" {[%clk ")
          .append(clock(clockW)).append("]} ")
          .append(i).append("... ").append(move()).append(" {[%clk ")
          .append(clock(clockB)).append("]} ")
        i += 1
      }
      sb.append(pgnResult).append('\n').toString
    }

    def appendJson(sb: java.lang.StringBuilder): Unit = {
      def str(s: String): Unit = {
        sb.append('"')
        s.foreach {
          case '"'  => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case c    => sb.append(c)
        }
        sb.append('"')
      }
      def side(name: String, rating: Int, white: Boolean): Unit = {
        sb.append("{\"username\":"); str(name)
        sb.append(",\"rating\":").append(rating)
        sb.append(",\"result\":"); str(sideResult(white)); sb.append('}')
      }
      val (wr, br) = if (userWhite) (userRating, oppRating) else (oppRating, userRating)
      sb.append("{\"url\":"); str(url)
      sb.append(",\"pgn\":"); str(pgn)
      sb.append(",\"time_control\":"); str(timeControl)
      sb.append(",\"end_time\":").append(endTime)
      sb.append(",\"white\":"); side(white, wr, white = true)
      sb.append(",\"black\":"); side(black, br, white = false)
      sb.append('}')
    }
  }

  private def clock(s: Double): String = {
    val t = (s * 10).round
    f"${t / 36000}:${t / 600 % 60}%02d:${t / 10 % 60}%02d.${t % 10}"
  }

  /** Write `body` to `path` (parent dirs created), returning its size. */
  def write(path: Path, body: String): Long = {
    Files.createDirectories(path.getParent)
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    Files.write(path, bytes)
    bytes.length.toLong
  }
}
