package chessbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.etl.Fetcher

/** What the bench-owned fetcher serves for one URL. */
sealed trait Served extends Serializable
object Served {
  final case class Body(body: String) extends Served
  final case class File(path: String, games: Int) extends Served
  final case class Failed(status: Int) extends Served
}

/** Fetch counters. Spark runs in local mode, so executor-side fetches
  * land in the driver JVM's counters.
  */
object FetchStats {
  val calls = new AtomicLong()
  val nanos = new AtomicLong()
  val bytes = new AtomicLong()
  val games = new AtomicLong()
  def snapshot: (Long, Long, Long, Long) = (calls.get, nanos.get, bytes.get, games.get)
}

/** Bench-owned [[Fetcher]] over the landed archive files: the archive
  * list is served from memory, an archive from its landed file, and an
  * injected failure as its HTTP status.
  */
final case class FileFetcher(served: Map[String, Served]) extends Fetcher {
  override def fetch(url: String): Either[Int, String] = {
    val t0 = System.nanoTime()
    val r = served.get(url) match {
      case Some(Served.Body(b))   => Right(b)
      case Some(Served.Failed(s)) => Left(s)
      case Some(Served.File(p, g)) =>
        val bytes = Files.readAllBytes(Paths.get(p))
        FetchStats.bytes.addAndGet(bytes.length.toLong)
        FetchStats.games.addAndGet(g.toLong)
        Right(new String(bytes, StandardCharsets.UTF_8))
      case None => Left(404)
    }
    FetchStats.calls.incrementAndGet()
    FetchStats.nanos.addAndGet(System.nanoTime() - t0)
    r
  }
}

/** Expected totals over every game the store should hold. */
final case class Expected(games: Long, wins: Long, losses: Long, draws: Long)

/** The landed state of every user's archives: which prefix of each
  * month has landed, the landing files (one directory per user, one
  * file per landed version, as the streaming source reads them), and
  * the totals the store must hold after ingesting them.
  */
final class ArchiveWorld(val synth: ChessSynth, val landing: Path) {
  private val sizes = mutable.Map[(Int, Int), Int]()
  private val files = mutable.Map[(Int, Int), String]()
  var latest: Int = synth.months - 1
  var landedBytes = 0L

  private def land(u: Int, m: Int, size: Int): Unit = {
    sizes((u, m)) = size
    val st = synth.status(u, m)
    if (st == 200 || st == ChessSynth.MalformedStatus) {
      val (y, mo) = synth.yearMonth(m)
      val p = landing.resolve(synth.usernames(u)).resolve(f"$y%04d_$mo%02d_s$size%05d.json")
      landedBytes += ChessSynth.write(p, synth.archiveBody(u, m, size))
      files((u, m)) = p.toString
    }
  }

  /** Ledger rows the store must hold: one per ingested (archive, game
    * count) pair.
    */
  var ledgerRows = 0L

  /** Land every backfill month; the latest month lands partial. */
  def landBackfill(): Unit = {
    for (u <- 0 until synth.users; m <- 0 until synth.months)
      land(u, m, if (m == latest) synth.partialSize else synth.monthSize(u, m))
    ledgerRows = sizes.keys.count { case (u, m) => ok(u, m) }.toLong
  }

  /** One day later: the open month completes and a new month opens. */
  def landCycle(): Unit = {
    (0 until synth.users).foreach(u => land(u, latest, synth.monthSize(u, latest)))
    latest += 1
    (0 until synth.users).foreach(u => land(u, latest, synth.partialSize))
    ledgerRows += 2L * synth.users // the completed month's new count, the new month
  }

  def userLanding(u: Int): String = landing.resolve(synth.usernames(u)).toString

  def fetcher: FileFetcher = {
    val lists = (0 until synth.users).map { u =>
      val user = synth.usernames(u)
      val urls = sizes.keys.filter(_._1 == u).map(_._2).toSeq.sorted
        .map(m => "\"" + synth.archiveUrl(user, m) + "\"")
      synth.listUrl(user) -> Served.Body(urls.mkString("{\"archives\":[", ",", "]}"))
    }
    val archives = sizes.map { case ((u, m), size) =>
      val url = synth.archiveUrl(synth.usernames(u), m)
      url -> (synth.status(u, m) match {
        case 200                      => Served.File(files((u, m)), size)
        case ChessSynth.MalformedStatus => Served.File(files((u, m)), 0)
        case st                              => Served.Failed(st)
      })
    }
    FileFetcher((lists ++ archives).toMap)
  }

  private def ok(u: Int, m: Int): Boolean = synth.status(u, m) == 200

  /** (archive url, status) of every archive that fails to ingest. */
  def failures: Set[(String, String)] =
    sizes.keys.filterNot { case (u, m) => ok(u, m) }.map { case (u, m) =>
      (synth.archiveUrl(synth.usernames(u), m), synth.status(u, m).toString)
    }.toSet

  def expected: Expected = {
    var g, w, l, d = 0L
    sizes.foreach { case ((u, m), size) =>
      if (ok(u, m)) synth.monthGames(u, m).take(size).foreach { x =>
        g += 1
        x.outcome match {
          case ChessSynth.Win  => w += 1
          case ChessSynth.Loss => l += 1
          case ChessSynth.Draw => d += 1
        }
      }
    }
    Expected(g, w, l, d)
  }

  final case class Snapshot(sizes: Map[(Int, Int), Int], files: Map[(Int, Int), String],
                            latest: Int, ledgerRows: Long)

  def snapshot(): Snapshot = Snapshot(sizes.toMap, files.toMap, latest, ledgerRows)

  def restore(s: Snapshot): Unit = {
    sizes.clear(); sizes ++= s.sizes
    files.clear(); files ++= s.files
    latest = s.latest
    ledgerRows = s.ledgerRows
  }
}
