package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

import org.apache.spark.sql.Row

/** Seeded WRM snapshot generator in the reference raw format (FIXTURES.md §1).
  *
  * Every value is a pure function of (seed, date, file, row), so the same
  * seed always gives the same bytes, and the expected outcomes in the
  * manifest are computed from the same functions instead of read back from
  * the program. A file carries `stations` station rows then `bikes` free-bike
  * rows. Per file, `malformed` rows have a two-part composite column (the
  * parser drops the row); in `aborted` files per date one station row has a
  * non-numeric `bikes` (the parser drops the whole file). Every ninth station
  * has a multibyte name.
  */
object Gen {

  final case class Layout(stations: Int, bikes: Int, malformed: Int,
                          startSec: Int, stepSec: Int) {
    def rowsPerFile: Int = stations + bikes
  }

  /** One snapshot file: its partition date and index within that date. */
  final case class FileId(date: String, index: Int, aborted: Boolean) {
    def wallSec(l: Layout): Int = l.startSec + index * l.stepSec
    def name(l: Layout): String = {
      val s = wallSec(l)
      s"wrm_stations_${date}_${pad(s / 3600, 2)}-${pad(s / 60 % 60, 2)}-${pad(s % 60, 2)}.txt"
    }
    def epochSec(l: Layout): Long = LocalDate.parse(date).toEpochDay * 86400L + wallSec(l)
  }

  final case class FileEntry(date: String, name: String, rows: Long, aborted: Boolean)
  final case class Latest(bikes: Long, spaces: Long)

  /** Expected outcomes the output checks read. `files` is in landing order
    * for the stream workload. `latest` and `bikesMax` are keyed by station id
    * and cover the batch workloads only.
    */
  final case class Manifest(workload: String, seed: Long, files: Seq[FileEntry],
                            latest: Map[String, Latest], bikesMax: Map[String, Long],
                            stationRows: Long, bikeRows: Long) {
    def goodFiles: Seq[FileEntry] = files.filterNot(_.aborted)
    def totalRows: Long = stationRows + bikeRows
    def rowsOn(date: String): Long = files.filter(_.date == date).map(_.rows).sum
  }

  private val MultibyteNames = Vector(
    "Rynek Główny", "Most Grunwaldzki 橋", "Żórawina Północ", "Вокзал Главный",
    "Πλατεία Ελευθερίας", "ساحة المحطة", "Park 🚲 Szczytnicki", "Åsa Øster")

  val Header: String =
    "name,lat,lon,bikes,spaces,installed,locked,temporary,total_docks," +
      "givesbonus_acceptspedelecs_fbbattlevel,pedelecs"

  // SplitMix64 finaliser: a stateless, JVM-independent hash.
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(seed: Long, parts: Long*): Long = parts.foldLeft(mix(seed))((a, p) => mix(a ^ p))
  private def bounded(x: Long, n: Int): Int = java.lang.Math.floorMod(x, n.toLong).toInt
  private def dayOf(date: String): Long = LocalDate.parse(date).toEpochDay

  /** A seeded permutation of [0, n). */
  def shuffle(seed: Long, salt: Long, n: Int): IndexedSeq[Int] = {
    val a = Array.range(0, n)
    (0 until n).foreach { i =>
      val j = i + bounded(h(seed, salt, i), n - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  /** `k` distinct indices in [0, n), chosen by seed. */
  def pick(seed: Long, salt: Long, n: Int, k: Int): Set[Int] = shuffle(seed, salt, n).take(k).toSet

  def malformedRows(seed: Long, l: Layout, f: FileId): Set[Int] =
    pick(seed, h(dayOf(f.date), f.index, 1), l.rowsPerFile, l.malformed)

  /** The station row whose cast failure aborts an aborted file. */
  def poisonRow(seed: Long, l: Layout, f: FileId): Int = {
    val bad = malformedRows(seed, l, f)
    val start = bounded(h(seed, dayOf(f.date), f.index, 2), l.stations)
    Iterator.iterate(start)(i => (i + 1) % l.stations).find(i => !bad(i)).get
  }

  /** Batch files: `perDate` files per date, `aborted` of them aborted. */
  def batchFiles(seed: Long, dates: Seq[String], perDate: Int, aborted: Int): Seq[FileId] =
    dates.flatMap { d =>
      val bad = pick(seed, h(dayOf(d), 3), perDate, aborted)
      (0 until perDate).map(i => FileId(d, i, bad(i)))
    }

  private def station(seed: Long, f: FileId, i: Int): (Int, Int) = {
    val docks = 10 + i % 21
    val bikes = bounded(h(seed, dayOf(f.date), f.index, i, 4), docks + 1)
    (bikes, docks)
  }

  private def pad(v: Long, width: Int): String = {
    val s = v.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }
  private def micro(v: Long): String = s"${v / 1000000}.${pad(v % 1000000, 6)}"

  private def stationId(i: Int): String = pad(i + 1, 4)
  private def bikeId(j: Int): String = "fb" + pad(j + 1, 4)
  private def stationName(i: Int): String =
    if (i % 9 == 4) s"${MultibyteNames(i / 9 % MultibyteNames.size)} ${i + 1}"
    else s"Station ${i + 1}"
  private def stationLat(i: Int): Long = 51050000L + (i % 40) * 3100L + i / 40 * 7L
  private def stationLon(i: Int): Long = 16950000L + (i / 40) * 4700L + i % 40 * 11L
  private def bikeLat(seed: Long, f: FileId, j: Int): Long =
    51060000L + bounded(h(seed, dayOf(f.date), f.index, j, 5), 60000)
  private def bikeLon(seed: Long, f: FileId, j: Int): Long =
    16990000L + bounded(h(seed, dayOf(f.date), f.index, j, 6), 90000)

  /** The file's text in the reference format. */
  def fileText(seed: Long, l: Layout, f: FileId): String = {
    val epoch = f.epochSec(l)
    val bad = malformedRows(seed, l, f)
    val poison = if (f.aborted) poisonRow(seed, l, f) else -1
    val sb = new java.lang.StringBuilder(l.rowsPerFile * 110)
    sb.append("#id,").append(epoch).append(".000|3600|-3600,").append(Header).append('\n')
    (0 until l.rowsPerFile).foreach { r =>
      val composite = s"$epoch.${pad(r % 1000, 3)}|3600" + (if (bad(r)) "" else "|-3600")
      if (r < l.stations) {
        val (bikes, docks) = station(seed, f, r)
        sb.append(stationId(r)).append(',').append(composite).append(',')
          .append(stationName(r)).append(',').append(micro(stationLat(r))).append(',')
          .append(micro(stationLon(r))).append(',')
          .append(if (r == poison) "n/a" else bikes.toString).append(',')
          .append(docks - bikes).append(',').append(r % 97 != 0).append(",false,")
          .append(r % 50 == 0).append(',').append(docks).append(',')
          .append(r % 3 == 0).append(',').append(bikes % 4).append('\n')
      } else {
        val j = r - l.stations
        sb.append(bikeId(j)).append(',').append(composite).append(",BIKE ")
          .append(60000 + j).append(',').append(micro(bikeLat(seed, f, j))).append(',')
          .append(micro(bikeLon(seed, f, j))).append(",1,0,true,false,false,1,true,0\n")
      }
    }
    sb.toString
  }

  def writeFile(dir: Path, seed: Long, l: Layout, f: FileId): Path = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(f.name(l)), fileText(seed, l, f).getBytes(StandardCharsets.UTF_8))
  }

  /** The processed-table rows the parser keeps from a file, in
    * `graft.wrm.Schemas.processedColumns` order.
    */
  def processedRows(seed: Long, l: Layout, f: FileId, sourcePrefix: String): Iterator[Row] =
    if (f.aborted) Iterator.empty
    else {
      val epoch = f.epochSec(l)
      val bad = malformedRows(seed, l, f)
      val key = s"$sourcePrefix/dt=${f.date}/${f.name(l)}"
      val fileTs = new java.sql.Timestamp(epoch * 1000L)
      (0 until l.rowsPerFile).iterator.filterNot(bad).map { r =>
        val ts = new java.sql.Timestamp(epoch * 1000L + r % 1000)
        if (r < l.stations) {
          val (bikes, docks) = station(seed, f, r)
          Row(stationId(r), stationName(r), ts, 3600L, -3600L,
            stationLat(r) / 1e6, stationLon(r) / 1e6, bikes.toLong, (docks - bikes).toLong,
            r % 97 != 0, false, r % 50 == 0, docks.toLong, r % 3 == 0, (bikes % 4).toLong,
            key, fileTs)
        } else {
          val j = r - l.stations
          Row(bikeId(j), s"BIKE ${60000 + j}", ts, 3600L, -3600L,
            bikeLat(seed, f, j) / 1e6, bikeLon(seed, f, j) / 1e6, 1L, 0L,
            true, false, false, 1L, true, 0L, key, fileTs)
        }
      }
    }

  /** Expected outcomes for `files`. Latest per station follows the view's
    * order (date, then file time, descending) over rows the parser keeps.
    */
  def manifest(workload: String, seed: Long, l: Layout, files: Seq[FileId],
               withStations: Boolean): Manifest = {
    var stationRows, bikeRows = 0L
    val latest = scala.collection.mutable.Map.empty[String, Latest]
    val bikesMax = scala.collection.mutable.Map.empty[String, Long]
    val entries = files.map { f =>
      val bad = malformedRows(seed, l, f)
      val kept = if (f.aborted) 0 else l.rowsPerFile - bad.size
      if (!f.aborted) {
        stationRows += (0 until l.stations).count(r => !bad(r))
        bikeRows += (l.stations until l.rowsPerFile).count(r => !bad(r))
      }
      FileEntry(f.date, f.name(l), kept, f.aborted)
    }
    if (withStations) {
      val chrono = files.filterNot(_.aborted).sortBy(f => (f.date, f.index))
      chrono.foreach { f =>
        val bad = malformedRows(seed, l, f)
        (0 until l.stations).filterNot(bad).foreach { r =>
          val (bikes, docks) = station(seed, f, r)
          latest(stationId(r)) = Latest(bikes, docks - bikes)
          bikesMax(stationId(r)) = math.max(bikes.toLong, bikesMax.getOrElse(stationId(r), -1L))
        }
      }
    }
    Manifest(workload, seed, entries, latest.toMap, bikesMax.toMap, stationRows, bikeRows)
  }
}
