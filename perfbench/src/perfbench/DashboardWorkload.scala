package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.wrm.{DailyStats, Density, Enhance, Schemas, Sinks, Summary, Views}
import org.apache.spark.sql.{Row, SparkSession}

/** `wrm_dashboard`: one closed-loop client loads dashboard pages over the
  * views of an enhanced tree. A page requests each of the reference's seven
  * read endpoints once, in a seeded order, and collects every result.
  */
final class DashboardWorkload(a: Main.Args, warn: WarnLineCounter) extends Workload(a, warn) {
  import DashboardWorkload._
  import IngestWorkload.{AbortedPerDate, Shape}

  private val tree = a.work.resolve("enhanced")

  private val files = Gen.batchFiles(a.seed, Dates, FilesPerDate, AbortedPerDate)

  protected def generateInputs(): Gen.Manifest =
    Gen.manifest(a.workload, a.seed, Shape, files, withStations = true)

  /** Writes the enhanced tree with the program's own `Enhance` and `Sinks`,
    * from the seeded rows the parser would keep, registers the views over it
    * and loads `WarmPages` pages.
    */
  protected def setUp(m: Gen.Manifest): Unit = {
    val seed = a.seed
    val processedAt = new java.sql.Timestamp(1709856000000L)
    Dates.foreach { d =>
      val rows = spark.sparkContext.parallelize(files.filter(_.date == d), a.cores)
        .flatMap(f => Gen.processedRows(seed, Shape, f, "raw"))
      val processed = spark.createDataFrame(rows, Schemas.processedSchema)
      Sinks.overwriteDate(Enhance.enhance(processed, d, Some(processedAt)), tree.toString)
    }
    Views.registerFromPath(spark, tree.toString)
    (1 to WarmPages).foreach(_ => warmUp(endpoints(m).foreach { case (_, call, _) => call(spark) }))
  }

  /** Each endpoint's call and its check against the manifest. */
  private def endpoints(m: Gen.Manifest): Seq[(String, SparkSession => Any, Any => Seq[String])] = {
    def latestRows(rows: Array[Row], what: String): Seq[String] = rows.toSeq.flatMap { r =>
      val id = r.getAs[String]("station_id")
      val got = Gen.Latest(r.getAs[Long]("bikes"), r.getAs[Long]("spaces"))
      if (!m.latest.get(id).contains(got)) Some(s"$what $id: $got, expected ${m.latest.get(id)}")
      else None
    }
    def count(what: String, got: Long, want: Long): Seq[String] =
      if (got != want) Seq(s"$what: $got, expected $want") else Nil
    val stations = m.latest.size.toLong
    val bikesNow = m.latest.values.map(_.bikes).sum
    Seq(
      ("wrm.Views.latestPerStation", s => s.table(Views.Latest).collect(), {
        case rows: Array[Row] => count("stations", rows.length, stations) ++ latestRows(rows, "station")
      }),
      ("wrm.Summary.stationSummary", s => Summary.stationSummary(s), {
        case r: Summary.StationSummary =>
          count("total records", r.totalRecords, m.totalRows) ++
            count("station records", r.recordTypeCounts.getOrElse("station", 0L), m.stationRows) ++
            count("bike records", r.recordTypeCounts.getOrElse("bike", 0L), m.bikeRows) ++
            count("top 10 rows", r.top10Recent.length, 10) ++ latestRows(r.top10Recent, "top10")
      }),
      ("wrm.Summary.top10Recent", s => Summary.top10Recent(s.table(Views.Base)).collect(), {
        case rows: Array[Row] => count("top 10 rows", rows.length, 10) ++ latestRows(rows, "top10")
      }),
      ("wrm.DailyStats.stationDailySummary",
        s => DailyStats.stationDailySummary(s.table(Views.Base)).collect(), {
        case rows: Array[Row] => count("stations", rows.length, stations) ++ rows.toSeq.flatMap { r =>
          val id = r.getAs[String]("station_id")
          val got = r.getAs[Long]("bikes_max")
          if (!m.bikesMax.get(id).contains(got)) Some(s"bikes_max $id: $got") else None
        }
      }),
      ("wrm.DailyStats.bikeMovementSummary",
        s => DailyStats.bikeMovementSummary(s.table(Views.Base)).collect(), {
        case rows: Array[Row] => count("bikes", rows.length, Shape.bikes)
      }),
      ("wrm.Density.analyze", s => {
        val r = Density.analyze(s.table(Views.Latest))
        (r, r.cells.collect())
      }, {
        case (r: Density.GridResult, cells: Array[Row]) =>
          count("total bikes", r.totalBikes, bikesNow) ++ count("stations", r.nStations, stations) ++
            count("top 10 cells", r.top10.length, math.min(10, cells.length)) ++
            count("cell bikes", cells.map(_.getAs[Long]("bike_count")).sum, bikesNow) ++
            count("cell stations", cells.map(_.getAs[Long]("station_count")).sum, stations)
      }),
      ("wrm.Enhance.perFileCounts", s => Enhance.perFileCounts(s.table(Views.Base)).collect(), {
        case rows: Array[Row] =>
          val want = m.goodFiles.map(f => f.name -> f.rows).toMap
          count("files", rows.length, want.size) ++ rows.toSeq.flatMap { r =>
            val name = r.getAs[String]("s3_source_key").split('/').last
            val got = r.getAs[Long]("n_records")
            if (!want.get(name).contains(got)) Some(s"$name: $got records") else None
          }
      }))
  }

  /** One operation is one page: every endpoint once, in a seeded order. */
  protected def measure(m: Gen.Manifest, deadlineNs: Long): Window = {
    val eps = endpoints(m)
    val pages = ArrayBuffer.empty[Double]
    val perEndpoint = eps.map(_._1 -> ArrayBuffer.empty[Double]).toMap
    var requests = 0
    var page = 0
    while (page == 0 || System.nanoTime() < deadlineNs) {
      val t0 = System.nanoTime()
      val ok = Gen.shuffle(a.seed, 1000L + page, eps.size).map { i =>
        val (name, call, expect) = eps(i)
        val r0 = System.nanoTime()
        val res = op(name)(tracer.span(s"op.${a.workload}", page)(tracer.span(name, page)(call(spark))))
        val ms = (System.nanoTime() - r0) / 1e6
        requests += 1
        res.exists { r =>
          val problems = expect(r)
          if (problems.nonEmpty) wrong(s"$name: ${problems.take(3).mkString("; ")}")
          else perEndpoint(name) += ms
          problems.isEmpty
        }
      }.forall(identity)
      if (ok) pages += (System.nanoTime() - t0) / 1e6
      page += 1
    }
    perEndpoint.foreach { case (n, xs) => layer(s"${n}_p50_ms") = Stats.median(xs.toSeq) }
    Window(pages.toSeq, requests)
  }

  protected def verify(m: Gen.Manifest): Unit = ()
}

object DashboardWorkload {
  /** Two dates of 20 files: 48k enhanced rows. */
  val Dates: Seq[String] = IngestWorkload.Dates.take(2)
  val FilesPerDate = 20
  /** Pages the set-up loads, untimed, before the window. */
  val WarmPages = 4
}
