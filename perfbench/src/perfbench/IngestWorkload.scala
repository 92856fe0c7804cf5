package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.wrm.{Enhance, RawParser, Sinks, Validation}
import org.apache.spark.sql.functions._

/** `wrm_ingest`: batch raw → processed → enhanced → validated → Parquet, one
  * date per operation, dates taken in turn until the window closes.
  */
final class IngestWorkload(a: Main.Args, warn: WarnLineCounter) extends Workload(a, warn) {
  import IngestWorkload._

  private val raw = a.work.resolve("raw")
  private val out = a.work.resolve("enhanced")
  private val warmRaw = a.work.resolve("warm_raw")
  private val warmOut = a.work.resolve("warm_enhanced")

  protected def generateInputs(): Gen.Manifest = {
    val files = Gen.batchFiles(a.seed, Dates, FilesPerDate, AbortedPerDate)
    files.foreach(f => Gen.writeFile(raw.resolve(s"dt=${f.date}"), a.seed, Shape, f))
    Gen.batchFiles(a.seed, Seq(WarmDate), WarmFiles, 1)
      .foreach(f => Gen.writeFile(warmRaw.resolve(s"dt=${f.date}"), a.seed, Shape, f))
    Gen.manifest(a.workload, a.seed, Shape, files, withStations = true)
  }

  /** The ingest path for one date, one span per layer call. */
  private def ingest(date: String, rawRoot: Path, outRoot: Path, opId: Int): Unit = {
    val processed = tracer.span("wrm.RawParser.processPartition", opId)(
      RawParser.processPartition(spark, rawRoot.resolve(s"dt=$date").toString))
    val enhanced = tracer.span("wrm.Enhance.enhance", opId)(Enhance.enhance(processed, date))
    tracer.span("wrm.Validation.validate", opId)(
      Validation.validate(enhanced, Validation.enhancedChecks))
    tracer.span("wrm.Sinks.overwriteDate", opId)(Sinks.overwriteDate(enhanced, outRoot.toString))
  }

  protected def setUp(m: Gen.Manifest): Unit =
    (1 to WarmOps).foreach(i => warmUp(ingest(WarmDate, warmRaw, warmOut, -i)))

  protected def measure(m: Gen.Manifest, deadlineNs: Long): Window = {
    val latency, rowsOut = ArrayBuffer.empty[Double]
    var scanned, onDisk = 0.0
    var k = 0
    while (k < Dates.size || System.nanoTime() < deadlineNs) {
      val date = Dates(k % Dates.size)
      val c0 = counters()
      val t0 = System.nanoTime()
      val done = op(s"ingest $date")(tracer.span(s"op.${a.workload}", k)(ingest(date, raw, out, k)))
      val ms = (System.nanoTime() - t0) / 1e6
      val c1 = counters()
      if (done.isDefined) {
        val written = c1("recordsWritten") - c0("recordsWritten")
        rowsOut += written.toDouble
        scanned += c1("input") - c0("input")
        onDisk += dirBytes(raw.resolve(s"dt=$date"))
        if (written != m.rowsOn(date)) wrong(s"ingest $date wrote $written rows, expected ${m.rowsOn(date)}")
        else latency += ms
      }
      k += 1
    }
    layer("wrm.raw_scan_ratio") = scanned / onDisk
    layer("wrm.rows_out") = Stats.median(rowsOut.toSeq)
    Window(latency.toSeq, k)
  }

  protected def verify(m: Gen.Manifest): Unit = {
    val written = spark.read.parquet(out.toString)
    val perFile = written
      .groupBy(regexp_extract(col("s3_source_key"), "[^/]+$", 0))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    layer("wrm.files_aborted") = (m.files.size - perFile.size).toDouble / Dates.size
    check("enhanced rows per file")(m.files.flatMap { f =>
      val got = perFile.getOrElse(f.name, 0L)
      if (got != f.rows) Some(s"${f.name}: $got rows, expected ${f.rows}") else None
    } ++ (perFile.keySet -- m.files.map(_.name)).map(n => s"unexpected file $n"))
    check("latest bikes and spaces per station")(latestProblems(m, written))
  }
}

object IngestWorkload {
  val Shape: Gen.Layout = Gen.Layout(stations = 1000, bikes = 200, malformed = 3,
    startSec = 5 * 3600, stepSec = 60)
  /** Four dates of 50 files of 1,200 rows: 240k rows, 24 MB of raw text. */
  val Dates: Seq[String] = (4 to 7).map(d => f"2024-03-$d%02d")
  val FilesPerDate = 50
  val AbortedPerDate = 1
  /** The set-up's untimed warm-up ingests one more date of the same size,
    * `WarmOps` times.
    */
  val WarmDate = "2024-03-03"
  val WarmFiles = FilesPerDate
  val WarmOps = 4

  def dirBytes(dir: Path): Double =
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.map(Files.size).sum.toDouble)

  /** Latest (bikes, spaces) per station of an enhanced table, against the
    * manifest, ordered like the latest-per-station view.
    */
  def latestProblems(m: Gen.Manifest, enhanced: org.apache.spark.sql.DataFrame): Seq[String] = {
    val got = enhanced.filter(col("record_type") === "station")
      .groupBy(col("station_id"))
      .agg(max_by(struct(col("bikes"), col("spaces")),
        struct(col("date"), col("file_timestamp"), col("timestamp"))).as("v"))
      .collect().map(r => r.getString(0) -> Gen.Latest(
        r.getStruct(1).getLong(0), r.getStruct(1).getLong(1))).toMap
    if (got.size != m.latest.size) Seq(s"${got.size} stations, expected ${m.latest.size}")
    else m.latest.toSeq.flatMap { case (id, want) =>
      if (!got.get(id).contains(want)) Some(s"station $id: ${got.get(id)}, expected $want") else None
    }
  }
}
