package perfbench

import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import graft.streaming.WrmStreamPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

/** `wrm_stream`: an open-loop lander renames seeded snapshot files into
  * `raw/dt=*` on a fixed schedule while `WrmStreamPipeline` runs. A file's
  * freshness runs from its scheduled landing time to the end of the batch
  * that wrote it; the batch is found through the rows' `processed_at`, which
  * falls inside that batch's trigger execution.
  */
final class StreamWorkload(a: Main.Args, warn: WarnLineCounter) extends Workload(a, warn) {
  import StreamWorkload._

  private val stage = a.work.resolve("stage")
  private val raw = a.work.resolve("raw")
  private val out = a.work.resolve("enhanced")

  private val windowFiles: Seq[Gen.FileId] = {
    val n = a.seconds * FilesPerSecond
    val bad = Gen.pick(a.seed, 7L, n, math.max(1, n / 40))
    (0 until n).map(k => Gen.FileId(Dates(k % Dates.size), k / Dates.size, bad(k)))
  }
  private val warmFiles: Seq[Gen.FileId] =
    (0 until WarmFirst + WarmRounds * FilesPerSecond).map(Gen.FileId(WarmDate, _, aborted = false))

  protected def generateInputs(): Gen.Manifest = {
    (warmFiles ++ windowFiles).foreach(f => Gen.writeFile(stage, a.seed, Shape, f))
    Gen.manifest(a.workload, a.seed, Shape, windowFiles, withStations = false)
  }

  private val progress = ArrayBuffer.empty[StreamingQueryProgress]
  private var query: StreamingQuery = _

  private def land(f: Gen.FileId): Unit = {
    val dir = raw.resolve(s"dt=${f.date}")
    Files.createDirectories(dir)
    Files.move(stage.resolve(f.name(Shape)), dir.resolve(f.name(Shape)), StandardCopyOption.ATOMIC_MOVE)
  }

  private def dataBatches: Seq[StreamingQueryProgress] = progress.synchronized {
    progress.filter(p => p.numInputRows > 0 && p.id == query.id).toSeq
  }

  /** Starts the query on `WarmFirst` landed files, waits for its first
    * batch, then lands and commits `WarmRounds` rounds of one second's files.
    */
  protected def setUp(m: Gen.Manifest): Unit = {
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e.progress; () }
    })
    Dates.foreach(d => Files.createDirectories(raw.resolve(s"dt=$d")))
    warmFiles.take(WarmFirst).foreach(land)
    query = WrmStreamPipeline.start(spark, WrmStreamPipeline.Config(
      raw.toString, out.toString, a.work.resolve("checkpoint").toString,
      Trigger.ProcessingTime(TriggerMs)))
    val deadline = System.nanoTime() + 120000000000L
    warmUp(while (dataBatches.isEmpty) {
      if (System.nanoTime() > deadline || !query.isActive)
        throw new IllegalStateException("stream produced no first batch", query.exception.orNull)
      Thread.sleep(10)
    })
    warmFiles.drop(WarmFirst).grouped(FilesPerSecond).foreach { round =>
      warmUp { round.foreach(land); query.processAllAvailable() }
    }
  }

  override protected def tearDown(): Unit = {
    if (query != null && query.isActive) query.stop()
    super.tearDown()
  }

  /** Land `files` open-loop, one per interval however far the stream lags,
    * then wait until the stream has committed them all. Returns each file's
    * scheduled and actual landing time, in epoch ms.
    */
  private def drive(files: Seq[Gen.FileId]): (Seq[Long], Seq[Long]) = {
    val intervalMs = 1000L / FilesPerSecond
    val t0 = System.currentTimeMillis() + 200
    val scheduled = files.indices.map(k => t0 + k * intervalMs)
    val landed = new Array[Long](files.size)
    val lander = new Thread(() => files.indices.foreach { k =>
      val wait = scheduled(k) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      land(files(k))
      landed(k) = System.currentTimeMillis()
    }, "perfbench-lander")
    lander.start()
    lander.join()
    query.processAllAvailable()
    (scheduled, landed.toSeq)
  }

  protected def measure(m: Gen.Manifest, deadlineNs: Long): Window = {
    val firstBatch = dataBatches.map(_.batchId).max
    val jobs0 = counters()("streamJobs")
    val (scheduledMs, landedMs) = drive(windowFiles)
    val jobs1 = counters()("streamJobs")

    // Spark's own progress record of every batch, kept as written.
    write(a.reports.resolve(s"${a.workload}-${a.seed}-trace${if (a.trace) 1 else 0}-progress.jsonl"),
      progress.synchronized(progress.map(_.json).mkString("", "\n", "\n")))

    val batches = dataBatches.filter(_.batchId > firstBatch)
    def startMs(p: StreamingQueryProgress) = Instant.parse(p.timestamp).toEpochMilli
    def dur(p: StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    def endMs(p: StreamingQueryProgress) = startMs(p) + dur(p, "triggerExecution")
    batches.foreach { p =>
      val b = tracer.add("streaming.batch", startMs(p) * 1000000L, endMs(p) * 1000000L, -1,
        p.batchId.toInt)
      var at = startMs(p)
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .foreach { k =>
          tracer.add(s"streaming.$k", at * 1000000L, (at + dur(p, k)) * 1000000L, b, p.batchId.toInt)
          at += dur(p, k)
        }
    }

    // processed_at and row count of every file the stream wrote.
    val written = spark.read.parquet(out.toString)
      .groupBy(regexp_extract(col("s3_source_key"), "[^/]+$", 0).as("f"))
      .agg(count(lit(1)), collect_set(col("processed_at")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getSeq[java.sql.Timestamp](2))).toMap
    val fresh = ArrayBuffer.empty[Double]
    val batchOf = ArrayBuffer.empty[(Int, StreamingQueryProgress)]
    m.files.zipWithIndex.foreach { case (f, k) =>
      op(s"stream file ${f.name}") {
        val (rows, stamps) = written.getOrElse(f.name, (0L, Nil))
        if (f.aborted) { if (rows != 0) wrong(s"${f.name}: aborted file wrote $rows rows") }
        else if (rows != f.rows || stamps.size != 1)
          wrong(s"${f.name}: $rows rows in ${stamps.size} batches, expected ${f.rows} rows once")
        else {
          val pa = stamps.head.getTime
          batches.find(p => startMs(p) <= pa && pa <= endMs(p)) match {
            case Some(p) => fresh += (endMs(p) - scheduledMs(k)).toDouble; batchOf += k -> p
            case None => wrong(s"${f.name}: no batch holds processed_at ${stamps.head}")
          }
        }
      }
    }

    val ends = batchOf.map { case (k, p) => k -> endMs(p) }.toMap
    val lag = batches.map { p =>
      val e = endMs(p)
      landedMs.indices.count(k =>
        !m.files(k).aborted && landedMs(k) <= e && ends.get(k).forall(_ > e))
    }
    layer("streaming.batch_p50_ms") = Stats.median(batches.map(dur(_, "triggerExecution").toDouble))
    Seq("addBatch", "latestOffset", "queryPlanning", "walCommit").foreach { k =>
      layer(s"streaming.${k}_p50_ms") = Stats.median(batches.map(dur(_, k).toDouble))
    }
    layer("streaming.jobs_per_batch") = (jobs1 - jobs0).toDouble / math.max(batches.size, 1)
    layer("streaming.files_per_batch_mean") =
      batchOf.size.toDouble / math.max(batchOf.map(_._2.batchId).distinct.size, 1)
    layer("streaming.lag_files_max") = if (lag.isEmpty) 0.0 else lag.max.toDouble
    layer("gen.late_ms_max") = landedMs.indices.map(k => (landedMs(k) - scheduledMs(k)).toDouble).max
    Window(fresh.toSeq, m.files.size)
  }

  protected def verify(m: Gen.Manifest): Unit = ()
}

object StreamWorkload {
  val Shape: Gen.Layout = Gen.Layout(stations = 1000, bikes = 200, malformed = 3,
    startSec = 0, stepSec = 10)
  val Dates: Seq[String] = Seq("2024-03-06", "2024-03-07")
  val WarmDate = "2024-03-05"
  /** Files landed before the set-up starts the query; its first batch takes
    * them all. `WarmRounds` rounds of `FilesPerSecond` files follow, each
    * committed before the next lands: the set-up's untimed warm-up.
    */
  val WarmFirst = 6
  val WarmRounds = 2
  val FilesPerSecond = 2
  val TriggerMs = 100L
}
