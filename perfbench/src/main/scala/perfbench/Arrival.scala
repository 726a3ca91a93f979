package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.functions.HousePrice._
import graft.operators.Pipelines
import graft.queries.Registry
import graft.schema.Schemas.Raw
import graft.streaming.FileArrival

/** `arrival`: raw LVR files land by atomic rename at a fixed rate below
  * saturation (as GCS finalize does) into the directory one long-running
  * `FileArrival.readRaw` stream watches; the stream applies the building
  * transform and appends through `FileArrival.toWarehouse`. Open loop:
  * each file is timed from when it was due to when its micro-batch
  * committed, and the generator's own lateness is recorded. After the
  * window, a backlog lands at once on a fresh stream to measure its
  * saturation rate. */
final class Arrival extends Workload {
  private val filesPerSecond = 8.0
  private val rowsPerFile = 200
  private val tracedFiles = 24
  /** `FileArrival.readRaw`'s cap on files per micro-batch */
  private val maxFilesPerTrigger = 64
  private val drainFiles = 5 * maxFilesPerTrigger

  /** Progress of every micro-batch that read data: (start ms, commit ms,
    * duration parts, input rows). */
  final case class Batch(id: Long, startMs: Long, endMs: Long,
      durations: Map[String, Long], inputRows: Long)

  final class Progress extends StreamingQueryListener {
    val batches = mutable.Map.empty[(java.util.UUID, Long), Batch]
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = Instant.parse(p.timestamp).toEpochMilli
        batches((p.id, p.batchId)) = Batch(p.batchId, start,
          start + d.getOrElse("triggerExecution", 0L), d, p.numInputRows)
      }
    }
  }

  /** One file to land: its name, bytes and truth. */
  private var files: Seq[Gen.LvrFile] = Nil
  private var next = 0
  private var warm: Seq[Gen.LvrFile] = Nil
  private var backlog: Seq[Gen.LvrFile] = Nil
  private var progress: Progress = _
  private var stream: Stream = _

  /** A running stream with its own landing, output and checkpoint dirs. */
  final class Stream(ctx: Ctx, name: String) {
    val land: Path = ctx.dir(s"$name-land")
    val out: Path = ctx.work.resolve(s"$name-out")
    val ckpt: Path = ctx.work.resolve(s"$name-ckpt")
    val staged: Path = ctx.dir(s"$name-stage")
    val landed = mutable.ArrayBuffer.empty[(Gen.LvrFile, Long, Long)] // file, due, actual
    val query: StreamingQuery = {
      val s = Registry.contractSession(ctx.spark)
      val raw = FileArrival.readRaw(s, land.toString,
        FileArrival.rawSchema(graft.fixtures.RawCsvFixture.header))
      FileArrival.toWarehouse(building(raw), out.toString, ckpt.toString,
        availableNow = false, interval = "0 seconds").start()
    }

    /** Land `f` by atomic rename; returns when it is in place. */
    def landFile(f: Gen.LvrFile, dueMs: Long): Unit = {
      val tmp = staged.resolve(f.name)
      Files.write(tmp, f.bytes)
      val wait = dueMs - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      Files.move(tmp, land.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
      landed += ((f, dueMs, System.currentTimeMillis()))
    }

    /** Input file → micro-batch id, from the file source's own log. */
    def batchOf: Map[String, Long] = {
      val log = ckpt.resolve("sources").resolve("0")
      val entries = Files.list(log).iterator().asScala.toSeq
        .filter(p => !p.getFileName.toString.startsWith("."))
        .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      val pathRe = "\"path\":\"([^\"]+)\"".r
      val batchRe = "\"batchId\":(\\d+)".r
      entries.flatMap { line =>
        for (p <- pathRe.findFirstMatchIn(line); b <- batchRe.findFirstMatchIn(line))
          yield p.group(1).split('/').last -> b.group(1).toLong
      }.toMap
    }

    def stop(): Unit = query.stop()
  }

  /** The building transform of `Pipelines.building` over a stream: the
    * batch pipeline reads by glob, so the stream composes the same chain
    * from the HousePrice kernels. */
  private def building(raw: DataFrame): DataFrame =
    raw.filter(col(Raw.transactionSign).startsWith("房地"))
      .select(
        cityFromFilename(col("source_file")).as("city"),
        col(Raw.townshipDist).as("township_dist"),
        col(Raw.transactionSign).as("transaction_sign"),
        col(Raw.position).as("position"),
        col(Raw.buildingAreaM2).cast("double").as("building_area_m2"),
        col(Raw.completionDate).as("completion_date"),
        rocToDate(col(Raw.transactionDate)).as("transaction_date"),
        col(Raw.totalPrice).cast("long").as("total_price"),
        col(Raw.unitPriceM2).cast("double").as("unit_price_m2"))
      .filter(col("transaction_date").isNotNull)
      .withColumn("unit_price_m2",
        repairUnitPrice(col("unit_price_m2"), col("total_price"), col("building_area_m2")))
      .select(
        col("city"), col("township_dist"), col("transaction_sign"), col("position"),
        m2ToPing(col("building_area_m2")).as("building_area_ping"),
        col("completion_date"), col("transaction_date"), col("total_price"),
        priceM2ToPing(col("unit_price_m2")).as("unit_price_ping"))

  def generate(ctx: Ctx): Unit = {
    val n = math.ceil(ctx.seconds * filesPerSecond).toInt + 2 * tracedFiles
    val names = for (s <- Gen.seasons(n / 26 + 1); l <- Gen.cityLetters) yield (s, l)
    files = names.take(n).map { case (s, l) => Gen.lvrFile(ctx.seed, s, l, rowsPerFile) }
    if (!ctx.trace) backlog = Gen.seasons(drainFiles / 26 + 1)
      .flatMap(s => Gen.cityLetters.map(l => (s, l))).take(drainFiles)
      .map { case (s, l) => Gen.lvrFile(ctx.seed + 2, s, l, rowsPerFile) }
    warm = (0 until Main.setupReps).map(i => Gen.lvrFile(ctx.seed + 1, "099S1", Gen.cityLetters(i), 20))
    ctx.inputs ++= Seq("files_per_s" -> filesPerSecond, "rows_per_file" -> rowsPerFile,
      "backlog_files" -> backlog.size,
      "file_bytes_mean" -> files.map(_.bytes.length).sum / files.size)
  }

  /** Set-up: start the stream and wait for its first file to commit. */
  def setUp(ctx: Ctx, rep: Int): Unit = {
    progress = new Progress
    // the stream runs on the engine's contract session, whose query
    // manager is its own
    Registry.contractSession(ctx.spark).streams.addListener(progress)
    stream = start(ctx, s"stream-$rep", warm(rep - 1))
    if (rep < Main.setupReps) stream.stop()
  }

  private def start(ctx: Ctx, name: String, first: Gen.LvrFile): Stream = {
    val st = new Stream(ctx, name)
    st.landFile(first, System.currentTimeMillis())
    st.query.processAllAvailable()
    st
  }

  final case class Outcome(fresh: Seq[Double], late: Seq[Double], waits: Seq[Double],
      batches: Seq[Batch])

  /** Land `n` files at the fixed rate (or until `seconds` when n < 0), wait
    * for the stream to commit them, and time each file. */
  private def pass(ctx: Ctx, st: Stream, n: Int, seconds: Double): Outcome = {
    val t0 = System.currentTimeMillis() + 100
    val gap = 1000.0 / filesPerSecond
    var i = 0
    while ((n >= 0 && i < n) || (n < 0 && i * gap < seconds * 1000)) {
      st.landFile(files(next), t0 + (i * gap).toLong)
      next += 1; i += 1
    }
    val of = committed(st)
    val timed = st.landed.toSeq.drop(1).map { case (f, due, actual) =>
      val b = of(f.name)
      ((b.endMs - due) / 1000.0, (actual - due) / 1000.0,
        (b.endMs - due - (b.endMs - b.startMs)) / 1000.0, b, f)
    }
    val batches = timed.map(_._4).distinct.sortBy(_.id)
    Outcome(timed.map(_._1), timed.map(_._2), timed.map(_._3), batches)
  }

  /** The micro-batch that committed each landed file, once the stream has
    * committed them all. */
  private def committed(st: Stream): Map[String, Batch] = {
    st.query.processAllAvailable()
    val batchOf = st.batchOf
    // progress events trail the commit they report
    def reported = progress.synchronized {
      progress.batches.collect { case ((id, b), v) if id == st.query.id => b -> v }.toMap
    }
    val deadline = System.currentTimeMillis() + 10000
    while (!st.landed.forall(f => batchOf.get(f._1.name).exists(reported.contains)) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    val byBatch = reported
    st.landed.map(f => f._1.name -> byBatch(batchOf(f._1.name))).toMap
  }

  /** The stream's capacity: a backlog of files lands at once on a fresh
    * stream, and files and raw rows are counted per second of the
    * micro-batches that carried a full `maxFilesPerTrigger` of them. This
    * is the stream's saturation rate: an offered rate above it grows the
    * backlog without bound. Below it the stream batches whatever has
    * landed, so its busy time follows the offered rate and cannot show its
    * capacity. The first batch may start before the backlog has landed,
    * so only full batches count. Returns (files/s, rows/s). */
  private def drain(ctx: Ctx): (Double, Double) = {
    val st = start(ctx, "drain", warm(0))
    backlog.foreach(f => Files.write(st.staged.resolve(f.name), f.bytes))
    Common.settle()
    backlog.foreach { f =>
      Files.move(st.staged.resolve(f.name), st.land.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
      st.landed += ((f, 0L, 0L))
    }
    val of = committed(st)
    st.stop()
    check(ctx, st, "arrival drain")
    val full = backlog.groupBy(f => of(f.name)).filter(_._2.size == maxFilesPerTrigger)
    val s = full.keys.map(b => b.endMs - b.startMs).sum / 1000.0
    (full.values.map(_.size).sum / s, full.values.flatten.map(_.truth.rawRows).sum / s)
  }

  /** The stream's output against the truth of every file it was given. */
  private def check(ctx: Ctx, st: Stream, what: String = "arrival output"): Unit = {
    val truth = new Gen.LvrTruth
    st.landed.foreach(f => truth.add(f._1.truth))
    ctx.attempt(what) {
      val out = ctx.spark.read.parquet(st.out.toString)
      ctx.check(what,
        truth.mismatchesA5(Common.a5(Pipelines.avgPriceByYear(out, byCity = true).collect())))
    }
  }

  /** Stream output bytes (data files and the sink's log) over the same
    * rows written once. */
  private def storageAmp(ctx: Ctx, st: Stream): Double = {
    val once = ctx.work.resolve(s"${st.out.getFileName}-once")
    ctx.spark.read.parquet(st.out.toString).coalesce(1).write.parquet(once.toString)
    Common.bytesUnder(st.out).toDouble / Common.bytesUnder(once)
  }

  def measure(ctx: Ctx): Unit = {
    Common.settle()
    val o = pass(ctx, stream, -1, ctx.seconds)
    check(ctx, stream)
    // every landed file is one operation
    (1 to o.fresh.size).foreach(_ => ctx.outcome(true, ""))
    val (tail, pct, n) = Stats.tail(o.fresh)
    ctx.e("p50_s", Stats.median(o.fresh), "s")
    ctx.e("tail_s", tail, "s")
    val amp = storageAmp(ctx, stream)
    stream.stop()
    val (filesPerS, rowsPerS) = drain(ctx)
    ctx.e("rows_per_s", rowsPerS, "1/s")
    ctx.e("ops_per_s", filesPerS, "1/s")
    ctx.named ++= Seq("freshness_p50_s" -> Stats.median(o.fresh), "freshness_tail_s" -> tail,
      "freshness_tail_pct" -> pct, "files" -> n, "batches" -> o.batches.size,
      "gen_late_max_s" -> o.late.max, "storage_amp" -> amp,
      "freshness_samples_s" -> o.fresh)
  }

  def traced(ctx: Ctx): Unit = {
    stream.stop()
    var outcome: Outcome = null
    var passNo = 0
    val (_, l, gc) = Common.tracedPasses(ctx)(() => {
      stream.stop()
      passNo += 1
      stream = start(ctx, s"traced-$passNo", warm(passNo % warm.size))
    }) { tr =>
      outcome = tr.op("stream.window")(pass(ctx, stream, tracedFiles, 0))._1
      check(ctx, stream)
      (1 to outcome.fresh.size).foreach(_ => ctx.outcome(true, ""))
      outcome.fresh
    }
    val o = outcome
    val batchSpans = o.batches.zipWithIndex.map { case (b, i) =>
      Span(i, "stream.batch", -1, i, 0L, (b.endMs - b.startMs) * 1000000L, b.startMs, b.endMs) }
    Common.engineMetrics(ctx, l, batchSpans, gc)
    def dur(keys: String*) = o.batches.map(b => keys.map(b.durations.getOrElse(_, 0L)).sum).sum / 1000.0
    ctx.l("stream.batches", o.batches.size.toDouble, "count")
    ctx.l("stream.files_per_batch", o.fresh.size.toDouble / o.batches.size, "count")
    ctx.l("stream.latest_offset_s", dur("latestOffset"), "s")
    ctx.l("stream.query_planning_s", dur("queryPlanning"), "s")
    ctx.l("stream.add_batch_s", dur("addBatch"), "s")
    ctx.l("stream.wal_commit_s", dur("walCommit", "commitOffsets"), "s")
    ctx.l("stream.trigger_s", dur("triggerExecution"), "s")
    ctx.l("stream.wait_s", Stats.median(o.waits), "s")
    ctx.l("stream.files_written", Common.filesUnder(stream.out, ".parquet").toDouble, "count")
    ctx.l("bench.gen_late_s", o.late.max, "s")
    ctx.l("pipelines.rows_in", o.batches.map(_.inputRows).sum.toDouble, "count")
    ctx.l("pipelines.rows_out", ctx.spark.read.parquet(stream.out.toString).count().toDouble, "count")
    ctx.l("storage_amp", storageAmp(ctx, stream), "ratio")
  }

  override def close(ctx: Ctx): Unit =
    Registry.contractSession(ctx.spark).streams.active.foreach(_.stop())
}
