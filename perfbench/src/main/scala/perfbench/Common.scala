package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row}

object Common {
  /** Consume every row and column of `df` (a bare count() would let the
    * optimizer prune the projections under test). */
  def materialize(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition { (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
      while (it.hasNext) it.next()
    }

  /** A5 result rows as (city, year, average, count). */
  def a5(rows: Array[Row]): Seq[(String, Int, Option[Double], Long)] =
    rows.toSeq.map(r => (r.getString(0), r.getInt(1),
      Option(r.get(2)).map(_.asInstanceOf[Double]), r.getLong(3)))

  /** Whole units of work for a run of `seconds`, at `nominal` seconds a
    * unit: a fixed amount per run, so every run of a workload measures the
    * same operation mix however fast the program is. */
  def units(seconds: Double, nominal: Double, min: Int): Int =
    math.max(min, math.round(seconds / nominal).toInt)

  def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A full collection before a unit of timed work, so that every unit
    * starts from the same heap: otherwise garbage the previous units
    * promoted sets off concurrent marking inside some units and not
    * others, which made later rounds of a run up to 40% slower. */
  def settle(): Unit = System.gc()

  /** Bytes of every regular file under `dir`. */
  def bytesUnder(dir: Path): Long = {
    val s = java.nio.file.Files.walk(dir)
    try s.filter(p => java.nio.file.Files.isRegularFile(p))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }

  def filesUnder(dir: Path, suffix: String): Long = {
    val s = java.nio.file.Files.walk(dir)
    try s.filter(p => java.nio.file.Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(suffix)).count()
    finally s.close()
  }

  /** The Spark engine layer over the traced operations. */
  def engineMetrics(ctx: Ctx, l: EngineListener, spans: Seq[Span], gcS: Double): EngineAgg = {
    org.apache.spark.sql.perfbench.SqlBridge.drain(ctx.spark.sparkContext)
    val a = EngineAgg.of(l, spans)
    ctx.l("spark.jobs", a.jobs.toDouble, "count")
    ctx.l("spark.tasks", a.tasks.toDouble, "count")
    ctx.l("spark.plan_s", a.planS, "s")
    ctx.l("spark.in_job_s", a.inJobS, "s")
    ctx.l("spark.driver_s", a.driverS, "s")
    ctx.l("spark.task_cpu_s", a.cpuS, "s")
    ctx.l("spark.cpu_util", if (a.wallS > 0) a.cpuS / (a.wallS * ctx.cores) else 0.0, "ratio")
    ctx.l("spark.shuffle_bytes", a.shuffleBytes.toDouble, "bytes")
    ctx.l("jvm.gc_s", gcS, "s")
    a
  }

  /** Traced run skeleton: the same fixed operation sequence once untraced
    * and once traced, each from fresh state; `trace.overhead` is the
    * traced over the untraced sum of operation latencies. Returns the
    * traced pass's tracer and listener. */
  def tracedPasses(ctx: Ctx)(fresh: () => Unit)(pass: Tracer => Seq[Double])
      : (Tracer, EngineListener, Double) = {
    fresh()
    val plain = pass(new Tracer(false)).sum
    fresh()
    val tracer = new Tracer(true)
    val l = new EngineListener
    ctx.spark.sparkContext.addSparkListener(l)
    val gc0 = Gc.seconds
    val traced = pass(tracer).sum
    val gc = Gc.seconds - gc0
    ctx.l("trace.overhead", traced / plain, "ratio")
    org.apache.spark.sql.perfbench.SqlBridge.drain(ctx.spark.sparkContext)
    val w = java.nio.file.Files.newBufferedWriter(ctx.work.resolve("trace.json"))
    try w.write(Json.obj(
      "spans" -> Json.Raw(tracer.json),
      "self_s" -> tracer.selfTimes,
      "untraced_ops_s" -> plain, "traced_ops_s" -> traced,
      "listener_errors" -> l.statsErrors.take(20)))
    finally w.close()
    (tracer, l, gc)
  }
}
