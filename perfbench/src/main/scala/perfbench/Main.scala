package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result record. */
object Json {
  /** Already-encoded JSON. */
  final case class Raw(json: String)
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Raw(j) => j
    case (a, b) => arr(Seq(a, b))
    case Some(x) => value(x)
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => arr(xs.toSeq)
    case x => "\"" + esc(x.toString) + "\""
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
  def arr(xs: Seq[Any]): String = xs.map(value).mkString("[", ",", "]")
}

/** Latency summaries. "Tail" is the highest percentile with at least ten
  * samples beyond it (the median when there are fewer than 21 samples,
  * which leave no such percentile above it). */
object Stats {
  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** (value, percentile, samples) */
  def tail(xs: collection.Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    val k = n - 10 // 1-based rank with ten samples beyond it
    if (k <= n / 2) (median(xs), 50.0, n)
    else (xs.sorted.apply(k - 1), 100.0 * k / n, n)
  }
}

/** Everything a workload run shares: session, inputs, counters and the
  * metrics it reports. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: Path, val cores: Int) {
  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** end-to-end metrics, shared names (BENCHMARK.json) */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** per-layer metrics (traced runs) */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** the workload's own end-to-end names, with unit and sample details */
  val named = mutable.LinkedHashMap.empty[String, Any]
  val inputs = mutable.LinkedHashMap.empty[String, Any]
  /** checks the Python side runs in DuckDB after the JVM exits */
  val duckChecks = mutable.ArrayBuffer.empty[Map[String, Any]]

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Count one operation; record a failure when `ok` is false. */
  def outcome(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }

  /** Run `body` as one operation, counting an exception as a failure. */
  def attempt(what: String)(body: => Boolean): Unit =
    try outcome(body, what)
    catch { case e: Exception => outcome(false, s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** True when `problems` is empty; otherwise keeps the first few. */
  def check(what: String, problems: Seq[String]): Boolean = {
    problems.take(5).foreach(p => if (failures.size < 20) failures += s"$what: $p")
    problems.isEmpty
  }

  def e(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)
  def l(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
}

trait Workload {
  /** Seeded inputs; untimed. May use the first session. */
  def generate(ctx: Ctx): Unit
  /** The workload's own set-up step after session start (timed). */
  def setUp(ctx: Ctx, rep: Int): Unit
  /** Untraced measurement: fills the end-to-end metrics. */
  def measure(ctx: Ctx): Unit
  /** Traced measurement: fills the per-layer metrics. */
  def traced(ctx: Ctx): Unit
  /** Stop anything still running. */
  def close(ctx: Ctx): Unit = ()
}

/** Memory the program holds at the end of the measured run: heap still
  * in use after full collections, plus the peak of the non-heap pools
  * (code cache, metaspace). The heap is fixed and pre-touched, so process
  * RSS would show its size rather than its use; and heap in use at any
  * other moment mostly shows when the collector last ran. */
object MemHeld {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  /** (heap, non-heap) MB. Spark frees broadcasts and shuffle state once a
    * collection has found them unreachable, on its cleaner thread: the
    * second collection, a second later, counts what that freed. */
  def mb: (Double, Double) = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val nonHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    (heap / (1024.0 * 1024.0), nonHeap / (1024.0 * 1024.0))
  }
}

object Main {
  /** Set-ups per run; the first pays the JVM's cold start and is left out
    * of `setup_s`. */
  val setupReps = 5

  /** The session confs graft.Bench sets, with local[cores]. */
  def confs(cores: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.catalog.graft" -> "graft.sql.GraftCatalog",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("spark-warehouse").toString)

  def startSession(ctx: Ctx): SparkSession = {
    val b = SparkSession.builder().appName(s"perfbench-${ctx.workload}")
    confs(ctx.cores, ctx.work).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(ctx: Ctx): Unit = {
    ctx.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Exits the JVM even when a library thread outlives `run`. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val ctx = new Ctx(workload, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", Paths.get(a("work")).toAbsolutePath,
      Runtime.getRuntime.availableProcessors())
    val w: Workload = workload match {
      case "backfill" => new Backfill
      case "arrival" => new Arrival
      case "lakehouse" => new Lakehouse
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val phases = mutable.LinkedHashMap("jvm_to_main_s" -> (System.currentTimeMillis() - jvmStart) / 1000.0)
    val tMain = System.nanoTime()
    var genS = 0.0
    val setups = (1 to setupReps).map { rep =>
      if (rep > 1) stopSession(ctx)
      val t0 = System.nanoTime()
      ctx.spark = startSession(ctx)
      val started = System.nanoTime()
      if (rep == 1) w.generate(ctx)
      val t1 = System.nanoTime()
      genS += (t1 - started) / 1e9
      w.setUp(ctx, rep)
      ((started - t0) + (System.nanoTime() - t1)) / 1e9
    }
    phases ++= Seq("generate_s" -> genS, "setup_s" -> (Common.elapsed(tMain) - genS))
    val tRun = System.nanoTime()
    var held = (Double.NaN, Double.NaN)
    try {
      if (ctx.trace) w.traced(ctx)
      else { w.measure(ctx); held = MemHeld.mb }
    } finally w.close(ctx)
    phases += "run_s" -> Common.elapsed(tRun)
    if (!ctx.trace) {
      ctx.e("setup_s", Stats.median(setups.drop(1)), "s")
      ctx.e("mem_held_mb", held._1 + held._2, "MB")
      ctx.named ++= Seq("heap_held_mb" -> held._1, "non_heap_peak_mb" -> held._2)
    }
    val out = Json.obj(
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> ctx.trace,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures,
      "metrics" -> (if (ctx.trace) ctx.layer else ctx.e2e).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "named" -> ctx.named,
      "setup_reps_s" -> setups,
      "phases_s" -> phases,
      "inputs" -> ctx.inputs,
      "record" -> Map(
        "confs" -> confs(ctx.cores, Paths.get("<work>")).toMap,
        "cores" -> ctx.cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "java" -> System.getProperty("java.version"),
        "spark" -> ctx.spark.version),
      "duck_checks" -> ctx.duckChecks)
    Files.write(ctx.work.resolve("result.json"), out.getBytes(StandardCharsets.UTF_8))
    ctx.spark.stop()
  }
}
