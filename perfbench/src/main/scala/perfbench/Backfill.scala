package perfbench

import java.nio.file.Path

import org.apache.spark.sql.Row

import graft.operators.Pipelines
import graft.sources.{CsvIngest, Warehouse}

/** `backfill`: a historic drop of raw LVR CSVs loaded by both reference
  * pipelines through `Warehouse.overwrite`, then the reference's A5 query
  * (average unit price by city and year) repeatedly over the result.
  * Closed loop, one client: load, then `queriesPerLoad` queries, repeat.
  * The traced run also probes the curation operators ([[CurationProbe]]). */
final class Backfill extends Workload {
  // sizes: 2 seasons × 26 cities × 480 rows ≈ 25k raw rows per load
  private val seasons = 2
  private val rowsPerFile = 480
  private val queriesPerLoad = 15
  private val tracedLoads = 1
  private val nominalRoundS = 7.5
  private val curation = new CurationProbe

  private var truth: Gen.LvrTruth = _
  private var drop: Path = _
  private var wh: Path = _

  private def glob(dir: Path) = dir.toString + "/*_a.csv"

  def generate(ctx: Ctx): Unit = {
    drop = ctx.dir("drop")
    truth = Gen.lvrDrop(drop, ctx.seed, seasons, rowsPerFile)
    wh = ctx.dir("wh")
    ctx.inputs ++= Seq("files" -> seasons * 26, "raw_rows" -> truth.rawRows,
      "building_rows" -> truth.buildingRows, "land_rows" -> truth.landRows,
      "drop_bytes" -> Common.bytesUnder(drop), "queries_per_load" -> queriesPerLoad)
    if (ctx.trace) curation.generate(ctx)
  }

  /** Set-up: open the drop (the CSV reader resolves its header). */
  def setUp(ctx: Ctx, rep: Int): Unit = {
    Pipelines.building(ctx.spark, glob(drop))
    Pipelines.land(ctx.spark, glob(drop))
  }

  private def load(ctx: Ctx, t: Tracer): Double =
    t.op("load") {
      val b = t.span("Pipelines.building")(Pipelines.building(ctx.spark, glob(drop)))
      t.span("Warehouse.overwrite")(Warehouse.overwrite(b, wh.resolve("building").toString))
      val l = t.span("Pipelines.land")(Pipelines.land(ctx.spark, glob(drop)))
      t.span("Warehouse.overwrite")(Warehouse.overwrite(l, wh.resolve("land").toString))
    }._2

  private def query(ctx: Ctx, t: Tracer): (Array[Row], Double) =
    t.op("query") {
      val txns = t.span("Warehouse.read")(Warehouse.read(ctx.spark, wh.resolve("building").toString))
      t.span("Pipelines.avgPriceByYear")(Pipelines.avgPriceByYear(txns, byCity = true).collect())
    }

  private def loadOk(ctx: Ctx): Boolean =
    Warehouse.read(ctx.spark, wh.resolve("land").toString).count() == truth.landRows

  /** One load and its queries; returns (load s, query s…). */
  private def round(ctx: Ctx, t: Tracer): (Double, Seq[Double]) = {
    Common.settle()
    var ls = Double.NaN
    ctx.attempt("load") { ls = load(ctx, t); loadOk(ctx) }
    val qs = (1 to queriesPerLoad).flatMap { _ =>
      var q: Option[Double] = None
      ctx.attempt("query") {
        val (rows, s) = query(ctx, t); q = Some(s)
        ctx.check("query", truth.mismatchesA5(Common.a5(rows)))
      }
      q
    }
    (ls, qs)
  }

  /** One untimed load and query fill the code caches the timed rounds
    * reuse. */
  private def warmUp(ctx: Ctx): (Double, Double) =
    (load(ctx, new Tracer(false)), query(ctx, new Tracer(false))._2)

  def measure(ctx: Ctx): Unit = {
    val (warmLoad, warmQuery) = warmUp(ctx)
    ctx.named ++= Seq("warmup_load_s" -> warmLoad, "warmup_query_s" -> warmQuery)
    val rounds = (1 to Common.units(ctx.seconds, nominalRoundS, 2))
      .map(_ => round(ctx, new Tracer(false)))
    val loads = rounds.map(_._1).filter(!_.isNaN)
    val queries = rounds.flatMap(_._2)
    val (tail, pct, n) = Stats.tail(queries)
    val rowsPerS = Stats.median(loads.map(truth.rawRows / _))
    ctx.e("p50_s", Stats.median(queries), "s")
    ctx.e("tail_s", tail, "s")
    ctx.e("rows_per_s", rowsPerS, "1/s")
    ctx.e("ops_per_s", (loads.size + queries.size) / (loads.sum + queries.sum), "1/s")
    ctx.named ++= Seq("rows_per_s" -> rowsPerS, "query_p50_s" -> Stats.median(queries),
      "query_tail_s" -> tail, "query_tail_pct" -> pct, "queries" -> n,
      "loads" -> loads.size, "load_p50_s" -> Stats.median(loads),
      "load_samples_s" -> loads, "query_samples_s" -> queries)
  }

  def traced(ctx: Ctx): Unit = {
    warmUp(ctx)
    val (t, l, gc) = Common.tracedPasses(ctx)(() => ()) { tr =>
      (1 to tracedLoads).flatMap { _ => val (ls, qs) = round(ctx, tr); ls +: qs }
    }
    Common.engineMetrics(ctx, l, t.topLevel, gc)
    val loads = EngineAgg.of(l, t.named("Warehouse.overwrite"))
    val queries = EngineAgg.of(l, t.named("Pipelines.avgPriceByYear"))
    // the fused load stage cannot be split from outside: probe the CSV
    // read alone and the transforms without the write, untimed elsewhere
    val probe = new Tracer(true)
    (1 to tracedLoads).foreach { _ =>
      probe.span("csv")(Common.materialize(CsvIngest.readRaw(ctx.spark, glob(drop))))
      probe.span("transform") {
        Common.materialize(Pipelines.building(ctx.spark, glob(drop)))
        Common.materialize(Pipelines.land(ctx.spark, glob(drop)))
      }
    }
    val csv = probe.named("csv").map(_.seconds).sum
    val transform = probe.named("transform").map(_.seconds).sum
    ctx.l("csv.read_s", csv, "s")
    ctx.l("pipelines.transform_s", math.max(0.0, transform - 2 * csv), "s")
    ctx.l("pipelines.rows_in", loads.rowsScanned.toDouble, "count")
    ctx.l("pipelines.rows_out", loads.rowsWritten.toDouble, "count")
    ctx.l("warehouse.write_s", t.named("Warehouse.overwrite").map(_.seconds).sum, "s")
    ctx.l("warehouse.files_written", loads.filesWritten.toDouble, "count")
    ctx.l("warehouse.bytes_written", loads.bytesWritten.toDouble, "bytes")
    ctx.l("warehouse.query_s", t.named("query").map(_.seconds).sum, "s")
    ctx.l("warehouse.query_files_read", queries.filesScanned.toDouble, "count")
    // bytes of the loaded building rows written once, unpartitioned
    val once = ctx.work.resolve("wh-once")
    Warehouse.read(ctx.spark, wh.resolve("building").toString).coalesce(1)
      .write.mode("overwrite").parquet(once.toString)
    ctx.l("storage_amp", Common.bytesUnder(wh.resolve("building")).toDouble /
      Common.bytesUnder(once), "ratio")
    curation.run(ctx)
  }
}
