package perfbench

import java.nio.file.Path

import scala.collection.immutable.HashMap
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.perfbench.TableProbe
import graft.sources.CommittedTable

/** `lakehouse`: one client over a committed table born from an
  * orders-shaped table (key, version, partition, bloom and zone-map
  * roles). Closed loop: every commit (copy-on-write and merge-on-read
  * merge/update/delete, deleteKeys, and a periodic `CALL graft.optimize`)
  * is followed by one read (readKeys, readRange, an SQL aggregate, an SQL
  * `VERSION AS OF`), each checked against a per-key model of the
  * operation log. Verbs and reads run in fixed cycles so every seed
  * measures the same mix; the seed picks keys, ranges and values. */
final class Lakehouse extends Workload {
  private val baseRows = 30000
  private val upsertRows = 2000
  private val retain = 6
  private def tracedCommits = dmlVerbs.size + 1
  private val nominalCycleS = 7.5

  /** One cycle of commits, in a fixed order: the copy-on-write verbs
    * rewrite whole partitions (and so drop merge-on-read state), then the
    * merge-on-read verbs stack deletion vectors and delta segments for
    * the closing optimize to materialize. */
  val dmlVerbs = Seq("merge_cow", "update_cow", "delete_cow", "delete_keys",
    "merge_mor", "update_mor", "delete_mor")
  val reads = Seq("read_keys", "read_range", "sql_agg", "sql_asof")

  type Model = HashMap[Long, Gen.Order]

  private var source: Path = _
  private var wh: String = _
  private var births = 0
  // run state
  private var r: Random = _
  private var model: Model = HashMap.empty
  private var nextKey = 0L
  private val snapshots = mutable.LinkedHashMap.empty[Long, Model]
  private var verbCycle: Seq[String] = Nil
  private var readCycle: Seq[String] = Nil

  private val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "version")

  def generate(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    source = ctx.work.resolve("orders.parquet")
    Gen.orders(ctx.seed, baseRows)
      .map(o => (o.key, o.cust, o.status, o.price, o.version)).toDF(cols: _*)
      .coalesce(1).write.parquet(source.toString)
    ctx.inputs ++= Seq("base_rows" -> baseRows, "upsert_rows" -> upsertRows,
      "retain_generations" -> retain, "source_bytes" -> Common.bytesUnder(source))
  }

  /** Table birth from the source table, with every role declared. */
  private def birth(ctx: Ctx): Unit = {
    births += 1
    wh = ctx.work.resolve(s"table-$births").toString
    CommittedTable.write(ctx.spark.read.parquet(source.toString), wh, "o_orderstatus",
      retainGenerations = retain, statsCols = Seq("o_totalprice"),
      keyCol = Some("o_orderkey"), versionCol = Some("version"),
      bloomCols = Seq("o_orderkey"))
  }

  /** Fresh run state over a newly born table. */
  private def reset(ctx: Ctx): Unit = {
    r = new Random(ctx.seed * 7919L + 11)
    model = HashMap.from(Gen.orders(ctx.seed, baseRows).map(o => o.key -> o))
    nextKey = baseRows.toLong
    snapshots.clear()
    snapshots(TableProbe.state(ctx.spark, wh).gen) = model
    verbCycle = Nil; readCycle = Nil
  }

  def setUp(ctx: Ctx, rep: Int): Unit = birth(ctx)

  // ---- the operation log ------------------------------------------------

  /** Keys biased to the recent end of the key space. */
  private def recentKey(): Long = {
    val span = math.max(1L, nextKey / 10)
    if (r.nextInt(4) == 0) (r.nextDouble() * nextKey).toLong
    else nextKey - 1 - (r.nextDouble() * span).toLong
  }

  private def nextVerb(): String = {
    if (verbCycle.isEmpty) verbCycle = dmlVerbs :+ "optimize"
    val v = verbCycle.head; verbCycle = verbCycle.tail; v
  }

  private def nextRead(): String = {
    if (readCycle.isEmpty) readCycle = reads
    val v = readCycle.head; readCycle = readCycle.tail; v
  }

  private def toDf(ctx: Ctx, rows: Seq[Gen.Order]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    rows.map(o => (o.key, o.cust, o.status, o.price, o.version)).toDF(cols: _*)
  }

  /** One commit: (verb, the model after it, the engine call). */
  private def commit(ctx: Ctx): (String, Model, () => Unit) = {
    val spark = ctx.spark
    val verb = nextVerb()
    verb match {
      case "merge_cow" | "merge_mor" =>
        val existing = Seq.fill(upsertRows * 9 / 10)(recentKey()).distinct
          .flatMap(model.get).map(o => o.copy(price = o.price + 10.25, version = o.version + 1))
        val fresh = (0 until upsertRows / 10).map(i => Gen.orderRow(r, nextKey + i, 1L))
        nextKey += fresh.size
        val batch = existing ++ fresh
        val df = toDf(ctx, batch)
        val call = if (verb == "merge_cow") () =>
          CommittedTable.merge(spark, wh, df, "o_orderkey", "version", "o_orderstatus")
        else () => CommittedTable.mergeMor(spark, wh, df, "o_orderkey", "version", "o_orderstatus")
        (verb, model ++ batch.map(o => o.key -> o), call)
      case "update_cow" | "update_mor" =>
        val lo = recentKey(); val hi = lo + 300
        val pred = col("o_orderkey").between(lo, hi)
        val set = Map("o_totalprice" -> (col("o_totalprice") + 7.25),
          "version" -> (col("version") + 1))
        val after = model ++ model.view.filter { case (k, _) => k >= lo && k <= hi }
          .map { case (k, o) => k -> o.copy(price = o.price + 7.25, version = o.version + 1) }
        val call = if (verb == "update_cow") () =>
          CommittedTable.update(spark, wh, pred, set, "o_orderstatus", versionCol = Some("version"))
        else () =>
          CommittedTable.updateMor(spark, wh, pred, set, "o_orderstatus", versionCol = Some("version"))
        (verb, after, call)
      case "delete_cow" | "delete_mor" =>
        val lo = recentKey(); val hi = lo + 120
        val pred = col("o_orderkey").between(lo, hi)
        val after = model.filter { case (k, _) => k < lo || k > hi }
        val call = if (verb == "delete_cow") () =>
          CommittedTable.delete(spark, wh, pred, "o_orderstatus")
        else () => CommittedTable.deleteMor(spark, wh, pred, "o_orderstatus")
        (verb, after, call)
      case "delete_keys" =>
        val keys = Seq.fill(60)(recentKey()).distinct
        import spark.implicits._
        val df = keys.toDF("o_orderkey")
        (verb, model -- keys,
          () => CommittedTable.deleteKeys(spark, wh, df, "o_orderkey", "o_orderstatus"))
      case "optimize" =>
        (verb, model, () => {
          spark.sql(s"CALL graft.optimize(table => '$wh', max_files => 1)").collect(); ()
        })
    }
  }

  private def rowOrder(row: Row): Gen.Order =
    Gen.Order(row.getLong(0), row.getLong(1), row.getString(2), row.getDouble(3), row.getLong(4))

  private def dsum(xs: Iterable[Gen.Order]): BigDecimal =
    xs.map(o => BigDecimal(o.price).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum

  /** One read: (kind, rows returned, the engine call, its check). */
  private def read(ctx: Ctx): (String, () => Array[Row], Array[Row] => Boolean) = {
    val spark = ctx.spark
    import spark.implicits._
    nextRead() match {
      case "read_keys" =>
        val keys = (Seq.fill(40)(recentKey()) ++ Seq.fill(10)(nextKey + r.nextInt(1000))).distinct
        val df = keys.toDF("o_orderkey")
        ("read_keys",
          () => CommittedTable.readKeys(spark, wh, df, "o_orderkey").select(cols.map(col): _*).collect(),
          rows => rows.map(rowOrder).toSet == keys.flatMap(model.get).toSet)
      case "read_range" =>
        val lo = 900 + r.nextDouble() * 495000; val hi = lo + 2500
        ("read_range",
          () => CommittedTable.readRange(spark, wh, "o_totalprice", Some(lo), Some(hi))
            .select(cols.map(col): _*).collect(),
          rows => rows.map(rowOrder).toSet ==
            model.valuesIterator.filter(o => o.price >= lo && o.price <= hi).toSet)
      case "sql_agg" =>
        ("sql_agg",
          () => spark.sql(
            s"""SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(version) AS BIGINT) AS v,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS p
                FROM graft.`$wh` GROUP BY o_orderstatus""").collect(),
          rows => rows.map(x => (x.getString(0), (x.getLong(1), x.getLong(2),
              BigDecimal(x.getDecimal(3))))).toMap ==
            model.values.groupBy(_.status).map { case (s, os) =>
              s -> (os.size.toLong, os.map(_.version).sum, dsum(os)) })
      case "sql_asof" =>
        val gens = snapshots.keys.toSeq.takeRight(math.min(retain - 2, snapshots.size))
        val g = gens(r.nextInt(gens.size))
        val snap = snapshots(g)
        ("sql_asof",
          () => spark.sql(
            s"""SELECT COUNT(*), CAST(SUM(o_orderkey) AS BIGINT), CAST(SUM(version) AS BIGINT)
                FROM graft.`$wh` VERSION AS OF $g""").collect(),
          rows => rows.length == 1 && rows(0).getLong(0) == snap.size &&
            rows(0).getLong(1) == snap.keysIterator.sum &&
            rows(0).getLong(2) == snap.valuesIterator.map(_.version).sum)
    }
  }

  final case class Step(verb: String, commitS: Double, read: String, readS: Double,
      readRows: Long, upserted: Long, state: TableProbe.State)

  /** One commit then one read, both checked. */
  private def step(ctx: Ctx, t: Tracer): Option[Step] = {
    val (verb, after, call) = commit(ctx)
    var commitS = Double.NaN
    ctx.attempt(s"commit $verb") {
      commitS = t.op(s"ct.$verb")(t.span(s"CommittedTable.$verb")(call()))._2
      true
    }
    if (commitS.isNaN) return None
    model = after
    val st = TableProbe.state(ctx.spark, wh)
    snapshots(st.gen) = model
    while (snapshots.size > retain) snapshots.remove(snapshots.head._1)
    val (kind, run, check) = read(ctx)
    var readS = Double.NaN
    var n = 0L
    ctx.attempt(s"read $kind") {
      val (rows, s) = t.op(s"rd.$kind")(t.span(s"read.$kind")(run()))
      readS = s; n = rows.length
      check(rows)
    }
    val upserted = if (verb.startsWith("merge")) upsertRows.toLong else 0L
    Some(Step(verb, commitS, kind, readS, n, upserted, st))
  }

  /** The final table against the model, compared in DuckDB. */
  private def finalCheck(ctx: Ctx): Unit = {
    val actual = ctx.work.resolve("final-actual").toString
    val expected = ctx.work.resolve("final-expected").toString
    CommittedTable.read(ctx.spark, wh).select(cols.map(col): _*)
      .coalesce(1).write.parquet(actual)
    toDf(ctx, model.values.toSeq).coalesce(1).write.parquet(expected)
    ctx.duckChecks += Map("kind" -> "same_rows", "name" -> "lakehouse final table",
      "actual" -> s"$actual/*.parquet", "expected" -> s"$expected/*.parquet")
  }

  def measure(ctx: Ctx): Unit = {
    reset(ctx)
    val steps = mutable.ArrayBuffer.empty[Step]
    (0 until Common.units(ctx.seconds, nominalCycleS, 1) * (dmlVerbs.size + 1)).foreach { i =>
      if (i % (dmlVerbs.size + 1) == 0) Common.settle()
      step(ctx, new Tracer(false)).foreach(steps += _)
    }
    finalCheck(ctx)
    val commits = steps.map(_.commitS)
    val readsS = steps.map(_.readS).filter(!_.isNaN)
    val (tail, pct, n) = Stats.tail(commits)
    val (rtail, rpct, rn) = Stats.tail(readsS)
    val merges = steps.filter(_.upserted > 0)
    val rowsPerS = merges.map(_.upserted).sum / merges.map(_.commitS).sum
    ctx.e("p50_s", Stats.median(commits), "s")
    ctx.e("tail_s", tail, "s")
    ctx.e("rows_per_s", rowsPerS, "1/s")
    ctx.e("ops_per_s", (commits.size + readsS.size) / (commits.sum + readsS.sum), "1/s")
    ctx.named ++= Seq("commit_p50_s" -> Stats.median(commits), "commit_tail_s" -> tail,
      "commit_tail_pct" -> pct, "commits" -> n,
      "read_p50_s" -> Stats.median(readsS), "read_tail_s" -> rtail,
      "read_tail_pct" -> rpct, "reads" -> rn,
      "storage_amp" -> storageAmp(ctx), "upsert_rows_per_s" -> rowsPerS,
      "commit_samples_s" -> steps.map(s => s.verb -> s.commitS),
      "read_samples_s" -> steps.map(s => s.read -> s.readS))
    // the model is the benchmark's own memory, and its size depends on
    // the seed: drop it before `mem_held_mb` is read
    model = HashMap.empty; snapshots.clear()
  }

  /** Bytes on disk over the bytes of the same live rows written once. */
  private def storageAmp(ctx: Ctx): Double = {
    val once = ctx.work.resolve(s"once-$births")
    CommittedTable.read(ctx.spark, wh).coalesce(1).write.parquet(once.toString)
    Common.bytesUnder(java.nio.file.Paths.get(wh)).toDouble / Common.bytesUnder(once)
  }

  def traced(ctx: Ctx): Unit = {
    var steps = Seq.empty[Step]
    val (t, l, gc) = Common.tracedPasses(ctx)(() => { birth(ctx); reset(ctx) }) { tr =>
      steps = (1 to tracedCommits).flatMap(_ => step(ctx, tr))
      steps.flatMap(s => Seq(s.commitS, s.readS))
    }
    finalCheck(ctx)
    Common.engineMetrics(ctx, l, t.topLevel, gc)
    (dmlVerbs :+ "optimize").foreach { v =>
      val sp = t.spans.filter(_.name == s"ct.$v").toSeq
      val a = EngineAgg.of(l, sp)
      ctx.l(s"ct.$v.s", a.wallS, "s")
      ctx.l(s"ct.$v.jobs", a.jobs.toDouble, "count")
      ctx.l(s"ct.$v.plan_s", a.planS, "s")
      ctx.l(s"ct.$v.driver_s", a.driverS, "s")
      ctx.l(s"ct.$v.bytes_written", a.bytesWritten.toDouble, "bytes")
    }
    def mean(f: TableProbe.State => Long) = steps.map(s => f(s.state).toDouble).sum / steps.size
    ctx.l("ct.live_files", mean(_.liveFiles), "count")
    ctx.l("ct.delta_files", mean(_.deltaFiles), "count")
    ctx.l("ct.dv_files", mean(_.dvFiles), "count")
    ctx.l("ct.bytes_on_disk", Common.bytesUnder(java.nio.file.Paths.get(wh)).toDouble, "bytes")
    reads.foreach { k =>
      val sp = t.spans.filter(_.name == s"rd.$k").toSeq
      val a = EngineAgg.of(l, sp)
      val returned = steps.filter(_.read == k).map(_.readRows).sum
      ctx.l(s"rd.$k.s", a.wallS, "s")
      ctx.l(s"rd.$k.jobs", a.jobs.toDouble, "count")
      ctx.l(s"rd.$k.plan_s", a.planS, "s")
      ctx.l(s"rd.$k.files_scanned", a.filesScanned.toDouble, "count")
      ctx.l(s"rd.$k.rows_scanned_per_row", a.rowsScanned.toDouble / math.max(1L, returned), "ratio")
    }
    ctx.l("storage_amp", storageAmp(ctx), "ratio")
  }
}
