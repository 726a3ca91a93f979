package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.perfbench.SqlBridge

/** One timed call into a layer. `parent` is -1 for an operation's
  * top-level span; spans of one operation share `op`. The wall-clock
  * bounds are read from the clock listener events are stamped with, at
  * both ends: a bound derived from the nanosecond duration can end a
  * millisecond early and miss the SQL execution that ends a span. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around every call the benchmark makes into the engine,
  * kept in memory and written out when the run ends. Disabled, it only
  * times top-level operations. Single client thread. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var opId = -1

  /** A top-level operation: returns its result and wall seconds. */
  def op[T](name: String)(body: => T): (T, Double) = {
    opId += 1
    val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
    val id = spans.size
    if (enabled) { spans += Span(id, name, -1, opId, t0, t0, m0, m0); stack = id :: stack }
    var t1 = t0
    val r = try body finally {
      t1 = System.nanoTime()
      if (enabled) {
        spans(id) = spans(id).copy(endNs = t1, endMs = System.currentTimeMillis())
        stack = stack.tail
      }
    }
    (r, (t1 - t0) / 1e9)
  }

  /** A call into one layer inside the current operation. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      val id = spans.size
      spans += Span(id, name, stack.headOption.getOrElse(-1), opId, t0, t0, m0, m0)
      stack = id :: stack
      try body finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime(), endMs = System.currentTimeMillis())
        stack = stack.tail
      }
    }

  /** Self seconds per span name: duration minus the part its children
    * cover. */
  def selfTimes: Map[String, Double] = {
    val childSum = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum
    }
  }

  def topLevel: Seq[Span] = spans.filter(_.parent < 0).toSeq
  def named(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix)).toSeq

  def json: String = Json.arr(spans.toSeq.map(s => Json.obj(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
    "start_ms" -> s.startMs, "dur_s" -> s.seconds)))
}

/** Spark engine counters from the public listener bus, attributed to
  * spans by wall-clock interval. */
final class EngineListener extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long)
  final case class Task(launch: Long, cpuNs: Long, shuffleBytes: Long)
  final case class Query(end: Long, st: SqlBridge.QueryStats)

  val jobs = ArrayBuffer.empty[Job]
  val tasks = ArrayBuffer.empty[Task]
  val queries = ArrayBuffer.empty[Query]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.launchTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten)
  }
  /** SQL executions whose stats could not be read */
  val statsErrors = ArrayBuffer.empty[String]

  override def onOtherEvent(e: SparkListenerEvent): Unit =
    SqlBridge.executionEnd(e).foreach { case (qe, end) =>
      try { val s = SqlBridge.stats(qe); synchronized { queries += Query(end, s) } }
      catch { case x: Exception => synchronized { statsErrors += x.toString } }
    }
}

/** Engine counters over a set of wall intervals. */
final case class EngineAgg(wallS: Double, jobs: Long, tasks: Long,
    planS: Double, inJobS: Double, cpuS: Double, shuffleBytes: Long,
    filesScanned: Long, rowsScanned: Long, filesWritten: Long,
    bytesWritten: Long, rowsWritten: Long) {
  def driverS: Double = math.max(0.0, wallS - inJobS)
}

object EngineAgg {
  private val planPhases = Set("analysis", "optimization", "planning")

  /** Everything the listener saw inside `spans` (their [startMs, endMs]). */
  def of(l: EngineListener, spans: Seq[Span]): EngineAgg = l.synchronized {
    val iv = spans.map(s => (s.startMs, s.endMs))
    def in(t: Long) = iv.exists { case (a, b) => t >= a && t <= b }
    val js = l.jobs.filter(j => in(j.start))
    // in-job time: union of job intervals, clipped to the spans
    val clipped = for ((a, b) <- iv; j <- js if j.end >= a && j.start <= b)
      yield (math.max(a, j.start), math.min(b, j.end))
    val inJob = clipped.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((acc, hi), (s, e)) =>
        if (e <= hi) (acc, hi)
        else (acc + e - math.max(s, hi), e)
    }._1
    val ts = l.tasks.filter(t => in(t.launch))
    val qs = l.queries.filter(q => in(q.end))
    val planMs = l.queries.flatMap(_.st.phasesMs.collect {
      case (k, (s, e)) if planPhases(k) && in(s) => e - s }).sum
    EngineAgg(spans.map(_.seconds).sum, js.size, ts.size, planMs / 1000.0,
      inJob / 1000.0, ts.map(_.cpuNs).sum / 1e9, ts.map(_.shuffleBytes).sum,
      qs.map(_.st.filesScanned).sum, qs.map(_.st.rowsScanned).sum,
      qs.map(_.st.filesWritten).sum, qs.map(_.st.bytesWritten).sum,
      qs.map(_.st.rowsWritten).sum)
  }
}

/** JVM-wide GC time, read from the management beans. */
object Gc {
  def seconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
  }
}
