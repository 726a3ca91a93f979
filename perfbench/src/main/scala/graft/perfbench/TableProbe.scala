package graft.perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.sources.CommittedTable

/** Read-only sample of a committed table's live layout, taken between
  * timed operations: the current generation and the data files its
  * manifest keeps live. */
object TableProbe {
  final case class State(gen: Long, liveFiles: Long, deltaFiles: Long, dvFiles: Long)

  def state(spark: SparkSession, path: String): State = {
    val m = CommittedTable.manifestAt(spark, path)
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(dir: String): Long = {
      val p = if (new Path(dir).isAbsolute) new Path(dir) else new Path(table, dir)
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).count(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    }
    val parts = m.segments.keys.toSeq
    State(m.gen,
      parts.map(p => files(m.segments(p))).sum,
      parts.flatMap(p => CommittedTable.liveDeltas(m, p)).map(d => files(d.dir)).sum,
      parts.flatMap(p => CommittedTable.liveDv(m, p)).map(d => files(d.dir)).sum)
  }
}
