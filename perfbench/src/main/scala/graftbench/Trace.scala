package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{Success, TaskEndReason}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call at a layer boundary. `parent` is the id of the span that
  * was open when this one started (0 at the top), `op` the operation id
  * the span belongs to. Times are System.nanoTime relative to the run.
  */
final case class Span(id: Int, name: String, parent: Int, op: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, it runs the body and records nothing,
  * so the untraced run pays one branch per boundary.
  */
final class Tracer(t0: Long) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var op: String = ""

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val s = System.nanoTime() - t0
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, op, s, System.nanoTime() - t0)
      }
    }

  /** Self time per span name: its duration minus the part covered by its
    * direct children (children of one span never overlap: one client).
    */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum
    }
  }
}

/** What the listener keeps per job: submission and end (epoch ms), its
  * stages, and the summed task metrics of those stages.
  */
final class JobRec(val id: Int, val submitMs: Long, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final class StageRec {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var taskFailures = 0L
}

/** One finished micro-batch of a streaming query, from its progress event. */
final case class BatchRec(startMs: Long, triggerMs: Long, addBatchMs: Long,
    rows: Long, rowsPerS: Double)

/** Spark listener for the traced run: jobs, stages, task metrics and task
  * failures. With `full = false` it keeps only micro-batch progress, which
  * the untraced run needs for its batch latency.
  */
final class Recorder extends SparkListener {
  @volatile var full = false
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.Map.empty[Int, StageRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  private val byId = mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (full) synchronized {
    val j = new JobRec(e.jobId, e.time, e.stageIds)
    jobs += j
    byId(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (full) synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (full) synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageRec)
    s.tasks += 1
    val failed: TaskEndReason => Boolean = { case Success => false; case _ => true }
    if (failed(e.reason)) s.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.recordsRead += m.inputMetrics.recordsRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent if p.progress.numInputRows > 0 =>
      val pr = p.progress
      def d(k: String): Long = Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      synchronized {
        batches += BatchRec(java.time.Instant.parse(pr.timestamp).toEpochMilli,
          d("triggerExecution"), d("addBatch"), pr.numInputRows, pr.processedRowsPerSecond)
      }
    case _ =>
  }
}

/** Local file system that counts the metadata and write calls made under
  * a benchmark state directory (a path containing `/state/`). Installed as
  * `fs.file.impl` for the traced run only.
  */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  private def hit(p: Path, c: AtomicLong): Unit =
    if (p != null && p.toUri.getPath.contains("/state/")) c.incrementAndGet()

  override def listStatus(p: Path): Array[FileStatus] = {
    hit(p, CountingLocalFs.lists); super.listStatus(p)
  }

  override def create(p: Path, perm: FsPermission, overwrite: Boolean, buf: Int,
      repl: Short, block: Long, prog: Progressable) = {
    hit(p, CountingLocalFs.writes); super.create(p, perm, overwrite, buf, repl, block, prog)
  }

  override def mkdirs(p: Path, perm: FsPermission): Boolean = {
    hit(p, CountingLocalFs.writes); super.mkdirs(p, perm)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    hit(dst, CountingLocalFs.writes); super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    hit(p, CountingLocalFs.writes); super.delete(p, recursive)
  }
}

object CountingLocalFs {
  val lists = new AtomicLong
  val writes = new AtomicLong
}
