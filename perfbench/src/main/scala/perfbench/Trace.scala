package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** File-system call counts of the traced run, by kind. */
object FsCounters {
  val Kinds: Seq[String] = Seq("list", "glob", "exists", "status", "open",
    "manifest_open", "input_open", "create", "rename", "delete", "mkdirs")
  private val counts: Map[String, AtomicLong] =
    Kinds.map(_ -> new AtomicLong()).toMap

  /** Opens under this directory are reads of the workload's inputs. */
  @volatile var inputDir: String = null

  def inc(kind: String): Unit = counts(kind).incrementAndGet()
  def snapshot(): Map[String, Long] = counts.map { case (k, v) => k -> v.get }

  /** Opens under a manifest or checkpoint directory are manifest reads
    * (the table format's own counter is a bounded cache, not a count).
    */
  def isManifestPath(p: Path): Boolean = {
    var q = p.getParent
    var hit = false
    while (q != null && !hit) {
      val n = q.getName
      hit = n.startsWith("manifest-") || n.startsWith("_ckpt-")
      q = q.getParent
    }
    hit
  }
}

/** The local file system with every call from outside it counted.
  * Calls the file system makes on itself (a glob listing directories,
  * `exists` asking for a status) are not counted again.
  */
class CountingFs extends LocalFileSystem {
  private def counted[T](kind: String)(body: => T): T =
    if (CountingFs.depth.get > 0) body
    else {
      FsCounters.inc(kind)
      CountingFs.depth.set(1)
      try body finally CountingFs.depth.set(0)
    }

  override def listStatus(f: Path): Array[FileStatus] =
    counted("list")(super.listStatus(f))
  override def listLocatedStatus(f: Path) =
    counted("list")(super.listLocatedStatus(f))
  override def listStatusIterator(f: Path) =
    counted("list")(super.listStatusIterator(f))
  override def globStatus(p: Path): Array[FileStatus] =
    counted("glob")(super.globStatus(p))
  override def globStatus(p: Path, filter: PathFilter): Array[FileStatus] =
    counted("glob")(super.globStatus(p, filter))
  @deprecated("mirrors FileSystem.exists", "hadoop 3")
  override def exists(f: Path): Boolean = counted("exists")(super.exists(f))
  override def getFileStatus(f: Path): FileStatus =
    counted("status")(super.getFileStatus(f))

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (CountingFs.depth.get == 0) {
      if (FsCounters.isManifestPath(f)) FsCounters.inc("manifest_open")
      val in = FsCounters.inputDir
      if (in != null && f.toUri.getPath.startsWith(in)) FsCounters.inc("input_open")
    }
    counted("open")(super.open(f, bufferSize))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create")(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create")(super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    counted("rename")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted("delete")(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = counted("mkdirs")(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted("mkdirs")(super.mkdirs(f, permission))
}

object CountingFs {
  private val depth = ThreadLocal.withInitial[Int](() => 0)
}

final case class JobRec(id: Int, start: Long, end: Long)

/** Spark job and task totals of the traced run. Read only after the
  * listener bus has drained (see [[Run.drain]]).
  */
final class JobListener extends SparkListener {
  private val starts = mutable.Map.empty[Int, Long]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  var tasks = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(starts(e.jobId) = e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += JobRec(e.jobId, starts.remove(e.jobId).getOrElse(e.time), e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      executorRunMs += m.executorRunTime
      executorCpuNs += m.executorCpuTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
    }
  }
}

/** Streaming progress of the traced run: one map of phase durations per
  * completed micro-batch.
  */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[Map[String, Long]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      progress += e.progress.durationMs.entrySet().toArray
        .map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
        .map(x => x.getKey -> x.getValue.longValue).toMap
    }
}

/** A span around one layer call: epoch-ms bounds, the span that caused
  * it, and the op it belongs to.
  */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: Int)

/** Spans of the traced run, kept in memory and written at exit. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  def add(name: String, start: Long, end: Long, parent: Int, op: Int): Int = {
    val id = spans.length + 1
    spans += Span(id, name, start, end, parent, op)
    id
  }

  /** A span's self time: its length minus what its children cover. */
  def selfMs(s: Span): Long = (s.end - s.start) -
    Stats.coveredWithin(spans.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq,
      s.start, s.end)
}
