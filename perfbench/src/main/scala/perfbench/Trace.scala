package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's calls into the program's layers:
  * name, start, end and the enclosing span; spans of one op share its
  * index. Kept in memory and written out with the run's artifacts.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

final class Spans(var enabled: Boolean) {
  val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1

  def apply[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        done += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }
}

/** One Spark job as the listener saw it, tagged with the op that ran it
  * and the source file of its call site. */
final class JobRec(val id: Int, val op: Int, val site: String, val callSite: String,
    val startMs: Long, val stages: Int) {
  var endMs: Long = -1L
  var tasks, taskMs, cpuNs, schedDelayMs, shuffleWrite, shuffleRead, spill, input, output = 0L
}

/** Listener registered by the benchmark. Jobs are tagged through the
  * `perfbench.op` local property set on the client thread before each op.
  * A job's call site is its SQL execution's (query stages run on pool
  * threads whose own stacks name no caller), else its result stage's.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val execSite = mutable.HashMap.empty[Long, String]
  private val Frame = """\(([A-Za-z0-9_$]+)\.(?:scala|java):""".r.unanchored
  private val Short = """ at ([A-Za-z0-9_$]+)\.(?:scala|java):""".r.unanchored

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      // the long call site opens with Spark's own frames; the caller follows
      execSite(s.executionId) = s.details.linesIterator
        .find(l => !Seq("org.apache.spark.", "scala.", "java.").exists(l.startsWith)).getOrElse("")
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val op = prop(JobListener.OpKey).map(_.toInt).getOrElse(-1)
    val callSite = prop("spark.sql.execution.id").flatMap(id => execSite.get(id.toLong))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val site = callSite match {
      case Frame(f) => f
      case Short(f) => f
      case _ => "other"
    }
    val rec = new JobRec(e.jobId, op, site, callSite, e.time, e.stageInfos.size)
    jobs(e.jobId) = rec
    e.stageIds.foreach(stageJob(_) = rec)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    (stageJob.get(e.stageId), Option(e.taskMetrics)) match {
      case (Some(j), Some(m)) =>
        val info = e.taskInfo
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      case _ =>
    }
  }
  def snapshot: Seq[JobRec] = synchronized(jobs.values.toVector)
}

object JobListener {
  val OpKey = "perfbench.op"
}

/** File-system call counters, filled by [[CountingLocalFs]] while
  * `enabled` (the traced loop only). */
object FsCalls {
  val reads, writes, lists, status = new AtomicLong
  @volatile var enabled = false
  def count(c: AtomicLong): Unit = if (enabled) c.incrementAndGet()
  def now: Array[Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Array(reads.get, writes.get, lists.get, status.get,
      st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
  val names: Seq[String] = Seq("read_ops", "write_ops", "list_ops", "status_ops", "bytes_read", "bytes_written")
  def bytesWritten: Long = now(5)
}

/** The local file system with call counting, installed as `fs.file.impl`
  * in traced runs only; it counts nothing outside the traced loop, so the
  * untraced loop of a traced run pays only a flag test per call. Hadoop's
  * own statistics count bytes for the local file system but no operations. */
class CountingLocalFs extends LocalFileSystem(new CountingRawLocalFs)

class CountingRawLocalFs extends RawLocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsCalls.count(FsCalls.reads); super.open(f, bufferSize)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsCalls.count(FsCalls.writes); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsCalls.count(FsCalls.writes)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsCalls.count(FsCalls.writes); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    FsCalls.count(FsCalls.writes); super.delete(p, recursive)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    FsCalls.count(FsCalls.writes); super.mkdirs(p, permission)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    FsCalls.count(FsCalls.lists); super.listStatus(p)
  }
  override def getFileStatus(p: Path): FileStatus = {
    FsCalls.count(FsCalls.status); super.getFileStatus(p)
  }
}

/** JVM collector time and heap peak from the management beans. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

}

/** Readings of the whole box from the kernel's counters, taken around the
  * timed loop so a slow run can be told apart from a slow box: CPU time by
  * state (steal is time the hypervisor gave this box's CPUs to someone
  * else, iowait is idle time with disk I/O outstanding), whole-disk I/O,
  * and pressure stall time. Each reading is empty where the file is absent.
  */
object Box {
  final case class Reading(cpu: Array[Long], disk: Array[Long], stallUs: Map[String, Long], atNs: Long)

  private def lines(path: String): Seq[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().toVector finally src.close()
    } catch { case scala.util.control.NonFatal(_) => Nil }

  /** user nice system idle iowait irq softirq steal, in ticks. */
  private def cpu: Array[Long] =
    lines("/proc/stat").headOption.map(_.trim.split("\\s+").drop(1).take(8).map(_.toLong)).getOrElse(Array.empty)

  /** Reads, sectors read, writes, sectors written and milliseconds busy,
    * summed over whole disks (partitions and virtual devices left out). */
  private def disk: Array[Long] = {
    val disks = lines("/proc/diskstats").map(_.trim.split("\\s+")).filter { f =>
      f.length > 12 && !f(2).matches("(loop|ram|zram|dm-|md).*") && new java.io.File(s"/sys/block/${f(2)}").exists
    }
    if (disks.isEmpty) Array.empty else Seq(3, 5, 7, 9, 12).map(k => disks.map(_(k).toLong).sum).toArray
  }

  private def stall: Map[String, Long] = Seq("cpu", "io", "memory").flatMap { r =>
    lines(s"/proc/pressure/$r").find(_.startsWith("some")).flatMap(
      _.split(" ").find(_.startsWith("total=")).map(t => r -> t.drop(6).toLong))
  }.toMap

  def now(): Reading = Reading(cpu, disk, stall, System.nanoTime())

  /** What the box did between two readings, as shares and rates. */
  def between(a: Reading, b: Reading): Map[String, Double] = {
    val wallS = (b.atNs - a.atNs) / 1e9
    val cpuShares = if (a.cpu.length < 8 || b.cpu.length < 8) Map.empty[String, Double] else {
      val d = b.cpu.zip(a.cpu).map { case (x, y) => x - y }
      val all = math.max(1L, d.sum).toDouble
      Map("cpu_user_pct" -> 100 * (d(0) + d(1)) / all, "cpu_system_pct" -> 100 * (d(2) + d(5) + d(6)) / all,
        "cpu_idle_pct" -> 100 * d(3) / all, "cpu_iowait_pct" -> 100 * d(4) / all,
        "cpu_steal_pct" -> 100 * d(7) / all)
    }
    val diskRates = if (a.disk.isEmpty || b.disk.isEmpty) Map.empty[String, Double] else {
      val d = b.disk.zip(a.disk).map { case (x, y) => x - y }
      Map("disk_reads" -> d(0).toDouble, "disk_read_mb" -> d(1) / 2048.0, "disk_writes" -> d(2).toDouble,
        "disk_write_mb" -> d(3) / 2048.0, "disk_busy_pct" -> 100 * d(4) / 1000.0 / wallS)
    }
    val stalls = b.stallUs.collect { case (r, t) if a.stallUs.contains(r) =>
      s"psi_${r}_some_pct" -> 100 * (t - a.stallUs(r)) / 1e6 / wallS
    }
    cpuShares ++ diskRates ++ stalls
  }
}
