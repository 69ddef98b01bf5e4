package graftbench

import java.util.concurrent.atomic.AtomicLongArray
import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Local filesystem that counts its public calls, installed through
  * `spark.hadoop.fs.file.impl`. Only the outermost call on a thread is
  * counted (`exists` calling `getFileStatus` counts once), split by the
  * thread that made it: the client, a Spark task, or a streaming query. */
class CountingFileSystem extends LocalFileSystem {
  import FsCounts._
  private def counted[T](kind: Int)(body: => T): T = {
    val d = depth.get
    if (d == 0) count(kind)
    depth.set(d + 1)
    try body finally depth.set(d)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(Open)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    counted(Create)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def listStatus(f: Path): Array[FileStatus] =
    counted(List)(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus =
    counted(Stat)(super.getFileStatus(f))
  override def exists(f: Path): Boolean = counted(Exists)(super.exists(f))
  override def rename(src: Path, dst: Path): Boolean =
    counted(Rename)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(Delete)(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted(Mkdirs)(super.mkdirs(f, permission))
}

object FsCounts {
  val Open = 0; val Create = 1; val List = 2; val Stat = 3; val Exists = 4
  val Rename = 5; val Delete = 6; val Mkdirs = 7
  val Kinds = Seq("open", "create", "list", "stat", "exists", "rename",
                  "delete", "mkdirs")
  val Origins = Seq("client", "task", "stream")
  private val counts = new AtomicLongArray(Origins.size * Kinds.size)
  private[graftbench] val depth = new ThreadLocal[Int] {
    override def initialValue(): Int = 0
  }
  private def origin(): Int = {
    val n = Thread.currentThread.getName
    if (n.startsWith("Executor task launch")) 1
    else if (n.startsWith("stream execution")) 2
    else 0
  }
  private[graftbench] def count(kind: Int): Unit =
    counts.incrementAndGet(origin() * Kinds.size + kind)
  def snapshot(): Array[Long] =
    Array.tabulate(counts.length)(i => counts.get(i))
  /** Counts between two snapshots as origin -> kind -> n. */
  def delta(a: Array[Long], b: Array[Long]): Map[String, Map[String, Long]] =
    Origins.zipWithIndex.map { case (o, oi) =>
      o -> Kinds.zipWithIndex.map { case (k, ki) =>
        val i = oi * Kinds.size + ki
        k -> (b(i) - a(i))
      }.toMap
    }.toMap
}

/** A span: one interval on one layer. Times are epoch milliseconds. */
final case class Span(layer: String, name: String, op: Int,
                      startMs: Double, endMs: Double)

/** Records spans and counts around every call the benchmark makes, plus
  * what Spark reports through its listeners: jobs (linked to ops through
  * the job group), stage and task metrics, Catalyst phase times and
  * streaming progress. Everything is kept in memory and written once at
  * the end of the run. Listeners are attached only while tracing is on. */
class Tracer(val spark: () => SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var currentOp: Int = -1
  @volatile var on = false

  final case class Job(id: Int, op: Int, group: String, startMs: Long,
                       var endMs: Long, stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, cpuS: Double, runS: Double,
                         gcS: Double, shuffleWriteB: Long,
                         shuffleReadB: Long, inputB: Long, inputRows: Long,
                         skew: Double)
  final case class Plan(op: Int, analysisS: Double, optimizationS: Double,
                        planningS: Double, startMs: Double, endMs: Double)
  final case class Epoch(op: Int, startMs: Double, durMs: Map[String, Long],
                         rows: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val plans = mutable.ArrayBuffer.empty[Plan]
  val epochs = mutable.ArrayBuffer.empty[Epoch]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      // streaming jobs carry the query's own group: place them by time
      val op = if (group.startsWith("op-")) group.drop(3).toInt
               else opAt(e.time.toDouble)
      jobs(e.jobId) = Job(e.jobId, op, group, e.time, e.time,
        e.stageIds.toSeq)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskInfo != null)
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        val ds = stageTasks.remove(si.stageId).map(_.sorted)
          .getOrElse(mutable.ArrayBuffer.empty[Long])
        val skew =
          if (ds.isEmpty) 1.0
          else ds.last.toDouble / math.max(1L, ds(ds.size / 2))
        if (m != null)
          stages += Stage(si.stageId, si.numTasks,
            m.executorCpuTime / 1e9, m.executorRunTime / 1e3,
            m.jvmGCTime / 1e3, m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead, m.inputMetrics.bytesRead,
            m.inputMetrics.recordsRead, skew)
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      val starts = ph.values.map(_.startTimeMs)
      val ends = ph.values.map(_.endTimeMs)
      if (starts.nonEmpty) {
        val s0 = starts.min.toDouble
        plans += Plan(opAt(s0), d("analysis"), d("optimization"),
          d("planning"), s0, ends.max.toDouble)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val dur = p.durationMs.entrySet.toArray
          .map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
          .map(x => x.getKey -> x.getValue.longValue).toMap
        epochs += Epoch(opAt(start), start, dur, p.numInputRows)
      }
  }

  /** The op whose span contains epoch-ms `t` (the client runs one op at a
    * time, so at most one does), else the op running now. */
  private def opAt(t: Double): Int = Tracer.this.synchronized {
    spans.reverseIterator.find(s => s.layer == "bench" && s.startMs <= t &&
      t <= s.endMs).map(_.op).getOrElse(currentOp)
  }

  def attach(): Unit = if (!on) {
    val s = spark()
    s.sparkContext.addSparkListener(jobListener)
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
    on = true
  }

  def detach(): Unit = if (on) {
    drain()
    val s = spark()
    s.sparkContext.removeSparkListener(jobListener)
    s.listenerManager.unregister(qeListener)
    s.streams.removeListener(streamListener)
    on = false
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark())

  def span[T](layer: String, name: String, op: Int)(body: => T): T = {
    val t0 = nowMs()
    try body
    finally if (on) synchronized { spans += Span(layer, name, op, t0, nowMs()) }
  }

  def nowMs(): Double = {
    // epoch ms at sub-ms resolution: the wall clock anchors nanoTime once
    Tracer.anchorMs + (System.nanoTime() - Tracer.anchorNs) / 1e6
  }
}

object Tracer {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
}
