package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters of the `file://` calls the program makes,
  * switched on only while a traced pass runs. */
object FsCounters {
  @volatile var on = false
  val status = new AtomicLong
  val list = new AtomicLong
  val mutations = new AtomicLong
  val opens = new AtomicLong
  val metaNs = new AtomicLong

  def snapshot(): Array[Long] =
    Array(status.get, list.get, mutations.get, opens.get, metaNs.get)

  private[perfbench] def meta[A](c: AtomicLong)(body: => A): A =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body
      finally { c.incrementAndGet(); metaNs.addAndGet(System.nanoTime() - t0) }
    }
}

/** The program's `file://` filesystem with every metadata call, open and
  * create counted. Installed through `spark.hadoop.fs.file.impl` in
  * traced sessions only; behaviour is the parent class's. */
class CountingFileSystem extends graft.FastLocalFileSystem {
  import FsCounters._
  override def getFileStatus(f: Path): FileStatus = meta(status)(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = meta(list)(super.listStatus(f))
  override def mkdirs(f: Path): Boolean = meta(mutations)(super.mkdirs(f))
  override def mkdirs(f: Path, p: FsPermission): Boolean = meta(mutations)(super.mkdirs(f, p))
  override def delete(f: Path, recursive: Boolean): Boolean =
    meta(mutations)(super.delete(f, recursive))
  override def rename(src: Path, dst: Path): Boolean = meta(mutations)(super.rename(src, dst))
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (on) opens.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def create(f: Path, p: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (on) mutations.incrementAndGet()
    super.create(f, p, overwrite, bufferSize, replication, blockSize, progress)
  }
}

/** One timed interval of the benchmark: a workload, an op (registry
  * entry or lifecycle call) or a phase inside an op. Times are
  * epoch-milliseconds so Spark's listener events can be placed in them. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** What each layer did inside one op span. */
final class LayerStats {
  var wallS, constructS, planS, jobS, taskBusyS, taskCpuS = 0.0
  var jobs, stages, tasks, failedTasks = 0L
  var shuffleR, shuffleW, spill = 0L
  var fsStatus, fsList, fsMut, fsOpens = 0L
  var fsMetaS, gcS, commitGcS, commitFsckS = 0.0
  var gens = 0L

  def add(o: LayerStats): Unit = {
    wallS += o.wallS; constructS += o.constructS; planS += o.planS; jobS += o.jobS
    taskBusyS += o.taskBusyS; taskCpuS += o.taskCpuS; jobs += o.jobs; stages += o.stages
    tasks += o.tasks; failedTasks += o.failedTasks; shuffleR += o.shuffleR
    shuffleW += o.shuffleW; spill += o.spill; fsStatus += o.fsStatus; fsList += o.fsList
    fsMut += o.fsMut; fsOpens += o.fsOpens; fsMetaS += o.fsMetaS; gcS += o.gcS
    commitGcS += o.commitGcS; commitFsckS += o.commitFsckS; gens += o.gens
  }
}

/** The benchmark's tracer: a SparkListener (jobs, stages, tasks,
  * shuffle, spill), a QueryExecutionListener (Catalyst phase times),
  * the filesystem counters and the JVM's GC and memory beans. Spans
  * are kept in memory and written out once the run ends. Every Spark
  * event is attributed to the op span whose interval holds it; ops run
  * one at a time, so that placement is unambiguous. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private final case class Job(id: Int, startMs: Long, var endMs: Long)
  private final class StageAgg {
    var tasks, failed, runMs, cpuNs, shufR, shufW, spill = 0L
    var completed = false
  }
  private val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageAgg = mutable.Map[Int, StageAgg]()
  private val planPhases = mutable.ArrayBuffer[(Long, Long, Long)]() // start, end, duration (ms)

  val spans = mutable.ArrayBuffer[Span]()
  private val opStats = mutable.Map[Int, LayerStats]()
  private var stack = List.empty[(Int, String, String, Long, Long)]
  private var nextId = 0

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)
  private def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    heapPools.foreach(_.resetPeakUsage())
    FsCounters.on = true
  }

  def stop(): Unit = {
    FsCounters.on = false
    ListenerBus.drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  // ---- spans -------------------------------------------------------

  def open(name: String, kind: String): Int = synchronized {
    val id = nextId; nextId += 1
    stack = (id, name, kind, System.currentTimeMillis(), System.nanoTime()) :: stack
    if (kind == "op") {
      val s = new LayerStats
      val fs = FsCounters.snapshot()
      s.fsStatus = -fs(0); s.fsList = -fs(1); s.fsMut = -fs(2); s.fsOpens = -fs(3)
      s.fsMetaS = -fs(4) / 1e9; s.gcS = -gcMs / 1e3
      opStats(id) = s
    }
    id
  }

  def close(id: Int): Span = synchronized {
    val (sid, name, kind, ms, ns) = stack.head
    require(sid == id, s"span $id closed out of order")
    stack = stack.tail
    val sp = Span(id, stack.headOption.map(_._1).getOrElse(-1), name, kind, ms,
      System.currentTimeMillis(), ns, System.nanoTime())
    spans += sp
    if (kind == "op") {
      val s = opStats(id)
      val fs = FsCounters.snapshot()
      s.fsStatus += fs(0); s.fsList += fs(1); s.fsMut += fs(2); s.fsOpens += fs(3)
      s.fsMetaS += fs(4) / 1e9; s.gcS += gcMs / 1e3; s.wallS = sp.secs
    }
    sp
  }

  def span[A](name: String, kind: String)(body: => A): A = {
    val id = open(name, kind)
    try body finally close(id)
  }

  def addGens(op: Int, n: Long): Unit = synchronized { opStats(op).gens += n }

  // ---- listener callbacks (listener-bus thread) ----------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageAgg.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).completed = true
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (e.taskInfo != null && e.taskInfo.failed) a.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shufR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.shufW += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)
  private def planned(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach { p =>
      planPhases += ((p.startTimeMs, p.endTimeMs, p.durationMs))
    }
  }

  // ---- attribution ---------------------------------------------------

  /** Per-op layer stats, keyed by op span id, with the Spark events
    * placed in the op whose interval holds them. */
  def attribute(): Map[Int, LayerStats] = synchronized {
    val ops = spans.filter(_.kind == "op").sortBy(_.startMs).toArray
    def opAt(ms: Long): Option[Span] = {
      // the last op starting at or before ms, if ms falls inside it
      var lo = 0; var hi = ops.length - 1; var hit = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (ops(mid).startMs <= ms) { hit = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (hit >= 0 && ms <= ops(hit).endMs) Some(ops(hit)) else None
    }
    val byOpJobs = mutable.Map[Int, mutable.ArrayBuffer[Job]]()
    jobs.values.foreach { j =>
      opAt(j.startMs).foreach(o => byOpJobs.getOrElseUpdate(o.id, mutable.ArrayBuffer()) += j)
    }
    val jobOp = byOpJobs.flatMap { case (o, js) => js.map(_.id -> o) }
    stageAgg.foreach { case (sid, a) =>
      stageJob.get(sid).flatMap(jobOp.get).foreach { o =>
        val s = opStats(o)
        if (a.completed) s.stages += 1
        s.tasks += a.tasks; s.failedTasks += a.failed
        s.taskBusyS += a.runMs / 1e3; s.taskCpuS += a.cpuNs / 1e9
        s.shuffleR += a.shufR; s.shuffleW += a.shufW; s.spill += a.spill
      }
    }
    byOpJobs.foreach { case (o, js) =>
      val s = opStats(o)
      s.jobs += js.size
      // union of the op's job intervals
      var covered = 0L; var curS = -1L; var curE = -1L
      js.sortBy(_.startMs).foreach { j =>
        if (j.startMs > curE) { covered += curE - curS; curS = j.startMs; curE = j.endMs }
        else curE = math.max(curE, j.endMs)
      }
      covered += curE - curS
      s.jobS += covered / 1e3
    }
    // Catalyst's phases become "plan" spans under the op they ran in
    planPhases.foreach { case (st, end, dur) =>
      opAt(st).foreach { o =>
        opStats(o.id).planS += dur / 1e3
        spans += Span(nextId, o.id, "plan", "phase", st, end, st * 1000000L, end * 1000000L)
        nextId += 1
      }
    }
    spans.filter(_.name == "construct").foreach { c =>
      spans.find(_.id == c.parent).filter(_.kind == "op")
        .foreach(o => opStats(o.id).constructS += c.secs)
    }
    opStats.toMap
  }
}

object Layers {
  /** The per-layer metrics of one traced pass, from its summed op stats. */
  def metrics(s: LayerStats, cpus: Int, ops: Int): Seq[(String, Double, String)] = Seq(
    ("registry.construct_s", s.constructS, "s"),
    ("spark.plan_s", s.planS, "s"),
    ("spark.jobs", s.jobs.toDouble, "count"),
    ("spark.stages", s.stages.toDouble, "count"),
    ("spark.tasks", s.tasks.toDouble, "count"),
    ("spark.tasks_per_job", if (s.jobs == 0) 0.0 else s.tasks.toDouble / s.jobs, "ratio"),
    ("spark.job_s", s.jobS, "s"),
    ("spark.driver_only_s", math.max(s.wallS - s.jobS, 0.0), "s"),
    ("spark.task_busy_s", s.taskBusyS, "s"),
    ("spark.task_cpu_s", s.taskCpuS, "s"),
    ("spark.core_util", if (s.jobS == 0) 0.0 else s.taskBusyS / (s.jobS * cpus), "ratio"),
    ("spark.shuffle_read_mb", s.shuffleR / 1048576.0, "MB"),
    ("spark.shuffle_write_mb", s.shuffleW / 1048576.0, "MB"),
    ("spark.spill_mb", s.spill / 1048576.0, "MB"),
    ("spark.failed_tasks", s.failedTasks.toDouble, "count"),
    ("jvm.gc_s", s.gcS, "s"),
    ("fs.status_calls", s.fsStatus.toDouble, "count"),
    ("fs.list_calls", s.fsList.toDouble, "count"),
    ("fs.mutations", s.fsMut.toDouble, "count"),
    ("fs.opens", s.fsOpens.toDouble, "count"),
    ("fs.meta_s", s.fsMetaS, "s"),
    ("commit.gens_per_op", if (ops == 0) 0.0 else s.gens.toDouble / ops, "ratio"),
    ("commit.gc_s", s.commitGcS, "s"),
    ("commit.fsck_s", s.commitFsckS, "s"))

  /** The per-op-kind subset recorded for the lifecycle workload. */
  def perKind(kind: String, s: LayerStats): Seq[(String, Double, String)] = Seq(
    (s"$kind.wall_s", s.wallS, "s"),
    (s"$kind.spark.jobs", s.jobs.toDouble, "count"),
    (s"$kind.spark.tasks", s.tasks.toDouble, "count"),
    (s"$kind.spark.job_s", s.jobS, "s"),
    (s"$kind.spark.driver_only_s", math.max(s.wallS - s.jobS, 0.0), "s"),
    (s"$kind.fs.meta_s", s.fsMetaS, "s"),
    (s"$kind.commit.gens", s.gens.toDouble, "count"))
}
