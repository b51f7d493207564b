package graft.perfbench

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, DelegateToFileSystem, FileStatus, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** Local filesystem that counts metadata and data calls. Registered for
  * the `file` scheme in traced runs only, both as the `FileSystem` and,
  * through [[CountingLocalFs]], as the `FileContext` filesystem that
  * streaming checkpoints (offset, commit and state-store logs) use. It is
  * a `LocalFileSystem` subclass, so the engine's local-filesystem checks
  * still hold. Calls the engine makes through java.nio (link(2)
  * publishes, lease files) bypass Hadoop and are not counted. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def listStatus(f: Path): Array[FileStatus] = {
    hit("list"); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path) = {
    hit("list"); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    hit("status"); super.getFileStatus(f)
  }
  override def getFileLinkStatus(f: Path): FileStatus = {
    hit("status"); super.getFileLinkStatus(f)
  }
  override def open(f: Path, bufferSize: Int) = {
    hit("open"); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable) = {
    hit("create")
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  // FileContext reaches the filesystem through primitiveCreate,
  // primitiveMkdir and the three-argument rename
  override protected def primitiveCreate(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable,
      checksumOpt: Options.ChecksumOpt) = {
    hit("create")
    super.primitiveCreate(f, permission, flags, bufferSize, replication,
      blockSize, progress, checksumOpt)
  }
  override protected def primitiveMkdir(f: Path, permission: FsPermission): Boolean = {
    hit("mkdirs"); super.primitiveMkdir(f, permission)
  }
  override def mkdirs(f: Path): Boolean = {
    hit("mkdirs"); super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    hit("mkdirs"); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    hit("rename"); super.rename(src, dst)
  }
  override protected def rename(src: Path, dst: Path,
                                options: Options.Rename*): Unit = {
    hit("rename"); super.rename(src, dst, options: _*)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    hit("delete"); super.delete(f, recursive)
  }
}

object CountingLocalFileSystem {
  private val counters = Seq("list", "status", "open", "create", "mkdirs",
    "rename", "delete").map(_ -> new AtomicLong).toMap
  private def hit(call: String): Unit = counters(call).incrementAndGet()
  def snapshot(): Map[String, Long] = counters.map { case (k, v) => k -> v.get }
}

/** The `FileContext` side of [[CountingLocalFileSystem]], registered as
  * `fs.AbstractFileSystem.file.impl` in traced runs. Unlike the default
  * `LocalFs`, it writes no `.crc` sidecars for checkpoint files. */
class CountingLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingLocalFileSystem, conf, "file", false)

/** Span: a named interval inside op `op` (the root span of each op is
  * named "op"). Times are JVM nanos. */
final case class Span(name: String, op: Int, startNs: Long, endNs: Long)

/** Scheduler and streaming events kept in memory during a traced run and
  * attributed to ops by time once the run is over. */
final class Tracer extends SparkListener {
  private final case class Job(id: Int, startMs: Long, desc: String,
                               stages: Seq[Int]) { @volatile var endMs = -1L }
  private final case class StageM(stage: Int, tasks: Int, runMs: Long,
                                  cpuNs: Long, shRead: Long, shWrite: Long,
                                  spill: Long, in: Long, out: Long)
  private final case class Progress(startMs: Long, rows: Long,
                                    durations: Map[String, Long])
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  private val stages = new ConcurrentLinkedQueue[StageM]
  private val progress = new ConcurrentLinkedQueue[Progress]
  val spans = new ConcurrentLinkedQueue[Span]
  @volatile private var terminated = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, e.time, desc, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) stages.add(StageM(si.stageId, si.numTasks,
      m.executorRunTime, m.executorCpuTime,
      m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent) = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated += 1
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Block until every event posted so far has been delivered: a marker
    * job's end event arrives after all earlier scheduler events, and
    * each stopped query's terminated event after its last progress. */
  def drain(spark: org.apache.spark.sql.SparkSession, queriesStopped: Int): Unit = {
    spark.sparkContext.setJobDescription("perfbench: drain marker")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    def markerSeen = jobs.values.asScala
      .exists(j => j.desc == "perfbench: drain marker" && j.endMs >= 0)
    while ((!markerSeen || terminated < queriesStopped) &&
           System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Per-op scheduler and streaming counters for the op that ran over
    * [startMs, endMs] (wall-clock millis, the resolution Spark's events
    * carry). A job belongs to the op it started in. */
  def attribute(startMs: Long, endMs: Long): Map[String, Any] = {
    val opJobs = jobs.values.asScala.toSeq
      .filter(j => j.startMs >= startMs && j.startMs <= endMs &&
        !j.desc.startsWith("perfbench:"))
    val stageJob = opJobs.flatMap(j => j.stages.map(_ -> j)).toMap
    val opStages = stages.asScala.toSeq.filter(s => stageJob.contains(s.stage))
    val upsertStages = opStages.filter(s => isUpsert(stageJob(s.stage)))
    // driver gap: op time during which no job of the op was running
    val busy = opJobs.map(j => (j.startMs,
      if (j.endMs < 0) endMs else math.min(j.endMs, endMs))).sortBy(_._1)
      .foldLeft((0L, startMs)) { case ((acc, reach), (s, e)) =>
        val s1 = math.max(s, reach)
        if (e > s1) (acc + (e - s1), e) else (acc, reach)
      }._1
    val batches = progress.asScala.toSeq
      .filter(p => p.rows > 0 && p.startMs >= startMs && p.startMs <= endMs)
    Map(
      "jobs" -> opJobs.size,
      "upsert_jobs" -> opJobs.count(isUpsert),
      "upsert_task_run_s" -> upsertStages.map(_.runMs).sum / 1e3,
      "driver_gap_s" -> math.max(0L, endMs - startMs - busy) / 1e3,
      "stages" -> opStages.size,
      "tasks" -> opStages.map(_.tasks).sum,
      "task_run_s" -> opStages.map(_.runMs).sum / 1e3,
      "task_cpu_s" -> opStages.map(_.cpuNs).sum / 1e9,
      "shuffle_read_bytes" -> opStages.map(_.shRead).sum,
      "shuffle_write_bytes" -> opStages.map(_.shWrite).sum,
      "spill_bytes" -> opStages.map(_.spill).sum,
      "input_bytes" -> opStages.map(_.in).sum,
      "output_bytes" -> opStages.map(_.out).sum,
      "batches" -> batches.map(_.durations))
  }

  // Upsert labels every job it sequences "merge: ..." or "mergem: ..."
  private def isUpsert(j: Job): Boolean = j.desc.startsWith("merge")
}
