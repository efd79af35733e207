package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Collects job, stage and block-store spans from Spark's public listener
  * events while the traced window runs. Jobs are attributed to the query
  * phase that launched them through the job group the harness sets per
  * phase (`q<n>.build`, `q<n>.plan`, `q<n>.execute`). Everything stays in
  * memory until [[spans]] is called at the end of the run.
  */
final class Tracer extends SparkListener {

  private final class Job(val id: Int, val group: String, val start: Long) {
    @volatile var end: Long = -1L
  }

  private final class Stage(val id: Int) {
    var jobId = -1
    var name = ""
    var submitted = -1L
    var completed = -1L
    var firstLaunch = Long.MaxValue
    var tasks = 0L
    var taskWaitMs = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var fetchWaitMs = 0L
    var spillBytes = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  // stage ids can be shared by several jobs (skipped stages); the first
  // job that lists a stage owns it
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val lastEvent = new AtomicLong(System.currentTimeMillis())

  // RDD blocks (local-checkpoint blocks and persisted frames) by block id
  private val blockBytes = new ConcurrentHashMap[String, java.lang.Long]()
  private var liveBytes = 0L
  var peakBlockBytes = 0L
  var newBlocks = 0L
  var newBlockBytes = 0L

  private def touch(): Unit = lastEvent.set(System.currentTimeMillis())
  private def stage(id: Int): Stage = stages.computeIfAbsent(id, i => new Stage(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, new Job(e.jobId, group.getOrElse(""), e.time))
    e.stageIds.foreach { s =>
      val st = stage(s)
      st.synchronized { if (st.jobId < 0) st.jobId = e.jobId }
    }
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    touch()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val st = stage(e.stageInfo.stageId)
    st.synchronized {
      st.name = e.stageInfo.name
      st.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val st = stage(e.stageInfo.stageId)
    st.synchronized {
      st.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stage(e.stageId)
    val info = e.taskInfo
    val m = e.taskMetrics
    st.synchronized {
      st.tasks += 1
      st.firstLaunch = math.min(st.firstLaunch, info.launchTime)
      if (st.submitted >= 0) st.taskWaitMs += math.max(0L, info.launchTime - st.submitted)
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.inputBytes += m.inputMetrics.bytesRead
        st.inputRecords += m.inputMetrics.recordsRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spillBytes += m.diskBytesSpilled
      }
    }
    touch()
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case _: RDDBlockId =>
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val size = info.memSize + info.diskSize
        synchronized {
          val before = Option(blockBytes.get(key)).map(_.longValue).getOrElse(0L)
          if (size > 0) {
            if (before == 0L) { newBlocks += 1; newBlockBytes += size }
            blockBytes.put(key, size)
          } else blockBytes.remove(key)
          liveBytes += size - before
          peakBlockBytes = math.max(peakBlockBytes, liveBytes)
        }
      case _ => ()
    }
    touch()
  }

  /** Waits until the listener bus has been quiet for `quietMs`, so the
    * events of the last jobs have arrived before the spans are read. */
  def drain(quietMs: Long = 500, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() - lastEvent.get < quietMs &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Job and stage spans: a job's parent is the query phase named by its
    * job group, a stage's parent is its job. */
  def spans: Seq[Map[String, Any]] = {
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Map[String, Any]("id" -> s"job${j.id}", "parent" -> j.group, "kind" -> "job",
        "name" -> s"job ${j.id}", "start_ms" -> j.start, "end_ms" -> j.end)
    }
    val ss = stages.values.asScala.toSeq.filter(_.jobId >= 0).sortBy(_.id).map { s =>
      Map[String, Any]("id" -> s"stage${s.id}", "parent" -> s"job${s.jobId}", "kind" -> "stage",
        "name" -> s.name, "start_ms" -> s.submitted, "end_ms" -> s.completed,
        "attrs" -> Map[String, Any](
          "tasks" -> s.tasks,
          "task_wait_s" -> s.taskWaitMs / 1e3,
          "first_task_wait_s" ->
            (if (s.tasks > 0 && s.submitted >= 0) math.max(0L, s.firstLaunch - s.submitted) / 1e3 else 0.0),
          "task_s" -> s.runMs / 1e3,
          "cpu_s" -> s.cpuNs / 1e9,
          "gc_s" -> s.gcMs / 1e3,
          "input_bytes" -> s.inputBytes,
          "input_records" -> s.inputRecords,
          "shuffle_write_bytes" -> s.shuffleWriteBytes,
          "shuffle_read_bytes" -> s.shuffleReadBytes,
          "fetch_wait_s" -> s.fetchWaitMs / 1e3,
          "spill_bytes" -> s.spillBytes))
    }
    js ++ ss
  }
}
