package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.collection.mutable

/** Records Spark's own events for the ops of traced passes, through the
  * public listener interfaces only. Jobs are attributed to the op (and to
  * the op's client span) through local properties the client thread sets;
  * stages through their job; RDD blocks through the first stage that
  * computed the RDD. Catalyst phases carry wall-clock times and are
  * attributed to ops by `metrics.py`.
  *
  * Callbacks run on Spark's listener thread; the client reads the records
  * only after a fence job has passed through the same queue, or after
  * `SparkContext.stop()` has drained it.
  */
final class Tracer(spark: SparkSession) {
  private val mapper = new ObjectMapper()
  private val sc = spark.sparkContext
  private val jobs = mutable.LinkedHashMap.empty[Int, ObjectNode]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), ObjectNode]
  private val rddStage = mutable.HashMap.empty[Int, Int]
  private val rddBlocks = mutable.LinkedHashMap.empty[Int, (Long, Long)]
  private val seenBlocks = mutable.HashSet.empty[String]
  private val plans = mutable.ArrayBuffer.empty[ObjectNode]
  private val fenceJobs = mutable.HashSet.empty[Int]
  @volatile private var fence: CountDownLatch = _

  private def stage(id: Int, attempt: Int): ObjectNode =
    stages.getOrElseUpdate((id, attempt), {
      val n = mapper.createObjectNode()
      n.put("stage", id).put("attempt", attempt)
      Tracer.StageSums.foreach(n.put(_, 0L))
      n
    })

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(Tracer.OpProp))).foreach {
        case Tracer.Fence => fenceJobs += e.jobId
        case op =>
          val n = mapper.createObjectNode()
          n.put("job", e.jobId).put("op", op.toInt).put("start", e.time.toDouble)
            .put("span", props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toInt).getOrElse(0))
          jobs(e.jobId) = n
          e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { n =>
        n.put("end", e.time.toDouble).put("ok", e.jobResult == JobSucceeded)
      }
      if (fenceJobs.remove(e.jobId)) fence.countDown()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      if (stageJob.contains(info.stageId)) {
        stage(info.stageId, info.attemptNumber())
        info.rddInfos.foreach(r => if (!rddStage.contains(r.id)) rddStage(r.id) = info.stageId)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      if (stageJob.contains(info.stageId)) {
        val n = stage(info.stageId, info.attemptNumber())
        info.submissionTime.foreach(t => n.put("start", t.toDouble))
        info.completionTime.foreach(t => n.put("end", t.toDouble))
        n.put("num_tasks", info.numTasks)
        info.failureReason.foreach(r => n.put("failure", r.take(300)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (stageJob.contains(e.stageId)) {
        val n = stage(e.stageId, e.stageAttemptId)
        def add(k: String, v: Long): Unit = n.put(k, n.get(k).asLong + v)
        val ti = e.taskInfo
        add("tasks", 1)
        if (ti.failed || ti.killed) add("failed_tasks", 1)
        add("task_ms", ti.finishTime - ti.launchTime)
        val m = e.taskMetrics
        if (m != null) {
          add("run_ms", m.executorRunTime)
          add("cpu_ns", m.executorCpuTime)
          add("gc_ms", m.jvmGCTime)
          if (m.peakExecutionMemory > n.get("peak_mem_bytes").asLong)
            n.put("peak_mem_bytes", m.peakExecutionMemory)
          add("spill_bytes", m.diskBytesSpilled)
          add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
          add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add("read_bytes", m.inputMetrics.bytesRead)
          add("read_records", m.inputMetrics.recordsRead)
          add("write_bytes", m.outputMetrics.bytesWritten)
          add("write_records", m.outputMetrics.recordsWritten)
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case RDDBlockId(rdd, _) if b.storageLevel.isValid && b.memSize + b.diskSize > 0 &&
            seenBlocks.add(b.blockId.name) =>
          val (n, bytes) = rddBlocks.getOrElse(rdd, (0L, 0L))
          rddBlocks(rdd) = (n + 1, bytes + b.memSize + b.diskSize)
        case _ => ()
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = Tracer.this.synchronized {
      val n = mapper.createObjectNode()
      n.put("func", func).put("ok", ok)
      qe.tracker.phases.foreach { case (phase, s) =>
        n.putObject(phase).put("start", s.startTimeMs.toDouble).put("end", s.endTimeMs.toDouble)
      }
      plans += n
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, exception: Exception): Unit =
      record(func, qe, ok = false)
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until every event posted so far has reached the listeners, by
    * running one tiny job and waiting for its end event, then detaches. */
  def detach(): Unit = {
    fence = new CountDownLatch(1)
    sc.setLocalProperty(Tracer.OpProp, Tracer.Fence)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Tracer.OpProp, null)
    val drained = fence.await(60, TimeUnit.SECONDS)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
    fence = null
    require(drained, "listener queue did not drain within 60 s")
  }

  def writeTo(art: ObjectNode): Unit = synchronized {
    val j = art.putArray("jobs"); jobs.values.foreach(j.add)
    val s = art.putArray("stages")
    stages.values.foreach { n => n.put("job", stageJob.getOrElse(n.get("stage").asInt, -1)); s.add(n) }
    val p = art.putArray("plans"); plans.foreach(p.add)
    val b = art.putArray("blocks")
    rddBlocks.foreach { case (rdd, (n, bytes)) =>
      b.addObject().put("rdd", rdd).put("stage", rddStage.getOrElse(rdd, -1))
        .put("blocks", n).put("bytes", bytes)
    }
  }
}

object Tracer {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"
  val Fence = "fence"
  val StageSums: Seq[String] = Seq("tasks", "failed_tasks", "task_ms", "run_ms", "cpu_ns",
    "gc_ms", "peak_mem_bytes", "spill_bytes", "shuffle_read_bytes", "fetch_wait_ms",
    "shuffle_write_bytes", "read_bytes", "read_records", "write_bytes", "write_records")
}

/** Counts ERROR-level log events per op through an appender on the root
  * logger. Attached after the session is built, because Spark installs its
  * default logging configuration when the context starts. */
final class ErrorCounter extends AbstractAppender(
    "perfbench-errors", null, null, true, Property.EMPTY_ARRAY) {
  @volatile var current = 0
  val counts = new ConcurrentHashMap[Int, Int]()
  val messages = new ConcurrentLinkedQueue[String]()
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
      counts.merge(current, 1, (a: Int, b: Int) => a + b)
      if (messages.size < 20)
        messages.add(s"op $current ${e.getLoggerName}: ${e.getMessage.getFormattedMessage.take(300)}")
    }
}

object ErrorCounter {
  def attach(): ErrorCounter = {
    val a = new ErrorCounter
    a.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(a, Level.ERROR, null)
    ctx.updateLoggers()
    a
  }
}
