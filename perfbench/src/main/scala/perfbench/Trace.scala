package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed call into one layer. Times are epoch milliseconds (fractional)
  * so spans share a clock with Spark's listener events. `op` names the
  * benchmark operation the span belongs to. */
final case class Span(id: Int, name: String, parent: Int, op: String,
                      start: Double) {
  var end: Double = Double.NaN
  def dur: Double = end - start
}

final case class JobRec(id: Int, group: String, desc: String, start: Long,
                        stageIds: Seq[Int]) {
  var end: Long = -1L
}

final case class StageRec(tasks: Int, taskMs: Long, shuffleBytes: Long,
                          spillBytes: Long, inputBytes: Long,
                          outputBytes: Long, outputRecords: Long)

/** Jobs and completed stages, as the scheduler reports them. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.Map[Int, StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.map(_.getProperty(k)).orNull
    jobs(e.jobId) = JobRec(e.jobId, prop("spark.jobGroup.id"),
      prop("spark.job.description"), e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages(i.stageId) = StageRec(i.numTasks,
        m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten)
    }
}

/** Bytes the program's own tasks write (task bytesWritten), recorded in
  * every run: the numerator of write_amp. Jobs of the harness's check
  * writes carry [[Tracer.ChecksDesc]] and are left out. */
final class OutputListener extends SparkListener {
  private val harnessStages = mutable.Set[Int]()
  private var written = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty("spark.job.description") == Tracer.ChecksDesc))
      harnessStages ++= e.stageIds
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val m = e.stageInfo.taskMetrics
      if (m != null && !harnessStages(e.stageInfo.stageId))
        written += m.outputMetrics.bytesWritten
    }

  def bytes: Long = synchronized(written)
}

/** Micro-batches of every streaming query the workload starts. */
final class StreamListener extends StreamingQueryListener {
  val batchMs = mutable.ArrayBuffer[Long]()
  var stateRows = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      Option(p.durationMs.get("addBatch")).foreach { _ =>
        batchMs += p.durationMs.get("triggerExecution").longValue
        stateRows = math.max(stateRows, p.stateOperators.map(_.numRowsTotal).sum)
      }
    }
}

/** Span recorder. With tracing off every method is a pass-through, so
  * the untraced run pays nothing but a boolean test per call.
  *
  * Jobs are attributed to spans through a job group set around each span
  * (`perfbench-<span id>`); jobs from threads the harness does not own
  * (streaming micro-batches) fall back to the innermost span open when
  * they started. Spans are written out once, at exit. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def now(): Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  val jobs = new JobListener
  val streams = new StreamListener
  /** Block-manager storage after each span: (persisted bytes, cached RDDs). */
  val storage = mutable.ArrayBuffer[(Long, Int)]()

  if (on) {
    sc.addSparkListener(jobs)
    spark.streams.addListener(streams)
  }

  def span[T](name: String, op: String = "")(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id),
        if (op.nonEmpty) op else stack.headOption.fold("")(_.op), now())
      spans += s
      stack = s :: stack
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setLocalProperty("spark.jobGroup.id", s"perfbench-${s.id}")
      try body
      finally {
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        s.end = now()
        stack = stack.tail
        if (name != Tracer.Plans) {
          val info = sc.getRDDStorageInfo
          storage += ((info.map(r => r.memSize + r.diskSize).sum, info.length))
        }
      }
    }

  /** Forces physical planning as its own span, so planning time is
    * measured apart from execution (traced runs only). */
  def plan(df: DataFrame): DataFrame = {
    if (on) span(Tracer.Plans)(df.queryExecution.executedPlan)
    df
  }

  def drain(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(sc)
}

object Tracer {
  val Plans = "plans"
  /** Span name and job description of the harness's check writes. */
  val ChecksDesc = "perfbench.checks"
  /** Job description the harness gives the f1 store's first write, the
    * unlabelled store-create branch of `Sinks.replaceSlices`. */
  val CreateDesc = "replaceSlices create"
}
