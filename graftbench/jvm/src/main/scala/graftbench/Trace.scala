package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark made into a layer. `op` ties a span to
  * the operation that caused it. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder for the traced run. Spans nest per thread; a
  * disabled tracer runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Int, Int)]] { // (span id, op id)
    override def initialValue(): List[(Int, Int)] = Nil
  }
  private var nextId = 1

  def span[T](name: String, op: Int = -1)(body: => T): T = {
    if (!enabled) return body
    val outer = stack.get
    val id = synchronized { nextId += 1; nextId - 1 }
    val opId = if (op >= 0) op else outer.headOption.map(_._2).getOrElse(-1)
    stack.set((id, opId) :: outer)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      synchronized { spans += Span(id, outer.headOption.map(_._1).getOrElse(0), opId, name, t0, t1) }
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** What the listener keeps of one Spark job. `execId` is the SQL
  * execution that started it, or -1. */
final class JobRec(val id: Int, val group: String, val start: Long,
    val stageIds: Seq[Int], val callSite: String, val name: String, val execId: Long) {
  @volatile var end: Long = -1L
}

/** What the listener keeps of one completed stage (task metrics summed). */
final case class StageRec(id: Int, attempt: Int, tasks: Int, failedTasks: Int,
    runS: Double, gcS: Double, inputMb: Double, outputMb: Double,
    shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double)

/** Records jobs and stages for the traced run. Job start and end are the
  * scheduler's own event times (milliseconds), moved onto the
  * `System.nanoTime` clock of the benchmark's spans. */
final class JobListener extends SparkListener {
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nanos(ms: Long): Long = ms * 1000000L + nanoOffset

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  val submittedStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  /** Call site of each SQL execution's root execution. Jobs that adaptive
    * execution or a `Par` thread submits carry no program frame in their
    * own call site; the execution that started them does. */
  val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val execRoot = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  def execSite(execId: Long): String =
    Option(execSites.get(execRoot.getOrDefault(execId, execId))).getOrElse("")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execRoot.put(x.executionId, x.rootExecutionId.getOrElse(x.executionId))
      execSites.put(x.executionId, x.details)
    case _ =>
  }
  private val failed = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = e.properties
    val group = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    val execId = Option(props).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new JobRec(e.jobId, group, nanos(e.time),
      e.stageInfos.map(_.stageId), last.map(_.details).getOrElse(""),
      last.map(_.name).getOrElse(""), execId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = nanos(e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submittedStages.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (!e.taskInfo.successful)
      failed.merge((e.stageId, e.stageAttemptId), 1, (a: Integer, b: Integer) => a + b)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val mb = 1024.0 * 1024.0
    stages.add(StageRec(i.stageId, i.attemptNumber(), i.numTasks,
      Option(failed.get((i.stageId, i.attemptNumber()))).map(_.intValue).getOrElse(0),
      if (m == null) 0.0 else m.executorRunTime / 1e3,
      if (m == null) 0.0 else m.jvmGCTime / 1e3,
      if (m == null) 0.0 else m.inputMetrics.bytesRead / mb,
      if (m == null) 0.0 else m.outputMetrics.bytesWritten / mb,
      if (m == null) 0.0 else m.shuffleReadMetrics.totalBytesRead / mb,
      if (m == null) 0.0 else m.shuffleWriteMetrics.bytesWritten / mb,
      if (m == null) 0.0 else (m.memoryBytesSpilled + m.diskBytesSpilled) / mb))
  }
}

/** Sums the time of the writes that create the program's substrate tables
  * (`/tmp/graft_graph_*`, `/tmp/graft_ingestidx*`): the write actions of
  * the registry's lazy substrate builders. */
final class SubstrateWrites extends QueryExecutionListener {
  private val nanos = new java.util.concurrent.atomic.AtomicLong()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.analyzed.treeString(verbose = false)
    if (plan.contains("/tmp/graft_graph_") || plan.contains("/tmp/graft_ingestidx"))
      nanos.addAndGet(durationNs)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def seconds: Double = nanos.get / 1e9
}
