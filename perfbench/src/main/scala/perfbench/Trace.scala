package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchSql
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.storage.{FileMeta, StorageClient}

/** Layer attribution for one traced unit of work, kept in memory.
  *
  * A [[SparkListener]] attributes jobs, stages and task metrics to the SQL
  * execution that ran them; each execution carries the job tag the runner
  * set when it started (a query name, or a workload step) and its call
  * site (`collect at TableIo.scala:247`). A [[QueryExecutionListener]]
  * adds the execution's planning phases from `QueryPlanningTracker`. */
final class Trace extends SparkListener with QueryExecutionListener {

  private val execs = mutable.LinkedHashMap.empty[Long, ExecSpan]
  private val execOf = mutable.Map.empty[Long, ExecSpan] // any execution id → its root
  private val jobExec = mutable.Map.empty[Int, ExecSpan]
  private val stageExec = mutable.Map.empty[Int, ExecSpan]
  // the listener bus delivers an execution's end event and its
  // QueryExecutionListener callback in either order: pair them by identity
  private val endedQe = new java.util.IdentityHashMap[QueryExecution, ExecSpan]
  private val phasesQe = new java.util.IdentityHashMap[QueryExecution, QueryExecution]
  private var cacheBytesAcc = 0L
  private var nextLooseId = -1L

  def reset(): Unit = synchronized {
    execs.clear(); execOf.clear(); jobExec.clear(); stageExec.clear()
    endedQe.clear(); phasesQe.clear()
    cacheBytesAcc = 0L
  }

  /** Top-level executions recorded since the last reset, in start order. */
  def executions: Seq[ExecSpan] = synchronized(execs.values.toSeq)
  def cacheBytes: Long = synchronized(cacheBytesAcc)

  private def tagOf(tags: Iterable[String]): String =
    tags.find(_.startsWith(Trace.TagPrefix)).map(_.stripPrefix(Trace.TagPrefix)).getOrElse("")

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      // nested executions (a command's inner query) fold into their root
      val root = e.rootExecutionId.getOrElse(e.executionId)
      synchronized {
        val x = execs.getOrElseUpdate(root, {
          val x = new ExecSpan(root, tagOf(e.jobTags), e.description)
          x.startMs = e.time
          x
        })
        execOf(e.executionId) = x
      }
    case e: SparkListenerSQLExecutionEnd =>
      synchronized {
        execs.get(e.executionId).foreach(_.endMs = e.time)
        for (x <- execOf.get(e.executionId); qe <- PerfbenchSql.queryExecution(e)) {
          if (phasesQe.remove(qe) != null) addPhases(x, qe) else endedQe.put(qe, x)
        }
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val x = execId.flatMap(execOf.get) match {
      case Some(x) => x
      case None =>
        // a job outside any SQL execution (RDD action): its own entry
        val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(",").toSeq).getOrElse(Seq.empty)
        val site = props.flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        val x = new ExecSpan(nextLooseId, tagOf(tags), site)
        nextLooseId -= 1
        x.startMs = e.time; x.endMs = e.time
        execs(x.id) = x
        x
    }
    x.jobs += 1
    jobExec(e.jobId) = x
    e.stageIds.foreach(stageExec(_) = x)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    // loose jobs end with their job; SQL executions end with their event
    jobExec.get(e.jobId).filter(_.id < 0).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageExec.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      stageExec.get(e.stageId).foreach { x =>
        val t = x.tasks
        t.tasks += 1; t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime; t.inputBytes += m.inputMetrics.bytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.resultBytes += m.resultSize
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      synchronized(cacheBytesAcc += b.memSize + b.diskSize)
  }

  private def addPhases(x: ExecSpan, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ns(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs) * 1000000L).getOrElse(0L)
    x.analysisNs += ns("analysis"); x.optimizerNs += ns("optimization")
    x.planningNs += ns("planning")
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      Option(endedQe.remove(qe)) match {
        case Some(x) => addPhases(x, qe)
        case None => phasesQe.put(qe, qe)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

final class TaskSums {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
  var fetchWaitMs = 0L; var spillBytes = 0L; var resultBytes = 0L
  def add(o: TaskSums): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes; resultBytes += o.resultBytes
  }
}

/** One SQL execution (or a job run outside any, keyed by its call site). */
final class ExecSpan(val id: Long, val tag: String, val callSite: String) {
  var startMs = 0L; var endMs = 0L
  var jobs = 0; var stages = 0
  val tasks = new TaskSums
  var analysisNs = 0L; var optimizerNs = 0L; var planningNs = 0L
  /** "collect at TableIo.scala:247" → ("collect", "TableIo.scala") */
  def op: String = callSite.takeWhile(_ != ' ')
  def file: String = callSite.split(" at ").lift(1).map(_.takeWhile(_ != ':')).getOrElse("")
  def wallS: Double = (endMs - startMs) / 1e3
}

object Trace {
  val TagPrefix = "perfbench:"
}

/** Storage decorator timing every call into the wrapped client. */
final class TimedStorage(inner: StorageClient) extends StorageClient {
  var listNs = 0L; var readNs = 0L; var writeNs = 0L
  var readBytes = 0L; var writeBytes = 0L

  private def timed[T](add: Long => Unit)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally add(System.nanoTime() - t0)
  }

  override def listRecursive(root: String): Seq[FileMeta] =
    timed(listNs += _)(inner.listRecursive(root))

  override def readBytes(path: String): Array[Byte] = {
    val b = timed(readNs += _)(inner.readBytes(path))
    readBytes += b.length
    b
  }

  override def writeBytes(folder: String, name: String, bytes: Array[Byte]): String = {
    writeBytes += bytes.length
    timed(writeNs += _)(inner.writeBytes(folder, name, bytes))
  }
}
