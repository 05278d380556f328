package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A half-open wall-clock interval in epoch milliseconds. */
final case class Iv(start: Long, end: Long) {
  def ms: Long = (end - start).max(0L)
}

object Iv {
  /** Sorted, non-overlapping cover of `ivs`. */
  def union(ivs: Iterable[Iv]): Vector[Iv] =
    ivs.filter(_.ms > 0).toVector.sortBy(_.start)
      .foldLeft(Vector.empty[Iv]) { (acc, iv) =>
        acc.lastOption match {
          case Some(l) if iv.start <= l.end =>
            acc.init :+ Iv(l.start, l.end.max(iv.end))
          case _ => acc :+ iv
        }
      }

  /** Milliseconds of the merged cover `u` that fall inside `w`. */
  def within(u: Vector[Iv], w: Iv): Long =
    u.iterator.map(iv => (iv.end.min(w.end) - iv.start.max(w.start))
      .max(0L)).sum

  /** Milliseconds of merged cover `a` inside `w` and outside merged
    * cover `b`. */
  def withinMinus(a: Vector[Iv], b: Vector[Iv], w: Iv): Long =
    a.iterator.map { iv =>
      val c = Iv(iv.start.max(w.start), iv.end.min(w.end))
      if (c.ms == 0) 0L else c.ms - within(b, c)
    }.sum
}

/** One Spark query execution as the QueryExecutionListener saw it. */
final case class QeRec(phases: Vector[Iv], endMs: Long, durationMs: Double,
    docStore: Boolean)

/** One finished task as the SparkListener saw it. */
final case class TaskRec(endMs: Long, runMs: Long, inBytes: Long,
    inRecords: Long, shuffleBytes: Long, spillBytes: Long)

/** What the listeners recorded inside one window. Times in seconds. */
final case class LayerSums(planS: Double, execS: Double, stages: Int,
    tasks: Int, taskS: Double, inBytes: Long, inRecords: Long,
    shuffleBytes: Long, spillBytes: Long, docStoreS: Double) {
  def +(o: LayerSums): LayerSums = LayerSums(planS + o.planS,
    execS + o.execS, stages + o.stages, tasks + o.tasks, taskS + o.taskS,
    inBytes + o.inBytes, inRecords + o.inRecords,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    docStoreS + o.docStoreS)
}

object LayerSums {
  val Zero: LayerSums = LayerSums(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Records Spark's own events while registered: the planning phases of
  * every query execution (QueryExecutionListener), and the wall-clock
  * spans of SQL executions and jobs plus per-task metrics
  * (SparkListener). Registered only for traced operations; the
  * untraced operations of the same run give the tracing overhead. */
final class Tracer(spark: SparkSession) {
  private val qes = new ConcurrentLinkedQueue[QeRec]
  private val execs = new ConcurrentLinkedQueue[Iv]
  private val stageEnds = new ConcurrentLinkedQueue[Long]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val sqlStart = TrieMap.empty[Long, Long]
  private val jobStart = TrieMap.empty[Int, Long]

  private val PlanPhases = Set("analysis", "optimization", "planning")

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.collect {
      case (name, p) if PlanPhases(name) => Iv(p.startTimeMs, p.endTimeMs)
    }.toVector
    val docStore = qe.analyzed.collectFirst {
      case a: AppendData => a.table.name
    }.exists(_.startsWith("graft-docs"))
    val end = if (phases.isEmpty) System.currentTimeMillis()
      else phases.map(_.end).max
    qes.add(QeRec(phases, end, durationNs / 1e6, docStore))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe, 0L)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach(s => execs.add(Iv(s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageEnds.add(e.stageInfo.completionTime
        .getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(TaskRec(e.taskInfo.finishTime, m.executorRunTime,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStart.put(s.executionId, s.time)
      case x: SparkListenerSQLExecutionEnd =>
        sqlStart.remove(x.executionId).foreach(s => execs.add(Iv(s, x.time)))
      case _ => ()
    }
  }

  def start(): Unit = {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(sparkListener)
  }

  /** Deliver every pending event, then unregister. */
  def stop(): Unit = {
    PerfbenchBus.drain(spark.sparkContext, 60000L)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Layer sums inside window `w`. Planning time is the cover of the
    * analysis, optimization and planning phases; execution time is the
    * cover of SQL executions and jobs (eager checkpoints run jobs
    * outside any SQL execution) outside the planning cover, since a
    * command plans inside its own SQL execution. The two never count
    * the same millisecond. */
  def sums(w: Iv): LayerSums = {
    val ex = Iv.union(execs.asScala)
    val pl = Iv.union(qes.asScala.flatMap(_.phases))
    val ts = tasks.asScala.filter(t => t.endMs >= w.start && t.endMs <= w.end)
    val inW = (ms: Long) => ms >= w.start && ms <= w.end
    LayerSums(
      planS = Iv.within(pl, w) / 1e3,
      execS = Iv.withinMinus(ex, pl, w) / 1e3,
      stages = stageEnds.asScala.count(t => inW(t)),
      tasks = ts.size,
      taskS = ts.iterator.map(_.runMs).sum / 1e3,
      inBytes = ts.iterator.map(_.inBytes).sum,
      inRecords = ts.iterator.map(_.inRecords).sum,
      shuffleBytes = ts.iterator.map(_.shuffleBytes).sum,
      spillBytes = ts.iterator.map(_.spillBytes).sum,
      docStoreS = qes.asScala.filter(q => q.docStore && inW(q.endMs))
        .map(_.durationMs).sum / 1e3)
  }
}

/** Write calls on files under `dir`, from the JDK flight recorder's
  * `jdk.FileWrite` events (path, start and duration of each write on a
  * file stream or channel). The import service writes its mmj files
  * inside the request, where the benchmark has no span of its own. The
  * recording is written to `dump` when it stops, read, and deleted. */
final class FileWrites(dir: String, dump: String) {
  private val rec = new Recording()
  rec.enable("jdk.FileWrite").withThreshold(Duration.ZERO)
    .withoutStackTrace()

  def start(): Unit = rec.start()

  /** Stops recording; (start in epoch ms, seconds) of each write. */
  def stop(): Seq[(Long, Double)] = {
    rec.stop()
    val p = Paths.get(dump)
    rec.dump(p)
    rec.close()
    val prefix = Paths.get(dir).toAbsolutePath.toString + "/"
    val writes = RecordingFile.readAllEvents(p).asScala.toSeq.collect {
      case e if Option(e.getString("path")).exists(_.startsWith(prefix)) =>
        (e.getStartTime.toEpochMilli, e.getDuration.toNanos / 1e9)
    }
    Files.delete(p)
    writes
  }
}
