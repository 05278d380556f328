package graft

import java.util.Locale

import scala.collection.mutable

import org.apache.spark.GraftMetricsHook
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Per-query cost profile of registered queries: the bytes each query
  * moved (shuffle_audit.json) and, for queries named on the command
  * line, where its time went, stage by stage, plus its physical plan.
  *
  * Usage: runMain graft.Profile <sfDir> [outJson] [q1,q2,...]
  *   - no names: every registered query once, rows written to outJson
  *     (default shuffle_audit.json);
  *   - names: only those queries, each audited as above, then run again
  *     warm (SharedStage cores kept, as in Bench) with every stage's
  *     wall-clock, task time, task count, input/shuffle bytes and spill
  *     printed by wall time, followed by the formatted physical plan
  *     (filters pushed to the scan, broadcast vs sort-merge joins,
  *     codegen spans, absence of cartesian products).
  *
  * Rationale of the audit: wall-clock benches (Bench) measure THIS
  * host; at 1000 executors the dominant cost is the network, and the
  * quantity that predicts it is shuffle bytes as a fraction of input
  * bytes. A query whose plan LOOKS one-exchange can still move the
  * whole corpus twice (e.g. a wide pre-aggregation projection defeating
  * map-side combine); this measures it instead of trusting the plan
  * shape. The artifact is a per-query regression trap: a change that
  * silently doubles a query's shuffled bytes shows up here even when
  * local wall-clock hides it.
  *
  * Attribution protocol: one listener sums task metrics per stage
  * (the numbers the Spark UI shows per stage); a query's row is the sum
  * over the stages it ran. The async listener bus is drained before and
  * after every query so bytes land on the query that caused them, and
  * every persisted RDD (SharedStage cores included) is swept after each
  * query, so a row carries the query's WHOLE cost, cold cores included.
  * Spill is recorded separately: non-zero spill at local scale flags a
  * per-partition working set that would OOM or thrash a real executor.
  */
object Profile {
  type Query = (SparkSession, String) => DataFrame

  /** Task metrics summed over the tasks of one stage (or, for a query's
    * total, over its stages). `wallMs` is submission to completion. */
  final class Stage {
    var name = ""
    var wallMs = -1L
    var tasks = 0L
    var taskMs = 0L
    var input = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var memSpill = 0L
    var diskSpill = 0L
  }

  final case class Row(name: String, total: Stage, exchanges: Int)

  /** Per-stage task metrics of every stage run since the last `reset`. */
  private final class StageMetrics extends SparkListener {
    private val stages = mutable.HashMap.empty[Int, Stage]
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        val st = stages.getOrElseUpdate(e.stageId, new Stage)
        st.tasks += 1
        st.taskMs += m.executorRunTime
        st.input += m.inputMetrics.bytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.memSpill += m.memoryBytesSpilled
        st.diskSpill += m.diskBytesSpilled
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        val st = stages.getOrElseUpdate(i.stageId, new Stage)
        st.name = i.name.takeWhile(_ != '\n').take(90)
        st.wallMs = (for { a <- i.submissionTime; b <- i.completionTime }
          yield b - a).getOrElse(-1L)
      }
    def reset(): Unit = synchronized { stages.clear() }
    def byStage: Seq[(Int, Stage)] = synchronized { stages.toSeq }
    def total: Stage = synchronized {
      val t = new Stage
      stages.values.foreach { s =>
        t.tasks += s.tasks; t.taskMs += s.taskMs; t.input += s.input
        t.shuffleWrite += s.shuffleWrite; t.shuffleRead += s.shuffleRead
        t.memSpill += s.memSpill; t.diskSpill += s.diskSpill
      }
      t
    }
  }

  private def drain(spark: SparkSession): Unit =
    GraftMetricsHook.drainListenerBus(spark.sparkContext, 60000L)

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Runs `queries` in order under the attribution protocol above and
    * returns one row per successful query plus the failures, message by
    * query name. Failed queries are recorded, not just logged: the
    * constrained-memory registry pass (mem{1,2,3}g_audit.json) runs
    * this at a deliberately small heap, and "which queries died and
    * which spilled" IS that artifact's payload. With `detail`, each
    * successful query also gets the warm stage table and plan. */
  def audit(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
      detail: Boolean): (Seq[Row], mutable.LinkedHashMap[String, String]) = {
    val acc = new StageMetrics
    val failed = mutable.LinkedHashMap.empty[String, String]
    spark.sparkContext.addSparkListener(acc)
    try {
      val rows = queries.flatMap { case (name, fn) =>
        drain(spark)
        acc.reset()
        // Static shuffle-exchange count from the FINAL DataFrame's
        // executed plan (fn may run whole jobs building it — loop
        // queries — so fn is called exactly once and the plan is read
        // off the same instance that is then executed). ExchangeCount
        // counts shuffles only: broadcasts are the cheap shape the plans
        // choose on purpose, and a reused exchange moves no new data.
        // Loop queries whose registered frame is a checkpoint scan
        // count 0 here (their exchanges ran inside the loop); the byte
        // columns carry their true cost.
        val ran =
          try {
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            val exchanges = ExchangeCount.shuffleExchanges(
              df.queryExecution.executedPlan)
            noop(df)
            val coldS = (System.nanoTime() - t0) / 1e9
            drain(spark)
            Some((Row(name, acc.total, exchanges), coldS))
          } catch { case e: Throwable =>
            System.err.println(s"[audit] $name failed: ${e.getMessage}")
            failed.put(name, s"${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).replaceAll("[\"\\\\\n\r]", " ")
                .take(160))
            None
          }
        if (detail) ran.foreach { case (_, coldS) =>
          warm(spark, sfDir, name, fn, acc, coldS) }
        // Self-contained attribution: the next query pays — and is
        // billed for — its own materializations. Unpersist moves no
        // data, so the sweep adds nothing to any row.
        GraftSession.sweep(spark)
        ran.map(_._1)
      }
      (rows, failed)
    } finally spark.sparkContext.removeSparkListener(acc)
  }

  /** Re-runs `name` with its SharedStage cores kept and prints its
    * stages by wall time (top 25) and its formatted physical plan. */
  private def warm(spark: SparkSession, sfDir: String, name: String,
      fn: Query, acc: StageMetrics, coldS: Double): Unit = {
    GraftSession.sweep(spark, keepShared = true)
    drain(spark)
    acc.reset()
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    noop(df)
    val warmS = (System.nanoTime() - t0) / 1e9
    drain(spark)
    def mb(b: Long): String = f"${b / 1048576.0}%8.1f"
    println(f"\n===== $name cold=$coldS%.2fs warm=$warmS%.2fs =====")
    println("  wall_ms task_ms tasks  input_MB  shRd_MB  shWr_MB spill_MB  stage")
    acc.byStage.sortBy(-_._2.wallMs).take(25).foreach { case (id, s) =>
      println(f"  ${s.wallMs}%7d ${s.taskMs}%7d ${s.tasks}%5d " +
        f"${mb(s.input)} ${mb(s.shuffleRead)} ${mb(s.shuffleWrite)} " +
        f"${mb(s.memSpill + s.diskSpill)}  [$id] ${s.name}")
    }
    println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
  }

  private def fmtMB(b: Long): String =
    String.format(Locale.ROOT, "%.2f", Double.box(b / 1048576.0))

  /** Shuffle-write pins (MB) of the committed known-good audit
    * `shuffle_ref.json` (same format as this artifact), empty unless
    * the pin was taken at `sfDir`: byte counts are only comparable at
    * the pin's scale factor. */
  private def refShuffle(sfDir: String): Map[String, Double] =
    try {
      val s = java.nio.file.Files.readString(
        java.nio.file.Paths.get("shuffle_ref.json"))
      val refSf = "\"sf\":\\s*\"([^\"]+)\"".r.findFirstMatchIn(s)
        .map(_.group(1)).getOrElse("")
      if (refSf != sfDir) Map.empty
      else ("\"([A-Za-z0-9_]+)\":\\s*\\{\"input_mb\":[^}]*" +
        "\"shuffle_write_mb\":\\s*([0-9.]+)").r
        .findAllMatchIn(s)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }

  /** Standing reference gate: a query whose shuffle-written bytes grow
    * >1.5x over its pin — with a 1 MB absolute floor so kilobyte jitter
    * from compression/codegen layout never flags — self-flags in the
    * artifact. Shuffle bytes predict the 1000-executor cost and are
    * deterministic enough to pin where wall-clock is not. A flag means
    * adjudicate the plan change, then re-pin deliberately — never bump
    * blind. Returns (query, ratio) pairs, largest first. */
  private def flagged(rows: Seq[Row], ref: Map[String, Double]): Seq[(String, Double)] =
    rows.flatMap { r =>
      val swMb = r.total.shuffleWrite / 1048576.0
      ref.get(r.name).collect {
        case pin if swMb > pin * 1.5 && swMb - pin > 1.0 =>
          // Divide by max(pin, 1 MB): a 0.00 MB pin would otherwise
          // yield Infinity, which String.format renders as a bare
          // non-JSON token exactly when the gate fires.
          r.name -> (swMb / math.max(pin, 1.0))
      }
    }.sortBy(-_._2)

  /** The shuffle_audit.json document. */
  def json(sfDir: String, rows: Seq[Row], failed: collection.Map[String, String],
      refQueries: Int, flags: Seq[(String, Double)]): String = {
    val qjson = rows.map { r =>
      val t = r.total
      val ratio =
        if (t.input > 0) String.format(Locale.ROOT, "%.4f",
          Double.box(t.shuffleWrite.toDouble / t.input))
        else "0.0"
      s"""  "${r.name}": {"input_mb": ${fmtMB(t.input)}, "shuffle_write_mb": ${fmtMB(t.shuffleWrite)}, "shuffle_read_mb": ${fmtMB(t.shuffleRead)}, "spill_mem_mb": ${fmtMB(t.memSpill)}, "spill_disk_mb": ${fmtMB(t.diskSpill)}, "tasks": ${t.tasks}, "exchanges": ${r.exchanges}, "shuffle_over_input": $ratio}"""
    }.mkString("{\n", ",\n", "\n}")
    val flaggedJson = flags.map { case (n, x) =>
      "\"" + n + "\":" + String.format(Locale.ROOT, "%.2f", Double.box(x))
    }.mkString("{", ",", "}")
    val failedJson = failed.map { case (n, m) =>
      "\"" + n + "\": \"" + m + "\""
    }.mkString("{", ", ", "}")
    s"""{"sf": "$sfDir", "ref_queries": $refQueries, """ +
      s""""n_failed": ${failed.size}, "failed": $failedJson, """ +
      s""""flagged_vs_ref": $flaggedJson,\n"queries": $qjson\n}\n"""
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <sfDir> [outJson] [q1,q2,...]")
    val sfDir = args(0)
    val outJson = if (args.length > 1) args(1) else "shuffle_audit.json"
    val names =
      if (args.length > 2) args(2).split(",").toSeq.filter(_.nonEmpty)
      else Seq.empty
    val bad = names.filterNot(SparkEntry.queries.contains)
    require(bad.isEmpty, s"unknown queries: ${bad.mkString(",")}")
    val queries =
      if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else names.map(n => n -> SparkEntry.queries(n))
    val spark = GraftSession.fromEnv("32")

    // Untimed warmup as in Bench: parquet footer reads etc. must not
    // land on the first query's input-byte row.
    Tables.names.foreach { t =>
      try noop((if (t == "events") Tables.events(spark, sfDir)
        else Tables.table(spark, sfDir, t)).limit(1))
      catch { case _: Throwable => () }
    }

    val (rows, failed) = audit(spark, sfDir, queries, detail = names.nonEmpty)
    val ref = refShuffle(sfDir)
    val flags = flagged(rows, ref)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson),
      json(sfDir, rows, failed, ref.size, flags))

    if (flags.nonEmpty) {
      println(s"[audit] SHUFFLE REGRESSION vs shuffle_ref.json " +
        s"(${flags.size} queries >1.5x pin):")
      flags.foreach { case (n, x) => println(f"[audit]   $n%-28s $x%.2fx pin") }
    } else if (ref.nonEmpty)
      println(s"[audit] shuffle_ref gate: ${ref.size} pins, 0 flagged")
    val zero = rows.count(_.total.shuffleWrite == 0)
    val spilled = rows.filter(r => r.total.memSpill + r.total.diskSpill > 0)
    println(s"[audit] sf=$sfDir queries=${rows.size} " +
      s"zero_shuffle=$zero spilling=${spilled.size}")
    println("[audit] top 25 by shuffle_write:")
    rows.sortBy(-_.total.shuffleWrite).take(25).foreach { r =>
      val t = r.total
      val ratio = if (t.input > 0) t.shuffleWrite.toDouble / t.input else 0.0
      println(f"[audit]   ${r.name}%-28s input=${fmtMB(t.input)}%9s MB  " +
        f"write=${fmtMB(t.shuffleWrite)}%9s MB  " +
        f"read=${fmtMB(t.shuffleRead)}%9s MB  w/in=$ratio%6.2f")
    }
    if (spilled.nonEmpty) {
      println("[audit] queries that spilled:")
      spilled.sortBy(r => -(r.total.memSpill + r.total.diskSpill)).foreach { r =>
        println(s"[audit]   ${r.name} mem=${fmtMB(r.total.memSpill)} MB " +
          s"disk=${fmtMB(r.total.diskSpill)} MB")
      }
    }
    spark.stop()
  }
}
