package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.SharedStage

/** `registry_mix`: repeated passes, in one session, over four
  * registered queries, each materialized through the `noop` sink as
  * `graft.Bench` does. Each pass runs the queries in a fresh order drawn
  * from the seed, so a run's median is not one order's. */
object RegistryMixWorkload extends Workload {
  val sf = "sf0.01"
  /** A heavy member per layer: driver-side build (graph_kcore), a
    * SharedStage core built on the first pass only and CPU-dense
    * execution (mm_frame_dedup), and shuffles (q5_join_agg,
    * agg_percentiles). All have DuckDB oracles. */
  val Queries: Seq[String] = Seq("q5_join_agg", "agg_percentiles",
    "graph_kcore", "mm_frame_dedup")

  /** One query of one pass: the build span (`SparkEntry.queries(name)`
    * returning its DataFrame, eager checkpoints included), the `noop`
    * write span, and the clean-up span after it. */
  final case class QRun(name: String, buildS: Double, execS: Double,
      cleanS: Double, builds: Int, buildWin: Iv, execWin: Iv)

  final case class Pass(wallS: Double, qs: Seq[QRun], traced: Boolean)

  /** Drop the persisted blocks a query left behind, except the
    * SharedStage cores that live for the session (as `graft.Bench`). */
  def cleanUp(spark: SparkSession): Unit = {
    val keep = SharedStage.liveRddIds(spark)
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(rdd => keep.contains(rdd.id))
      .foreach(_.unpersist(blocking = true))
  }

  def run(r: Main.Run): SparkSession = {
    val data = r.dataDir(sf)
    val (spark, _) = Main.setUp(r, data, graft.Tables.names)(_ => ())
    val registry = SparkEntry.queries
    val rng = new scala.util.Random(r.args.seed)
    val orders = Vector.newBuilder[Seq[String]]
    val tracer = new Tracer(spark)

    def runQuery(name: String): Option[QRun] = {
      r.attempted += 1
      val b0 = SharedStage.totalBuilds(spark)
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val df = registry(name)(spark, data)
        val t1 = System.nanoTime()
        val m1 = System.currentTimeMillis()
        df.write.mode("overwrite").format("noop").save()
        val t2 = System.nanoTime()
        val m2 = System.currentTimeMillis()
        cleanUp(spark)
        val t3 = System.nanoTime()
        Some(QRun(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
          SharedStage.totalBuilds(spark) - b0, Iv(m0, m1), Iv(m1, m2)))
      } catch { case e: Exception =>
        r.fail(s"$name failed: $e")
        cleanUp(spark)
        None
      }
    }

    def pass(traced: Boolean): Pass = {
      val order = rng.shuffle(Queries)
      orders += order
      if (traced) tracer.start()
      val t0 = System.nanoTime()
      val qs = order.flatMap(runQuery)
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) tracer.stop()
      Pass(wall, qs, traced)
    }

    val first = pass(traced = false)
    r.context("first_op_s") = first.wallS
    val warmUp = Main.warmUp(pass(traced = false))
    // Warm passes until the time is up, and at least two so the median
    // is never one sample. A traced run traces half of them.
    val t0 = System.nanoTime()
    val deadline = t0 + r.args.seconds * 1000000000L
    val warm = Iterator.from(1)
      .takeWhile(i => System.nanoTime() < deadline || i <= 2)
      .map(i => pass(r.args.trace && Main.tracedTurn(i)))
      .toVector
    (warmUp ++ warm).zipWithIndex.foreach { case (p, i) =>
      val built = p.qs.map(_.builds).sum
      if (built != 0)
        r.fail(s"warm pass ${i + 1} built $built SharedStage cores")
    }
    if (!r.args.trace) {
      // passes run one after another, so the gap between completions is
      // a pass, and the median rate is one over the median pass
      r.metrics("op_p50_s") = Stats.median(warm.map(_.wallS))
      r.metrics("throughput_ops_s") = 1.0 / r.metrics("op_p50_s")
      r.context("warm_pass_s") = warm.map(_.wallS)
    } else layerMetrics(r, tracer, first, warm)
    r.context("warm_passes") = warm.size
    r.context("warm_up_passes") = warmUp.size
    r.context("query_orders") = orders.result()
    verifyDump(r, spark, data, registry)
    spark
  }

  def layerMetrics(r: Main.Run, tracer: Tracer, first: Pass,
      warm: Seq[Pass]): Unit = {
    val traced = warm.filter(_.traced)
    val plain = warm.filterNot(_.traced)
    val ops = traced.map { p =>
      val sums = p.qs.map(q => tracer.sums(q.buildWin) + tracer.sums(q.execWin))
      (p, sums.reduceOption(_ + _).getOrElse(LayerSums.Zero))
    }
    val n = ops.size.max(1).toDouble
    def mean(f: ((Pass, LayerSums)) => Double) = ops.map(f).sum / n
    val wall = mean(_._1.wallS)
    val plan = mean(_._2.planS)
    val exec = mean(_._2.execS)
    val spans = mean(_._1.qs.map(q => q.buildS + q.execS + q.cleanS).sum)
    def warmMedian(name: String, f: QRun => Double): Double =
      Stats.median(warm.flatMap(_.qs.filter(_.name == name)).map(f))
    val cores = first.qs.filter(_.builds > 0)
    r.metrics ++= Seq(
      "trace.op_s" -> wall,
      "trace.overhead_s" -> (Stats.median(traced.map(_.wallS)) -
        Stats.median(plain.map(_.wallS))),
      "catalyst.plan_s" -> plan,
      "exec.run_s" -> exec,
      "driver.self_s" -> (spans - plan - exec),
      "trace.unattributed_s" -> (wall - spans),
      "queries.build_s" -> mean(_._1.qs.map(_.buildS).sum),
      "shared_stage.builds" -> first.qs.map(_.builds).sum.toDouble,
      "shared_stage.build_s" -> cores.map { q =>
        (q.buildS + q.execS - warmMedian(q.name, x => x.buildS + x.execS))
          .max(0.0)
      }.sum)
    r.context("per_query") = Queries.map { name =>
      val qs = traced.flatMap(_.qs.filter(_.name == name))
      name -> Map("build_s" -> Stats.median(qs.map(_.buildS)),
        "exec_s" -> Stats.median(qs.map(_.execS)),
        "first_pass_s" -> first.qs.filter(_.name == name)
          .map(q => q.buildS + q.execS).sum,
        "first_pass_core_builds" ->
          first.qs.filter(_.name == name).map(_.builds).sum)
    }.toMap
    Layers.execMetrics(r, ops.map { case (p, s) => (s, p.wallS) })
    Layers.notExercised(r, "import_service.queue_wait_s",
      "import_service.other_s", "import_job.input_rows_per_payload_row",
      "docstore.commit_s", "docstore.bytes_per_payload_byte",
      "file_sink.write_s")
    r.context("traced_passes") = traced.size
    r.context("untraced_warm_passes") = plain.size
  }

  /** Untimed: write every query's output as parquet for the DuckDB
    * oracle check in run.py. */
  def verifyDump(r: Main.Run, spark: SparkSession, data: String,
      registry: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame])
      : Unit = {
    val dir = r.dir("registry_out")
    Queries.foreach { name =>
      try registry(name)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/$name")
      catch { case e: Exception => r.fail(s"$name: verify dump failed: $e") }
      cleanUp(spark)
    }
    r.checks("registry_out") = dir
    r.checks("oracle_sql") = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
  }
}
