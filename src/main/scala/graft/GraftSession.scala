package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for every graft main except `Bench` (whose
  * timing harness is pinned and keeps its own builder) and for the
  * test session. It installs the conf `Bench` times under, so a number
  * from any tool — Verify's oracle dump, ABBench, Profile, the probes —
  * is taken under the same config the bench measures.
  * `GraftSessionSpec` pins `conf` to Bench's builder.
  *
  * `local[cpus]` with `cpus` shuffle partitions; mains take `cpus` from
  * SPARK_GRAFT_CPUS with their own fallback (`fromEnv`), the test
  * session passes a fixed width (`create`). */
object GraftSession {
  def conf(cpus: String): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    // naive parquet timestamps are UTC instants (oracle parity):
    // read them as TIMESTAMP, not TIMESTAMP_NTZ
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // events.parquet is TIMESTAMP(NANOS); see Tables.events
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // AQE coalescing byte floor — the reason is on Bench's builder
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
      sys.env.getOrElse("SPARK_GRAFT_AQE_MINPART", "16k"),
    "spark.ui.enabled" -> "false")

  def create(cpus: String): SparkSession = {
    val spark = conf(cpus)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def fromEnv(fallbackCpus: String): SparkSession =
    create(sys.env.getOrElse("SPARK_GRAFT_CPUS", fallbackCpus))

  /** Unpersists (blocking) every persisted RDD of the session — the
    * localCheckpoint blocks of iterative queries and the SharedStage
    * cores — so a big query's blocks cannot bleed memory pressure into
    * the next one. `keepShared` spares the alive SharedStage cores
    * (warm runs: a shared core is paid once per session, as in Bench);
    * without it every query runs self-contained and pays for its own
    * cores. */
  def sweep(spark: SparkSession, keepShared: Boolean = false): Unit = {
    val keep =
      if (keepShared) graft.operators.SharedStage.liveRddIds(spark)
      else Set.empty[Int]
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => keep(r.id))
      .foreach(_.unpersist(blocking = true))
  }
}
