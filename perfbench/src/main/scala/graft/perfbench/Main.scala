package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark main for one workload in one JVM. `perfbench/run.py`
  * builds the classpath, starts this main, checks the outputs it dumps
  * against the DuckDB oracles and prints the result line.
  *
  * Arguments: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --cores <N of Spark's local[N]> --data <dir holding sf0.01/>
  * --out <fresh run dir>.
  * Writes `<out>/result.json`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, data: String, out: String)

  /** Everything a workload needs from the harness. */
  final class Run(val args: Args, val cores: Int, val jvmStartMs: Long) {
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val checks = mutable.LinkedHashMap.empty[String, Any]
    val context = mutable.LinkedHashMap.empty[String, Any]

    def fail(msg: String): Unit = {
      failures += msg
      System.err.println(s"[perfbench] FAIL $msg")
    }
    def dir(name: String): String = s"${args.out}/$name"
    def dataDir(sf: String): String = s"${args.data}/$sf"
  }

  /** The session `graft.Bench` times under, with this run's warehouse
    * and scratch space kept inside the run directory. */
  def session(r: Run): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${r.cores}]")
      .config("spark.sql.shuffle.partitions", r.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "16k")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", r.dir("warehouse"))
      .config("spark.local.dir", r.dir("spark-local"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Touch each of the workload's sources once, as `graft.Bench` does
    * before it times. */
  def warmSources(spark: SparkSession, dataDir: String,
      tables: Seq[String]): Unit =
    tables.foreach { t =>
      (if (t == "events") graft.Tables.events(spark, dataDir)
       else graft.Tables.table(spark, dataDir, t)).limit(1)
        .write.mode("overwrite").format("noop").save()
    }

  /** The cold set-up: session up, sources warmed, and whatever `ready`
    * starts, timed from JVM start as the reference pays it once per
    * process; this is `setup_s`. Returns the session and the handle
    * `ready` returned. */
  def setUp[H](r: Run, dataDir: String, tables: Seq[String])
      (ready: SparkSession => H): (SparkSession, H) = {
    val t0 = System.nanoTime()
    val jvmS = (System.currentTimeMillis() - r.jvmStartMs) / 1e3
    val spark = session(r)
    val t1 = System.nanoTime()
    warmSources(spark, dataDir, tables)
    val t2 = System.nanoTime()
    val handle = ready(spark)
    val t3 = System.nanoTime()
    r.metrics("setup_s") = (System.currentTimeMillis() - r.jvmStartMs) / 1e3
    r.context("setup_jvm_session_warm_ready_s") =
      Seq(jvmS, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    (spark, handle)
  }

  /** Untimed warm-up after the cold first operation: the JIT keeps
    * speeding the engine up for tens of seconds, and how far it got
    * varies from run to run, so the timed operations start later on
    * that curve. Runs operations for up to `WarmUpSeconds`, and at
    * least one; it does not start one that would, at the last one's
    * pace, end past that. */
  val WarmUpSeconds = 16.0
  def warmUp[T](op: => T): Seq[T] = {
    val end = System.nanoTime() + (WarmUpSeconds * 1e9).toLong
    val done = Vector.newBuilder[T]
    var last = 0L
    var now = System.nanoTime()
    while (now + last < end) {
      val t = now
      done += op
      now = System.nanoTime()
      last = now - t
    }
    done.result()
  }

  /** Which warm operations (1-based) a traced run traces: untraced,
    * traced, traced, untraced, and so on, so warm-up drift does not
    * favour either side of the tracing overhead. */
  def tracedTurn(i: Int): Boolean = i % 4 == 2 || i % 4 == 3

  def load1: Double =
    Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble

  def memAvailableMb: Double =
    "MemAvailable:\\s+(\\d+) kB".r
      .findFirstMatchIn(Files.readString(Paths.get("/proc/meminfo")))
      .map(_.group(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb: Double =
    "VmHWM:\\s+(\\d+) kB".r
      .findFirstMatchIn(Files.readString(Paths.get("/proc/self/status")))
      .map(_.group(1).toDouble / 1024.0).getOrElse(-1.0)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--cores").toInt, get("--data"),
      get("--out"))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = parse(argv)
    val cores = args.cores
    val r = new Run(args, cores, jvmStartMs)
    val workload: Workload = args.workload match {
      case "import_service" => ImportServiceWorkload
      case "registry_mix" => RegistryMixWorkload
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    r.context ++= Seq("workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace, "cores" -> cores,
      "master" -> s"local[$cores]",
      "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "sf" -> workload.sf,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments
        .toArray.toSeq,
      "load1_before" -> load1, "mem_available_mb_before" -> memAvailableMb)
    val spark = workload.run(r)
    r.context ++= Seq("load1_after" -> load1,
      "mem_available_mb_after" -> memAvailableMb,
      "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap)
    r.context("peak_rss_mb") = peakRssMb
    r.context("gc_s") = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
    r.context("jit_s") =
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    spark.stop()
    val out = Json.obj(Seq(
      "attempted" -> r.attempted,
      "failed" -> r.failures.size,
      "failures" -> r.failures.toSeq,
      "metrics" -> r.metrics.toSeq.toMap,
      "checks" -> r.checks.toSeq.toMap,
      "context" -> r.context.toSeq.toMap))
    Files.writeString(Paths.get(r.dir("result.json")), out, UTF_8)
    // HTTP client pools and Spark's shutdown hooks must not keep the
    // process alive once the result is written
    sys.exit(0)
  }
}

/** One benchmark workload: sets up its own session and runs until done. */
trait Workload {
  def sf: String
  /** Runs the workload and returns the (still running) session. */
  def run(r: Main.Run): SparkSession
}

object Stats {
  /** Median of one run's samples; 0 for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** A minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
