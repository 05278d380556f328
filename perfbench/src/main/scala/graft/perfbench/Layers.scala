package graft.perfbench

import java.security.MessageDigest

import com.fasterxml.jackson.databind.ObjectMapper

/** Reading an import payload: the reference's six entity arrays. */
object Payload {
  val Entities: Seq[String] = Seq("employees", "members", "physicians",
    "products", "settings", "vendors")

  private val mapper = new ObjectMapper()

  /** Entity array sizes of one serialized payload; throws if the bytes
    * are not a payload object. */
  def counts(json: Array[Byte]): Map[String, Long] = {
    val root = mapper.readTree(json)
    Entities.map { e =>
      val a = root.get(e)
      require(a != null && a.isArray, s"payload has no '$e' array")
      e -> a.size.toLong
    }.toMap
  }

  def entityRows(json: Array[Byte]): Long =
    try counts(json).values.sum catch { case _: Exception => 0L }

  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString
}

/** Execution-layer metrics shared by all workloads. */
object Layers {
  /** Means per operation over (layer sums, wall seconds) pairs. */
  def execMetrics(r: Main.Run, ops: Seq[(LayerSums, Double)]): Unit = {
    val n = ops.size.max(1).toDouble
    def mean(f: LayerSums => Double) = ops.map(x => f(x._1)).sum / n
    val wall = ops.map(_._2).sum
    r.metrics ++= Seq(
      "exec.stages_per_op" -> mean(_.stages.toDouble),
      "exec.tasks_per_op" -> mean(_.tasks.toDouble),
      "exec.task_time_s" -> mean(_.taskS),
      "exec.core_busy_ratio" ->
        ops.map(_._1.taskS).sum / (wall * r.cores).max(1e-9),
      "exec.input_bytes" -> mean(_.inBytes.toDouble),
      "exec.shuffle_bytes" -> mean(_.shuffleBytes.toDouble),
      "exec.spill_bytes" -> mean(_.spillBytes.toDouble))
  }

  /** Layers this workload does not run through report 0. */
  def notExercised(r: Main.Run, names: String*): Unit =
    names.foreach(n => r.metrics(n) = 0.0)
}
