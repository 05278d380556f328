package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated query-name filter (local
    // iteration only — the driver always passes exactly two args).
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    // Bench's conf: the hash gate must execute under the exact config
    // the bench times (a layout-sensitive query would otherwise pass
    // here and diverge there).
    val spark = GraftSession.fromEnv("4")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Dead after the write completes; correctness runs want maximal
      // independence, not warm SharedStage cores.
      GraftSession.sweep(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // A FILTERED local-iteration run must not clobber a full dump's
    // oracle map (check.py iterates this file): with `only` set, keep
    // every existing entry and overwrite just the re-dumped ones.
    val keep: Map[String, String] =
      if (only.isEmpty) Map.empty
      else {
        val p = Paths.get(s"$outDir/oracle_sql.json")
        if (!Files.exists(p)) Map.empty
        else {
          val s = Files.readString(p)
          // parse of our own writer's output: top-level string pairs
          val m = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(s)
          import scala.jdk.CollectionConverters._
          m.properties().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap
        }
      }
    val merged = keep ++ SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
    val json = merged
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
