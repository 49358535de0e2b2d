package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated names); driver leaves unset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Failures must be LOUD: r10's events-schema break silently shrank the
    // correctness artifact's denominator (165→157 rows went unnoticed
    // because errors only hit stderr). Collect them and write
    // failures.json next to oracle_sql.json so a broken build is visible
    // in the artifacts themselves.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg.replaceAll("\\s+", " ").take(500)
      }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (empty object when green) so its absence/staleness is
    // itself a signal; a count >0 means this round's verify was incomplete.
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    // Manifest of the names this run actually attempted, written LAST:
    // a Verify killed mid-run (OOM/JVM abort) leaves no manifest — or a
    // stale one older than oracle_sql.json — and check.py treats either
    // as fatal instead of silently counting missing outputs as a
    // "subset". full_run distinguishes SPARK_GRAFT_ONLY dev passes.
    val ranNames = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n))).sorted
    val manifest = s"""{"full_run": ${only.isEmpty}, "ran": ${
      ranNames.map(q).mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
    if (failures.nonEmpty)
      println(s"[verify] ${failures.size} queries FAILED — see $outDir/failures.json")
    spark.stop()
  }
}
