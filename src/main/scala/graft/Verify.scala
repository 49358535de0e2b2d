package graft
import java.nio.file.{Files, Paths}
import graft.core.{GraftSession, Json}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The registry names a run dumps: all of them, or the comma-separated
    * `SPARK_GRAFT_ONLY` subset (a dev filter; the full run leaves it
    * unset). A name outside the registry fails the run: a typo would
    * otherwise run nothing and still leave a green check. */
  def selected(only: Option[String]): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq
    only.fold(all) { list =>
      val names = list.split(",").map(_.trim).toSet
      val unknown = names.diff(all.toSet)
      require(unknown.isEmpty, "SPARK_GRAFT_ONLY names no registry query: " +
        unknown.toSeq.sorted.map(n => s"'$n'").mkString(", "))
      all.filter(names.contains)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.Verify <sfDir> <outDir>")
    val Array(sfDir, outDir) = args
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val names = selected(only)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures must be LOUD: r10's events-schema break silently shrank the
    // correctness artifact's denominator (165→157 rows went unnoticed
    // because errors only hit stderr). Collect them and write
    // failures.json next to oracle_sql.json so a broken build is visible
    // in the artifacts themselves.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg.replaceAll("\\s+", " ").take(500)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (empty object when green) so its absence/staleness is
    // itself a signal; a count >0 means this round's verify was incomplete.
    val failJson = failures
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    // Manifest of the names this run actually attempted, written LAST:
    // a Verify killed mid-run (OOM/JVM abort) leaves no manifest — or a
    // stale one older than oracle_sql.json — and check.py treats either
    // as fatal instead of silently counting missing outputs as a
    // "subset". full_run distinguishes SPARK_GRAFT_ONLY dev passes.
    val manifest = s"""{"full_run": ${only.isEmpty}, "ran": ${
      names.sorted.map(Json.str).mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
    if (failures.nonEmpty)
      println(s"[verify] ${failures.size} queries FAILED — see $outDir/failures.json")
    spark.stop()
  }
}
