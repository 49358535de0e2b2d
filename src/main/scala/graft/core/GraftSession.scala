package graft.core

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession factory: the configuration this engine is
  * designed against, for both local runs and cluster submits. Every
  * session the engine's mains and tests use is built here.
  *
  * - AQE on with skew-join handling (runtime re-plan replaces the
  *   reference's static batch-size heuristics, SURVEY §4);
  * - shuffle partitions sized to the environment (driver/test: cores;
  *   cluster: leave to AQE coalescing from a high initial value);
  * - graft native functions (the vector and text table of
  *   [[graft.functions.NativeFunctions]]) injected by the extension;
  * - UTC session timezone (oracle-comparable timestamps).
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else the host's
    * available processors. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(master: Option[String] = None,
              shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    val withMaster = master.map(b.master).getOrElse(b)
    shufflePartitions
      .map(n => withMaster.config("spark.sql.shuffle.partitions", n.toString))
      .getOrElse(withMaster)
  }

  /** Local session sized to the machine (tests, single-node runs). */
  def local(cores: Int = GraftSession.cores): SparkSession = {
    val s = builder(Some(s"local[$cores]"), Some(cores))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.encode.Activations.register(s)
    s
  }
}
