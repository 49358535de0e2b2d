package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** JVM side of the benchmark. `perfbench/run.py` generates the inputs,
  * starts this main, checks the written results against the DuckDB
  * oracle and turns the raw samples printed here into metrics.
  *
  *   graftbench.Main --workload NAME --seconds S --trace 0|1 --data DIR
  *     --out DIR --queries a,b,c [--probes p,q]
  *     [--scale1 DIR --scale8 DIR --scale-extra q]
  *
  * Human-readable lines go to stdout; the last stdout line is
  * `RESULT {json}` with the raw samples.
  */
object Main {

  /** Cores of the local master, and the shuffle width. */
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val out = args("out")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secs(t0)
    def list(k: String) = args.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val result = try {
      new BatchRun(spark, args("data"), out, list("queries"),
        seconds, traced, sessionS, t0).run(list("probes"),
        args.get("scale1").map(d1 => (d1, args("scale8"), list("scale-extra")))) +
        ("cores" -> spark.sparkContext.defaultParallelism)
    } finally spark.stop()
    println("RESULT " + Json(result))
  }

  /** (steal, total) jiffies over all CPUs from /proc/stat: the time the
    * hypervisor ran other guests while this one had work. None off Linux. */
  def hostSteal(): Option[(Double, Double)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val cpu = try src.getLines().next() finally src.close()
      val f = cpu.trim.split("\\s+").drop(1).map(_.toDouble)
      Some((f(7), f.sum))
    } catch { case _: Exception => None }

  def secs(fromNanos: Long): Double = (System.nanoTime() - fromNanos) / 1e9

  def errMessage(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).replaceAll("\\s+", " ").take(300)
}

/** A closed-loop workload: registry queries through
  * `SparkEntry.queries(name)(spark, dir)`, materialised through the `noop`
  * sink, one query at a time. */
final class BatchRun(spark: SparkSession, dir: String, out: String,
                     queries: Seq[String], seconds: Double, traced: Boolean,
                     sessionS: Double, t0: Long) {
  import Main.{errMessage, secs}

  private val failures = mutable.LinkedHashMap[String, String]()
  /** Executions attempted per query, for the failed-operation counts. */
  private val runs = mutable.LinkedHashMap[String, Int]().withDefaultValue(0)

  private def fail(q: String, e: Throwable): Unit = {
    failures(q) = errMessage(e)
    println(s"FAILED $q: ${failures(q)}")
  }

  /** Runs `body`, then drops the cached data and the temporary views it
    * left behind (a streaming entry's memory sink registers one), so every
    * execution of a query starts from the same session state. */
  private def clean[T](body: => T): T = {
    val catalog = spark.sessionState.catalog
    val views = catalog.getTempViewNames().toSet
    try body finally {
      spark.catalog.clearCache()
      catalog.getTempViewNames().filterNot(views).foreach(spark.catalog.dropTempView)
    }
  }

  /** Build the query's DataFrame, then write it; returns (build s, exec s). */
  private def exec(q: String, d: String, afterBuild: () => Unit = () => ())
      : (Double, Double) = {
    runs(q) += 1
    clean {
      val b0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, d)
      val b1 = System.nanoTime()
      afterBuild()
      val e0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val e1 = System.nanoTime()
      ((b1 - b0) / 1e9, (e1 - e0) / 1e9)
    }
  }

  /** Write the query's result over `d` to `dest` for the oracle check;
    * returns the error, if it threw. */
  private def verify(q: String, d: String, dest: String): Option[Throwable] =
    try {
      clean(SparkEntry.queries(q)(spark, d).write.mode("overwrite").parquet(dest))
      None
    } catch { case e: Throwable => Some(e) }

  def run(probes: Seq[String], scaling: Option[(String, String, Seq[String])])
      : Map[String, Any] = {
    // Set-up: the untimed warm-up pass, which also writes every result for
    // the oracle check. Fixture caches (per-dir fits, cached replays) fill
    // here, as do JIT and codegen caches.
    val warm = queries.map { q =>
      runs(q) += 1
      val v0 = System.nanoTime()
      verify(q, dir, s"$out/verify/$q").foreach(fail(q, _))
      q -> secs(v0)
    }
    val extras = scaling.toSeq.flatMap(_._3)
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json(
      (queries ++ probes ++ extras).flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
    val setupS = secs(t0)
    println(f"setup: session $sessionS%.3f s, warm-up pass ${setupS - sessionS}%.3f s (" +
      warm.map { case (q, t) => f"$q $t%.3f" }.mkString(", ") + ")")

    // Measured window: whole passes over the query list, at least two,
    // until the next pass would end after `seconds`. Two passes give each
    // query two samples, so a stretch of host CPU steal during one pass
    // does not set its time. In the traced run, passes alternate untraced
    // / traced so the tracing overhead is measured in the same run.
    val ok = queries.filterNot(failures.contains)
    val trace = if (traced) Some(new Trace(spark)) else None
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val walls = mutable.ArrayBuffer[Double]()
    val w0 = System.nanoTime()
    def more = walls.size < 2 || secs(w0) + walls.max <= seconds
    while (more) {
      val tr = trace.filter(_ => passes.size % 2 == 1)
      tr.foreach { t => t.attach(); t.resetPeaks() }
      val steal0 = Main.hostSteal()
      val p0 = System.nanoTime()
      val times = mutable.LinkedHashMap[String, Double]()
      val layers = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
      ok.foreach { q =>
        tr.foreach(_.drain())
        val before = tr.map(_.snapshot())
        try {
          // jobs started while the entry body runs, before it returns
          val (b, e) = exec(q, dir, () => for (t <- tr; s0 <- before) {
            t.drain()
            layers("entries.build_jobs") +=
              t.snapshot().getOrElse("scheduler.jobs", 0.0) -
                s0.getOrElse("scheduler.jobs", 0.0)
          })
          times(q) = b + e
          if (tr.isDefined) {
            layers("entries.build_s") += b
            layers("entries.exec_s") += e
          }
        } catch { case ex: Throwable => fail(q, ex) }
        for (t <- tr; b <- before) {
          t.drain()
          Trace.delta(t.snapshot(), b).foreach { case (k, v) =>
            layers(k) = if (Trace.levels(k)) math.max(layers(k), v) else layers(k) + v
          }
        }
      }
      val wall = secs(p0)
      walls += wall
      val steal = for (a <- steal0; b <- Main.hostSteal())
        yield (b._1 - a._1) / math.max(1.0, b._2 - a._2)
      val stream = tr.map(_.takeProgress()).getOrElse(Nil)
      tr.foreach(_.detach())
      passes += Map("traced" -> tr.isDefined, "wall_s" -> wall, "times" -> times.toMap,
        "layers" -> layers.toMap, "stream" -> Trace.microBatches(stream))
      println(f"pass ${passes.size}${if (tr.isDefined) " (traced)" else ""}: $wall%.3f s" +
        steal.fold("")(f => f", host steal ${100 * f}%.1f%%") + " (" +
        times.map { case (q, t) => f"$q $t%.3f" }.mkString(", ") + ")")
    }

    // Known-defect probes (traced run only): registry queries kept out of
    // the timed lists because they do not match their oracle. Their
    // results are checked like the others but do not count as the
    // workload's failures.
    val probeErrors = probes.flatMap(q => verify(q, dir, s"$out/verify/$q").map(q -> errMessage(_)))

    // Scaling pass (traced run only): each listed query, plus the extras,
    // once at x1 and once at x8 of the base tables. The extras missed
    // set-up, so each first writes its x1 result for the oracle check.
    val scale = scaling.map { case (d1, d8, extra) =>
      extra.foreach { q =>
        runs(q) += 1
        verify(q, d1, s"$out/verify-x1/$q").foreach(fail(q, _))
      }
      (ok ++ extra).filterNot(failures.contains).flatMap { q =>
        try {
          val (b1, e1) = exec(q, d1)
          val (b8, e8) = exec(q, d8)
          Some(q -> Seq(b1 + e1, b8 + e8))
        } catch { case ex: Throwable => fail(q, ex); None }
      }.toMap
    }
    Map("setup_s" -> setupS, "passes" -> passes.toSeq, "runs" -> runs.toMap,
      "failures" -> failures.toMap, "probe_errors" -> probeErrors.toMap,
      "scaling" -> scale.getOrElse(Map.empty))
  }
}

/** Minimal JSON encoder for the RESULT line. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => apply(other.toString)
  }
}
