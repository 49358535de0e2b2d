// Per-query profiler and the one timing main: runs each named registry
// query (with no names, every registry query in sorted order) through
// the noop sink, one untimed warm-up and then <iters> timed passes, and
// reports where the wall time goes:
//  - per pass: wall, jobs, stages, tasks, stage-wall and task-run sums,
//    shuffle bytes and GC (SparkListener); `execs=`, the pass's SQL
//    executions by action name (localCheckpoint, head, count, …, and
//    `overwrite`, the noop write itself) from the QueryExecutionListener,
//    which shows the eager work an entry body does before it returns
//    its DataFrame; for streaming entries also
//    the micro-batch count and `durationMs` summed per phase over the
//    pass's replays (StreamingQueryListener);
//  - after the last pass: the costliest stages and the noop write's
//    final adaptive plan, with its initial plan (QueryExecutionListener).
// A query that fails in any pass prints `PROFILE <q> FAILED: …` and no
// timing line for that pass, and the run goes on to the next query.
// Run:
//   sbt 'runMain graft.tools.Profile <sfDir> <iters> [<q1> <q2> ...]'
// Spark confs pass as JVM system properties, e.g. the state store:
//   sbt 'set run / javaOptions += "-Dspark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"' \
//       'runMain graft.tools.Profile <sfDir> <iters> <q1> ...'
package graft.tools

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

object Profile {
  /** Micro-batch phases summed from `StreamingQueryProgress.durationMs`. */
  private val phases =
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.tools.Profile <sfDir> <iters> [<query> ...]")
    val sfDir = args(0)
    val iters = args(1).toInt
    require(iters >= 1, s"iters must be at least 1 (got $iters): " +
      "the plan and stage lines print after the last timed pass")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var collecting = false
    val stageWall = mutable.LinkedHashMap[Int, (String, Long, Long, Long, Long, Int)]()
    var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (collecting) jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (collecting) {
          val si = sc.stageInfo
          val wall = (for {s <- si.submissionTime; c <- si.completionTime}
            yield c - s).getOrElse(0L)
          val m = si.taskMetrics
          stageWall(si.stageId) = (si.name.takeWhile(_ != '\n').take(60), wall,
            m.executorRunTime, m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten,
            m.jvmGCTime, si.numTasks)
        }
    })

    // the noop write's own QueryExecution: after it ran, its adaptive
    // plan is the final one (`df.queryExecution` is a different,
    // never-executed QueryExecution and stays isFinalPlan=false)
    @volatile var written: Option[QueryExecution] = None
    val execs = mutable.Map[String, Int]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        if (collecting) execs.synchronized {
          execs(funcName) = execs.getOrElse(funcName, 0) + 1
        }
        if (qe.executedPlan.isInstanceOf[V2TableWriteExec]) written = Some(qe)
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    })

    val started = ConcurrentHashMap.newKeySet[UUID]()
    val terminated = ConcurrentHashMap.newKeySet[UUID]()
    val phaseMs = mutable.Map[String, Long]()
    var batches = 0
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.runId)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        phaseMs.synchronized {
          batches += 1
          phases.foreach { p =>
            Option(e.progress.durationMs.get(p))
              .foreach(ms => phaseMs(p) = phaseMs.getOrElse(p, 0L) + ms)
          }
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.add(e.runId)
    })

    // listener events arrive asynchronously: wait until the write and
    // every replay's termination have landed (bounded), then give late
    // stage events a beat
    def awaitEvents(): Unit = {
      val deadline = System.currentTimeMillis() + 10000
      while ((written.isEmpty || !terminated.containsAll(started)) &&
             System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      Thread.sleep(150)
    }

    def exec(name: String): Unit =
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    def pass(name: String, it: Int): Unit = {
      stageWall.clear(); jobs = 0
      written = None
      execs.synchronized(execs.clear())
      phaseMs.synchronized { phaseMs.clear(); batches = 0 }
      collecting = true
      val t0 = System.nanoTime()
      exec(name)
      val dt = (System.nanoTime() - t0) / 1e9
      awaitEvents()
      collecting = false
      spark.catalog.clearCache()
      val stages = stageWall.toSeq
      val wallSum = stages.map(_._2._2).sum / 1e3
      val runSum = stages.map(_._2._3).sum / 1e3
      val shuf = stages.map(_._2._4).sum / 1e6
      val gc = stages.map(_._2._5).sum / 1e3
      val tasks = stages.map(_._2._6).sum
      val byAction = execs.synchronized(execs.toSeq.sortBy(_._1))
      val execLine = s"execs=${byAction.map(_._2).sum} (" +
        byAction.map { case (a, n) => s"$a=$n" }.mkString(" ") + ")"
      println(f"PROFILE $name it$it wall=$dt%.2fs jobs=$jobs stages=${stages.size} tasks=$tasks stageWallSum=$wallSum%.2fs taskRunSum=$runSum%.2fs shuffleMB=$shuf%.1f gc=$gc%.2fs $execLine")
      phaseMs.synchronized {
        if (batches > 0)
          println(s"PROFILE $name it$it stream batches=$batches durationMs " +
            phases.map(p => s"$p=${phaseMs.getOrElse(p, 0L)}").mkString(" "))
      }
      if (it == iters) {
        stages.sortBy(-_._2._2).take(12).foreach { case (id, (nm, w, r, sb, g, nt)) =>
          println(f"  stage$id%-5d wall=${w / 1e3}%.2fs run=${r / 1e3}%.2fs tasks=$nt%-4d shufMB=${sb / 1e6}%.1f gc=${g / 1e3}%.2fs  $nm")
        }
        println(s"PROFILE $name plan (noop write, executed):")
        println(written.map(_.executedPlan.toString.take(20000))
          .getOrElse("  (no write reported)"))
      }
    }

    /** Runs one pass; on a failure it stops collecting, drops cached
      * blocks, reports the error and returns false. */
    def attempt(name: String)(body: => Unit): Boolean =
      try { body; true } catch { case e: Throwable =>
        collecting = false
        spark.catalog.clearCache()
        println(s"PROFILE $name FAILED: ${e.getMessage}")
        false
      }

    // one untimed warm-up (codegen/JIT), then the timed passes; the
    // first failure ends the query, so the later queries still run
    for (name <- names)
      attempt(name) { exec(name); awaitEvents(); spark.catalog.clearCache() } &&
        (1 to iters).forall(it => attempt(name)(pass(name, it)))
    spark.stop()
  }
}
