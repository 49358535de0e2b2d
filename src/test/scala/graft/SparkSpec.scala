package graft

import scala.reflect.ClassTag
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per forked test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf: String = "/root/testdata/sf0.001"

  /** `rows` read through an RDD, not a local relation: the optimizer
    * folds a projection over a local relation at plan time, always
    * interpreted, so an expression's generated code would never run. */
  def nonLocal[T: Encoder: ClassTag](rows: Seq[T]): Dataset[T] =
    spark.createDataset(spark.sparkContext.parallelize(rows, 3))

  /** Runs `body` with whole-stage codegen off and expression codegen
    * disabled, so every projection evaluates interpreted. */
  def interpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = keys.map { case (key, _) => key -> spark.conf.getOption(key) }
    keys.foreach { case (key, v) => spark.conf.set(key, v) }
    try body
    finally saved.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  /** `body` run in the default mode and again interpreted: the two
    * results must be equal, and the default one is returned. */
  def bothModes[T](body: => T): T = {
    val codegen = body
    assert(interpreted(body) == codegen, "codegen and interpreted results differ")
    codegen
  }
}
