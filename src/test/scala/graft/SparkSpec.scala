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
}
