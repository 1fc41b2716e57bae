package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * session construction dominates test wall-clock otherwise). Four cores
  * whatever the host has, so plan shapes and partition counts are the
  * same on every machine. */
object SparkSpecBase {
  lazy val spark: SparkSession = Harness.session("4")
}

abstract class SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.spark
  val sf: String = "/root/testdata/sf0.001"
  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    super.beforeAll()
  }
}
