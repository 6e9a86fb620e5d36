package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    BlockCleanup.muteBenignCleanupSpam()
    s
  }
}
