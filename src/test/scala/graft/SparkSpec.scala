package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — the Verify/Bench session
  * config from [[GraftSession]], on 2 cores. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = {
    // shared across suites; stopped by the JVM at exit
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(2)
}
