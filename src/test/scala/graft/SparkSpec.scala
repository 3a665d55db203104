package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = ()
}

object SparkSpec {
  // width 4 is a property of the test data, not of the machine
  lazy val session: SparkSession = Session.local("graft-test", cpus = 4)
}
