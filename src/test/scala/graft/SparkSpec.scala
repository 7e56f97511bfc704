package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Graft.session("local[4]", Some(4))

  /** Skip (not fail) a test that reads the driver-generated testdata on
    * a machine where it was never generated — TestdataDriftSpec's
    * assume() posture, shared so every suite guards the same way. */
  def assumeTestdata(sfDir: String = "/root/testdata/sf0.001"): Unit =
    assume(new java.io.File(s"$sfDir/documents.parquet").exists(),
      s"driver-generated testdata missing at $sfDir")

  override def afterAll(): Unit = {
    // keep the session for sibling suites; SparkSession is process-shared
    super.afterAll()
  }
}
