package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the test suite: one JVM-wide session
  * (local[4], tiny shuffle fan-out) so specs don't pay startup per class.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  /** Driver-provided smallest scale factor — smoke-scale inputs. */
  val sfTiny = "/root/testdata/sf0.001"
  val sfSmall = "/root/testdata/sf0.01"
}

object SparkSpec {
  lazy val session: SparkSession = {
    // a fixed local[4], whatever the host's core count, so plan and
    // partition-count assertions do not depend on the machine
    val s = Session.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
