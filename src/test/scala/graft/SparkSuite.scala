package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). The
  * Tungsten page size is production's ([[graft.tools.ToolSession]]). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .config("spark.ui.enabled", "false")
    .config("spark.buffer.pageSize", graft.tools.ToolSession.PageSize)
    .getOrCreate()
}
