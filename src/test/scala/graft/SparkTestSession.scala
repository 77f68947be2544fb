package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** One shared local session for the whole test run (getOrCreate), with the
  * same session-level settings the drivers use (UTC, nanosAsLong set at
  * construction — see graft.io.Tables.NANOS_AS_LONG). */
trait SparkTestSession extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession =
    Session.local(4, "spark.app.name" -> "graft-test")

  val sf0001 = "/root/testdata/sf0.001"

  override protected def afterAll(): Unit = {
    // shared via getOrCreate: do NOT stop between suites
    super.afterAll()
  }
}
