package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one session per suite (lazy), built by
  * [[Session]] like Verify's session, at a fixed `local[4]`
  * whatever the host's core count.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session(getClass.getSimpleName, cpus = 4,
    conf = Map("spark.sql.warehouse.dir" ->
      s"/tmp/graft-warehouse-${sys.props.getOrElse("user.name", "u")}"))

  val sfDir = "/root/testdata/sf0.001"
}
