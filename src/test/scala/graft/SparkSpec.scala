package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: the mains' [[graft.Session]] on 4
  * cores with 4 shuffle partitions, which keep tests fast; determinism
  * claims are separately exercised by re-running with a different
  * partitioning (see ExactSpec).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = graft.Session.local(
    "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4",
    "spark.app.name" -> "graft-test")
}
