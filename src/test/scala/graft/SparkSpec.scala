package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy): the
  * production builder, pinned to 4 cores so results and plans do not
  * depend on the host.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", shufflePartitions = 4).getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
