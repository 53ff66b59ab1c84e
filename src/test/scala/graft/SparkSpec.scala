package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"
}

object SparkSpec {
  // a fixed width, so test plans do not move with the machine
  lazy val session: SparkSession = GraftSession.build(cores = 4)
}
