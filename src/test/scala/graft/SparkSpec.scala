package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  val SfDir = SparkSpec.SfDir
}

object SparkSpec {
  val SfDir = "/root/testdata/sf0.001"

  /** The mains' session policy ([[GraftSession.local]]) on 4 cores, sized
    * by the sf0.001 fixture: 4 shuffle partitions. */
  lazy val session: SparkSession = GraftSession.local(4, SfDir)
}
