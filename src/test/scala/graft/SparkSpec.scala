package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  val SfDir = SparkSpec.SfDir

  private var tempRoot: Path = _

  /** A fresh scratch directory under this suite's temp root, which
    * `afterAll` deletes with everything in it. */
  def tempDir(prefix: String): Path = {
    val root = synchronized {
      if (tempRoot == null)
        tempRoot = Files.createTempDirectory(s"graft-spec-${getClass.getSimpleName}-")
      tempRoot
    }
    Files.createTempDirectory(root, prefix)
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      if (tempRoot != null) org.apache.commons.io.FileUtils.deleteQuietly(tempRoot.toFile)
    }
}

object SparkSpec {
  val SfDir = "/root/testdata/sf0.001"

  /** The mains' session policy ([[GraftSession.local]]) on 4 cores, sized
    * by the sf0.001 fixture: 4 shuffle partitions. */
  lazy val session: SparkSession = GraftSession.local(4, SfDir)
}
