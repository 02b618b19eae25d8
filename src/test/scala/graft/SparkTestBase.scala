package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * sessions are expensive; getOrCreate makes suites order-independent). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestBase.session

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
