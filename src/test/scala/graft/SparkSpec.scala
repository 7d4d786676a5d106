package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base — one SparkSession per test JVM (suites share it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"
  def res(path: String): String =
    getClass.getClassLoader.getResource(path).getPath
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(8)
}
