package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for DataFrame tests — one JVM-wide session
  * (Spark startup is ~5s; per-suite sessions would dominate test time),
  * built by [[Tuning.session]] like every main, so the suite runs the
  * engine that ships.
  */
object SparkSpec {
  lazy val spark: SparkSession = Tuning.session(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  import scala.language.implicitConversions
}
