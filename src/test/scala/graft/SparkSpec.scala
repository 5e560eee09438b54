package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: the suites run on the session every main
  * builds (`Jobs.session`), so the cartesian interlock and the JIT
  * ceiling are on under test too. The warehouse dir comes from the
  * forked test JVM's `spark.sql.warehouse.dir` (build.sbt).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.jobs.Jobs.session("graft-test")

  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol
}
