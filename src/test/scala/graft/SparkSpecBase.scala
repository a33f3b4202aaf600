package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. One JVM-wide session (getOrCreate)
  * keeps the suite fast; tests must not mutate global session state.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  lazy val sf: String = "/root/testdata/sf0.001"
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = GraftSession.local(4, Seq("spark.app.name" -> "graft-test"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
