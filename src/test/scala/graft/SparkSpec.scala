package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suites run
  * sequentially in the forked test JVM; never stopped so late suites
  * don't race a shutdown).
  */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("graft-test", cpus = 4)
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.session
}
