package graft

import java.nio.file.{Files, Paths}

import scala.util.Failure
import scala.util.control.NonFatal

import org.apache.spark.sql.execution.FormattedMode

/** Dumps `.explain("formatted")` of the selected queries to
  * plans/<tag>/, over the fixtures Bench stages. Per-query timings and
  * executor counters come from `graft.Bench [q1,q2,…]`.
  *
  * Usage: runMain graft.PlanDump <tag> [q1,q2,…|all]
  * Env: SPARK_GRAFT_SF_DIR (same contract as Bench).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <tag> [q1,q2,…|all]")
    val queries = Bench.select(args.lift(1))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-plandump")
    graft.queries.Lakehouse.stageLakehouseExports(spark, sfDir).foreach {
      case (k, (Failure(e), _)) => System.err.println(s"$k: $e")
      case _ =>
    }
    val outDir = Paths.get(s"plans/${args(0)}")
    Files.createDirectories(outDir)
    queries.foreach { case (name, fn) =>
      try Files.writeString(outDir.resolve(s"$name.txt"),
        fn(spark, sfDir).queryExecution.explainString(FormattedMode))
      catch { case NonFatal(e) => System.err.println(s"plan $name: $e") }
    }
    println(s"plans written to $outDir")
    spark.stop()
  }
}
