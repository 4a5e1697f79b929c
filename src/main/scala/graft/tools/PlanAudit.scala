package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dump formatted physical plans for the headline queries so the
  * scale-readiness properties can be audited: broadcast joins on dims,
  * PushedFilters/ReadSchema on scans, partial aggregation, WSCG spans.
  *
  *   sbt "runMain graft.tools.PlanAudit [sfDir] [query...]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else graft.Bench.headline
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val queries = SparkEntry.queries
    names.foreach { name =>
      queries.get(name).foreach { fn =>
        println(s"\n================ $name ================")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"ERR: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
