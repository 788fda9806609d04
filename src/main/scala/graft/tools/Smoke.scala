package graft.tools

import graft.functions.GraftFunctions

/** Runnable smoke entry: drives the public library surface against the
  * real testdata from the command line. Usage:
  *   sbt "runMain graft.tools.Smoke [sfDir]"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Tables.session("local[4]", 4, appName = "graft-smoke")

    graft.Tables.load(spark, sfDir, "events").createOrReplaceTempView("events")
    println("== graft_reach over events.props (SQL surface) ==")
    spark.sql(
      """SELECT event_id, props, graft_reach(props, '$.k') AS k,
        |       graft_hash_from_data(props) AS cache_hash,
        |       graft_uri_from_url(concat('http://api.test/ev?b=', event_id, '&a=1')) AS uri
        |FROM events ORDER BY event_id LIMIT 5""".stripMargin).show(false)

    println("== reach dotted-key fallback + array explode (DSL surface) ==")
    import spark.implicits._
    val df = Seq(
      ("""{"dotted.key":"another value","results":[{"id":1},{"id":2}]}""", 1)
    ).toDF("json", "n")
    df.select(
      GraftFunctions.reach($"json", "$.dotted.key").as("fallback"),
      GraftFunctions.reachArray($"json", "$.results").as("exploded"),
      GraftFunctions.signatureHash($"json", $"json").as("sig")
    ).show(false)
    spark.stop()
  }
}
