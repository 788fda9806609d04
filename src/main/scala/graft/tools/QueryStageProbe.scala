package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Generic per-stage budget probe for any registered query (the r15
  * optimization round's measuring stick — guide §1/§7.1 empirical
  * loop without a UI): runs the query under the Bench session conf,
  * warm pass at sf0.001 to absorb codegen, then one timed pass at the
  * target SF with a stage listener printing per-stage wall, task
  * count, I/O and CPU — the evidence for "which stage owns the
  * seconds" claims in OPTIMIZATION_r15.md.
  *
  * Usage: runMain graft.tools.QueryStageProbe <query> [sfDir]
  */
object QueryStageProbe {
  def main(args: Array[String]): Unit = {
    val q = args(0)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var verbose = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        for (s <- info.submissionTime; e <- info.completionTime) {
          if (verbose) {
            val tm = info.taskMetrics
            println(f"[stage] ${info.stageId}%4d ${e - s}%6d ms " +
              f"tasks ${info.numTasks}%3d  in ${tm.inputMetrics.recordsRead}%9d " +
              f"shRead ${tm.shuffleReadMetrics.recordsRead}%9d " +
              f"shWrite ${tm.shuffleWriteMetrics.recordsWritten}%9d " +
              f"cpu ${tm.executorCpuTime / 1000000}%6d ms " +
              f"name ${info.name.take(60)}")
          }
        }
      }
    })
    def run(d: String): Unit =
      graft.SparkEntry.queries(q)(spark, d)
        .write.mode("overwrite").format("noop").save()
    run("/root/testdata/sf0.001") // warm: codegen + JIT
    run(dir)                      // second warm at target SF (JIT depth)
    Thread.sleep(200)
    verbose = true
    val t0 = System.nanoTime()
    run(dir)
    val dt = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300)
    println(f"[total] $q $dt%.3f s at $dir")
    spark.stop()
  }
}
