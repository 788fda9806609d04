package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Wall-clock and process-CPU seconds of one timed interval. */
final case class Took(wall: Double, cpu: Double)

/** What one timed pass did. `ops` are the times of the pass's unit
  * operations (a query, a curate step, a grow call); `layers` holds the
  * per-layer numbers a traced pass measured. */
final case class PassResult(
    attempted: Long,
    failed: Long,
    items: Long,
    ops: Seq[Took],
    storedBytes: Double,
    layers: Map[String, Double] = Map.empty)

/** Everything a workload needs from the run. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    work: java.nio.file.Path,
    data: java.nio.file.Path,
    tiny: Boolean,
    corrupt: Boolean,
    tracer: Tracer) {
  def cores: Int = spark.sparkContext.defaultParallelism
}

/** One benchmark workload. [[inputs]] builds the real inputs (the run
  * builds them several times and reports the median); [[warmup]] runs the
  * workload's code paths once, so class loading, code generation and JIT
  * do not land in a timed pass; [[pass]] is one timed closed-loop pass. */
trait Workload {
  def inputs(): Unit
  /** One untimed pass over the real inputs. */
  def warmup(): Unit = { pass(traced = false); () }
  def pass(traced: Boolean): PassResult
  /** Inputs for the `functions.*` kernel timings: a frame with a `text`
    * column and a `json` column holding one JSON object per row. */
  def kernelInput(): DataFrame
}

object Workload {
  /** Noop-sink write: executes every operator of the plan, as the
    * library's query bench does. */
  def run(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def timed[T](body: => T): (T, Took) = {
    val c0 = Jvm.cpuNs()
    val t0 = System.nanoTime()
    val out = body
    (out, Took((System.nanoTime() - t0) / 1e9, (Jvm.cpuNs() - c0) / 1e9))
  }

  /** Files and bytes under a directory tree (0 when absent). */
  def diskUsage(dir: java.nio.file.Path): (Long, Long) = {
    if (!java.nio.file.Files.exists(dir)) return (0L, 0L)
    val stream = java.nio.file.Files.walk(dir)
    try {
      var files = 0L; var bytes = 0L
      stream.filter(p => java.nio.file.Files.isRegularFile(p)).forEach { p =>
        files += 1; bytes += java.nio.file.Files.size(p)
      }
      (files, bytes)
    } finally stream.close()
  }

  def deleteTree(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val stream = java.nio.file.Files.walk(dir)
      try stream.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally stream.close()
    }

  /** Drop persisted blocks created since `before`, so one operation's
    * materializations do not tax the next. */
  def releaseSince(spark: SparkSession, before: collection.Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = false)
    }
}
