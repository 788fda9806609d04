package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload, run closed-loop passes for the
  * requested seconds, check every output, print one JSON result line.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --data <dir> [--trace-out <file>]
  *                [--tiny] [--corrupt] [--record <dir>]
  * }}}
  * `--tiny` shrinks every input (self-test), `--corrupt` perturbs one
  * expected value per check family (self-test), `--record` writes the
  * query outputs and their digests instead of checking them. */
object Main {
  val Workloads = Seq("grow_cold", "grow_warm", "curate", "queries")
  private val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, data: Path, traceOut: Option[Path],
                        tiny: Boolean, corrupt: Boolean, record: Option[Path])

  def parse(args: Array[String]): Opts = {
    val flags = Set("--tiny", "--corrupt")
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      if (flags(args(i))) { kv(args(i)) = "1"; i += 1 }
      else {
        require(i + 1 < args.length, s"missing value for ${args(i)}")
        kv(args(i)) = args(i + 1); i += 2
      }
    }
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val o = Opts(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", Paths.get(get("--work")), Paths.get(get("--data")),
      kv.get("--trace-out").map(Paths.get(_)), kv.contains("--tiny"), kv.contains("--corrupt"),
      kv.get("--record").map(Paths.get(_)))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  /** The session conf of the library's query bench, at one task slot and
    * one shuffle partition per core. */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.buffer.pageSize", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.prepare(spark) // registers the UDF half of the graft_* functions
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def json(metrics: Seq[(String, Double, String)], attempted: Long, failed: Long): String = {
    val ms = metrics.map { case (k, v, u) =>
      val value = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k":{"value":$value,"unit":"$u"}"""
    }
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(o.work)
    val (spark, took) = Workload.timed(session(cores, o.work))
    // the session's CPU time includes the JVM's own start
    try run(o, spark, took.copy(cpu = Jvm.cpuNs() / 1e9))
    finally {
      spark.stop()
      Workload.deleteTree(o.work)
    }
  }

  private def run(o: Opts, spark: SparkSession, session: Took): Unit = {
    val tracer = new Tracer(spark, o.trace)
    val ctx = Ctx(spark, o.seed, o.work.resolve(o.workload), o.data, o.tiny, o.corrupt, tracer)
    val wl: Workload = o.workload match {
      case "grow_cold" => new Grow(ctx, warm = false)
      case "grow_warm" => new Grow(ctx, warm = true)
      case "curate" => new Curate(ctx)
      case "queries" => new Queries(ctx, o.record)
    }

    o.record.foreach { dir =>
      val q = wl.asInstanceOf[Queries]
      Workload.deleteTree(dir)
      val r = q.pass(traced = false)
      val oracles = graft.SparkEntry.oracleSql
      val m = graft.core.PyJson.mapper
      val sql = m.createObjectNode()
      q.recorded.keys.toSeq.sorted.foreach(k => oracles.get(k).foreach(sql.put(k, _)))
      Files.writeString(dir.resolve("oracle_sql.json"), graft.core.PyJson.dumps(sql))
      val dg = m.createObjectNode()
      q.recorded.toSeq.sortBy(_._1).foreach { case (k, v) => dg.put(k, v) }
      Files.writeString(dir.resolve("digests.json"), graft.core.PyJson.dumps(dg))
      System.err.println(s"[perfbench] recorded ${q.recorded.size} outputs, ${r.failed} failed")
      return
    }

    // Set-up: session start, the median of several builds of the
    // workload's inputs, and one warm-up pass.
    val inputReps = (1 to SetupReps).map(_ => Workload.timed(wl.inputs())._2)
    val warmup = Workload.timed(wl.warmup())._2
    def show(t: Took) = f"${t.wall}%.2f s (cpu ${t.cpu}%.2f s)"
    System.err.println(s"[perfbench] session ${show(session)}, warm-up ${show(warmup)}, " +
      s"inputs ${inputReps.map(show).mkString(", ")}")
    val setup = Took(session.wall + warmup.wall + median(inputReps.map(_.wall)),
      session.cpu + warmup.cpu + median(inputReps.map(_.cpu)))

    final case class Timed(r: PassResult, took: Took, jit: Double, layers: Map[String, Double]) {
      def wall: Double = took.wall
    }
    def timedPass(traced: Boolean): Timed = {
      val jit0 = Jvm.jitCpuNs()
      val gc0 = Jvm.gcMs()
      Jvm.resetHeapPeak()
      val w0 = tracer.work()
      val (r, took) = Workload.timed(tracer.span("pass")(wl.pass(traced)))
      val wall = took.wall
      val jit = (Jvm.jitCpuNs() - jit0) / 1e9
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          val w = tracer.work() - w0
          val taskRunS = w.taskRunNs / 1e9
          val d = w.taskDurationsMs.map(_.toDouble)
          r.layers ++ Map(
            "spark.jobs" -> w.jobs.toDouble,
            "spark.stages" -> w.stages.toDouble,
            "spark.tasks" -> w.tasks.toDouble,
            "spark.task_run_s" -> taskRunS,
            "spark.task_cpu_s" -> w.taskCpuNs / 1e9,
            "spark.utilization" -> taskRunS / (wall * ctx.cores),
            "spark.shuffle_write_mb" -> w.shuffleWriteBytes / 1048576.0,
            "spark.shuffle_read_mb" -> w.shuffleReadBytes / 1048576.0,
            "spark.spill_mb" -> w.spillBytes / 1048576.0,
            "spark.task_p50_ms" -> median(d),
            "spark.task_max_ms" -> d.maxOption.getOrElse(0.0),
            "spark.materializations" -> w.persistedRdds.size.toDouble,
            "driver.gc_s" -> (Jvm.gcMs() - gc0) / 1e3,
            "driver.jit_cpu_s" -> jit,
            "driver.heap_peak_mb" -> Jvm.heapPeakMb())
        }
      Timed(r, took, jit, layers)
    }

    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val plain = mutable.ArrayBuffer.empty[Timed]
    val traced = mutable.ArrayBuffer.empty[Timed]
    // A traced run spends the first half of its time untraced and the
    // second half traced; the difference of the two is the overhead.
    val plainUntil = if (o.trace) o.seconds / 2.0 else o.seconds.toDouble
    do plain += timedPass(traced = false) while (elapsed < plainUntil)
    if (o.trace) do traced += timedPass(traced = true) while (elapsed < o.seconds)
    System.err.println(s"[perfbench] passes ${(plain ++ traced)
      .map(t => f"${show(t.took)} jit ${t.jit}%.2f s").mkString(", ")}")

    val all = plain ++ traced
    val attempted = all.map(_.r.attempted).sum
    val failed = all.map(_.r.failed).sum
    val runS = median(plain.map(_.wall).toSeq)
    val ops = plain.flatMap(_.r.ops).toSeq
    // Wall-clock figures of the untraced passes. On a shared host they move
    // with the CPU time the host steals, so the gated end-to-end figures
    // are CPU seconds and these are reported with the per-layer metrics.
    val wallFigures = Map(
      "wall.setup_s" -> setup.wall,
      "wall.run_s" -> runS,
      "wall.docs_per_s" -> median(plain.map(t => t.r.items / t.wall).toSeq),
      "wall.query_p50_s" -> quantile(ops.map(_.wall), 0.5),
      "wall.query_p75_s" -> quantile(ops.map(_.wall), 0.75))
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setup.cpu, "s"),
        ("run_cpu_s", median(plain.map(_.took.cpu).toSeq), "s"),
        ("docs_per_cpu_s", median(plain.map(t => t.r.items / t.took.cpu).toSeq), "docs/s"),
        ("query_p50_cpu_s", quantile(ops.map(_.cpu), 0.5), "s"),
        ("query_p75_cpu_s", quantile(ops.map(_.cpu), 0.75), "s"),
        ("ok_share", (attempted - failed).toDouble / attempted, "ratio"),
        ("stored_bytes_per_doc", median(plain.map(_.r.storedBytes).toSeq), "B/doc"))
      else {
        val kernels = Kernels.time(wl.kernelInput()).toMap
        Layers.All.map { case (k, u) =>
          val v =
            if (k == "trace.overhead_s") median(traced.map(_.wall).toSeq) - runS
            else if (k == "driver.rss_peak_mb") Jvm.rssPeakMb()
            else wallFigures.getOrElse(k,
              kernels.getOrElse(k, median(traced.flatMap(_.layers.get(k)).toSeq)))
          (k, v, u)
        }
      }
    o.traceOut.foreach(tracer.write)
    println(json(metrics, attempted, failed))
  }
}

/** Every per-layer metric a traced run prints, with its unit. Metrics of
  * a layer that a workload does not reach read 0. */
object Layers {
  private val steps = Seq("exact_groups", "lsh_cc", "ngram_jaccard", "simhash", "gopher_langid",
    "scrub_pii", "decontaminate", "chunk", "domain_cap")

  val All: Seq[(String, String)] =
    Seq("wall.setup_s" -> "s", "wall.run_s" -> "s", "wall.docs_per_s" -> "docs/s",
      "wall.query_p50_s" -> "s", "wall.query_p75_s" -> "s",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.utilization" -> "ratio",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
      "spark.task_p50_ms" -> "ms", "spark.task_max_ms" -> "ms", "spark.materializations" -> "count",
      "driver.gc_s" -> "s", "driver.jit_cpu_s" -> "s", "driver.heap_peak_mb" -> "MB",
      "driver.rss_peak_mb" -> "MB",
      "pipeline.grow_s" -> "s", "pipeline.seed_s" -> "s", "pipeline.seed_jobs" -> "count",
      "pipeline.seed_tasks" -> "count", "pipeline.merge_write_s" -> "s",
      "pipeline.store_files" -> "count", "pipeline.store_mb" -> "MB",
      "sources.api_page_calls" -> "count", "sources.api_detail_calls" -> "count",
      "sources.api_busy_s" -> "s", "sources.api_inflight_max" -> "count",
      "sources.cache_fetch_s" -> "s", "sources.cache_hit_ratio" -> "ratio",
      "sources.cache_mb" -> "MB", "sources.cache_files" -> "count") ++
    steps.flatMap(s => Seq(s"ops.${s}_s" -> "s", s"ops.${s}_tasks" -> "count",
      s"ops.${s}_shuffle_mb" -> "MB")) ++
    Seq("ops.lsh_candidates_s" -> "s", "ops.lsh_candidate_pairs" -> "count",
      "ops.lsh_useful_ratio" -> "ratio", "ops.cc_survivors" -> "count") ++
    Kernels.Exprs.map(_._1 -> "ns/row") ++
    Queries.Modules.flatMap(m => Seq(s"queries.${m}_s" -> "s", s"queries.${m}_tasks" -> "count")) ++
    Seq("queries.jobs_per_query" -> "count", "queries.materializations_per_query" -> "count",
      "trace.overhead_s" -> "s")
}
