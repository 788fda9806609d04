package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.session(s"local[$cpus]", cpus.toInt)
    // Warmup: absorb session/codegen/JIT/parquet-footer costs outside
    // timings by running every query shape once at the smallest SF —
    // the measured numbers then reflect the workload, not Janino
    // compilation of each query's generated code.
    // Dev knob: SPARK_GRAFT_ONLY="q65_corpus_prep,q26_embed_neardup"
    // restricts the run to the named queries (A/B iteration); unset =
    // the full registered suite (what the driver measures). One
    // definition shared with Verify (SparkEntry.pickedQueries).
    val picked = SparkEntry.pickedQueries
    val warmDir = "/root/testdata/sf0.001"
    // FULL-materialization action, shared by warmup and the timed
    // reps: a noop-format write executes every operator in the plan.
    // `.count()` (the pre-r13 action) let Catalyst PRUNE work that
    // does not affect the row count — the final projection (including
    // UDF columns: q146's whole DOM parse vanished) and the output
    // sort — while the DuckDB side always materializes full results
    // (fetchall). Measuring less work than the oracle pays is a
    // fairness bug, not a win; timings from r13 on include the
    // projection and sort like-for-like.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    picked.foreach { case (_, fn) =>
      try run(fn(spark, warmDir)) catch { case _: Throwable => }
    }
    // Drop warmup residue before timing: operator-internal caches (e.g.
    // the simhash signature frame) and checkpoint blocks from the warm
    // pass otherwise linger into the timed pass and spam "Block already
    // exists" warnings while double-counting memory.
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
    // Host calibration: the weak rule's 1 s floor assumes a quiet host.
    // A loaded shared VM inflates fixed scheduling/CPU overhead 2-3x and
    // manufactures weak rows out of sub-second queries (the r7 and r8
    // driver runs both flagged 0.2-0.9 s queries that quiet-host reruns
    // cleared). Measure a fixed two-stage calibration job — shuffle +
    // aggregation over generated rows: pure scheduling + CPU, no IO, no
    // testdata dependence — against its pinned quiet-host time and scale
    // the floor by the inflation, capped at x3 so a genuine 2x
    // regression on a quiet host still flags. The factor is recorded in
    // the output JSON so a scaled floor is auditable, never silent.
    def calibrationRun(): Double = {
      val t0 = System.nanoTime()
      // the per-row product stays < 2^63 and the post-modulo sum is
      // ~4e9 per group — in range under ANSI and non-ANSI alike (a
      // raw sum(v * mix) overflowed Long per group: garbage silently,
      // or an abort before any query under ANSI)
      spark.range(4000000L).selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.expr("sum((v * 2654435761) % 1000003) AS s"))
        .agg(org.apache.spark.sql.functions.expr("count(1)")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibrationRun() // absorb codegen of the calibration shape itself
    val calMeasured = (1 to 3).map(_ => calibrationRun()).min
    // pinned quiet-host minimum for this exact job. Re-pinned in r14:
    // the r9 pin (0.40, min 0.39-0.50 over 4 runs) went stale-high —
    // five quiet-window r14 runs measured 0.22-0.30 (JIT/host drift),
    // so a deliberately LOADED run still read factor 1.0 and the floor
    // never scaled (measured: 16 CPU spinners inflate 0.5-1.5 s rows
    // 1.3-1.7x while the probe read 0.39 → "quiet"). 0.24 is the
    // r14 quiet-median; a stale-LOW pin only ever raises the floor
    // toward the 3x cap, never hides a real regression (the ratio
    // rule is load-independent either way).
    val calRef = 0.24
    val calFactor = math.max(1.0, math.min(3.0, calMeasured / calRef))
    val weakFloor = 1.0 * calFactor
    // Each query runs SPARK_GRAFT_REPS times (default 2) and reports
    // the MINIMUM — the steady-state number. A shared-host VM jitters
    // individual runs ±30%; the min of two runs measures the engine,
    // not the neighbor. (The warmup pass above already absorbed
    // codegen/JIT, so rep 1 vs rep 2 differ only by noise.)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    // Reference DuckDB timings are needed DURING the run now (the
    // noise-immunity retry below consults them), not only for the
    // final weak computation.
    val sfName = new java.io.File(sfDir).getName
    val refPath = sys.env.getOrElse("SPARK_GRAFT_DUCKDB_REF",
      s"bench_ref/duckdb_$sfName.json")
    val duckTimes: Map[String, Double] =
      try {
        val text = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(refPath)), "UTF-8")
        val timesBlock = text.substring(text.indexOf("\"times\""))
        """"([^"]+)":\s*(-?[0-9][0-9.eE+-]*)""".r
          .findAllMatchIn(timesBlock)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter(_._2 > 0)
          .toMap
      } catch { case _: Exception => Map.empty }
    // A query that throws is a FAILED query, not a fast one: its row in
    // "queries" is -1, it is excluded from "value" (total), and its name
    // lands in "failed" — a correctness regression must never improve
    // the bench (the q61/TIMESTAMP_NTZ lesson: a 4 ms time-to-throw
    // once masqueraded as the suite's fastest result).
    val runs = picked.toSeq.sortBy(_._1).map { case (name, fn) =>
      var ok = true
      // Scope the between-query cleanup (below) to RDDs THIS query
      // creates: unpersisting everything would also drop lineage-
      // truncated localCheckpoints a future query might legitimately
      // hold across reps (today none do, but the blast radius of a
      // keyset diff is zero).
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      def rep(): Option[Double] =
        // no reps after a failure: ok can never recover, and a query
        // that runs minutes before throwing would pay that again per rep
        if (!ok) None
        else {
          val t0 = System.nanoTime()
          try { run(fn(spark, sfDir)) } catch { case e: Throwable =>
            ok = false
            System.err.println(s"[bench] $name FAILED: ${e.toString.take(300)}")
          }
          Some((System.nanoTime() - t0) / 1e9)
        }
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      (1 to reps).foreach(_ => rep().foreach(times += _))
      // Noise immunity (the r7 lesson: a loaded shared host inflated
      // six 0.01–0.9 s queries past the 1 s / 2× weak line in a 2-rep
      // run; quiet-host reruns flagged none): a row about to be
      // flagged weak earns up to 2 extra reps — ONE clean rep clears
      // it, because weak-by-noise requires EVERY rep to be unlucky
      // while weak-by-regression survives any number. Bounded cost:
      // only would-be-weak rows pay, and they are ≤ a few seconds by
      // construction or they deserve the reps.
      def wouldBeWeak: Boolean = ok && times.nonEmpty && {
        val t = times.min
        t >= weakFloor && duckTimes.get(name).exists(d => t > 2 * d)
      }
      var extra = 0
      while (wouldBeWeak && extra < 2) { rep().foreach(times += _); extra += 1 }
      // Drop checkpoint/cache residue BETWEEN queries (r15, same
      // hygiene as the post-warmup cleanup above): operator-internal
      // localCheckpoints (the q91 signature frame, q141's hash-frame
      // sides) otherwise linger until driver GC and tax the NEXT
      // query's reps — measured: q142 read 0.27 -> 1.34 s purely from
      // running after q141's checkpoints landed. Timing is unaffected
      // for the query itself (cleanup runs after its last rep).
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) =>
          if (!rddsBefore.contains(id)) rdd.unpersist(blocking = false)
        }
      (name, if (ok) times.min else -1.0, ok)
    }
    val failed = runs.collect { case (name, _, false) => name }
    val results = runs.map { case (name, t, _) => name -> t }.toMap
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // Reference DuckDB timings (tools/duckdb_times.py, checked in per SF)
    // make "weak row" a computed column instead of a judgment call: a
    // query is weak when Spark is BOTH >=1 s AND >2x the DuckDB oracle on
    // the same parquet at the same SF. The ref file's "times" object is a
    // flat {"name": seconds} map we wrote ourselves — a regex parse is
    // exact for that shape, and no JSON library rides the runtime jar.
    // (duckTimes itself is parsed above, before the runs — the
    // noise-immunity retry consults it.)
    val duckJson = duckTimes.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val weak = results.toSeq.sortBy(_._1).collect {
      case (k, v) if v >= weakFloor && duckTimes.get(k).exists(d => v > 2 * d) => k
    }
    val weakJson = weak.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // like-for-like: the DuckDB comparison total spans only queries that
    // actually ran on the Spark side (failed ones are in neither total)
    val duckTotal = duckTimes.filter { case (k, _) => results.get(k).exists(_ >= 0) }.values.sum
    val calJson = f"""{"measured":$calMeasured%.4f,"ref":$calRef,""" +
      f""""factor":$calFactor%.3f,"weak_floor":$weakFloor%.3f}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""duckdb":$duckJson,"duckdb_total":$duckTotal,"weak":$weakJson,""" +
        s""""calibration":$calJson,"failed":$failedJson,"sf":"$sfDir"}"""
    // The JSON must survive sbt/log4j noise and tail truncation: write
    // it to a file AND print it as the absolute last line, after
    // spark.stop() has flushed every executor/log line that could
    // otherwise interleave with (or displace) the one machine-readable
    // line of output.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"bench: could not write $outPath: $e")
    }
    spark.stop()
    println(json)
    // The full line above is now long enough (129 queries × two
    // per-query maps) that a tail-truncating log collector keeps only
    // its end — r9's driver artifact lost the Spark totals that way.
    // So the VERDICT numbers also go out as a compact line printed
    // absolutely LAST: any tail window that survives at all carries
    // the totals, the weak/failed lists and the calibration factor.
    // Per-query Spark seconds as their own COMPACT line (r16, VERDICT
    // item 1): the full line above runs ~10 KB (two 152-entry maps at
    // full precision) and the driver's artifact keeps only a ~4 KB
    // tail, so every PERF_r*.json back to r12 lost the per-query
    // numbers (per_query: {}, geomean null). This line carries ONLY
    // the 152 name→seconds pairs at 1 ms resolution (~3.8 KB), printed
    // immediately before the summary so any surviving tail window
    // carries per-query data. Purely an additional output — the timed
    // region, reps protocol and the full JSON's keys are unchanged.
    val sparkTimesJson = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + (math.rint(v * 1000) / 1000) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"spark_times","queries":$sparkTimesJson}""")
    val ratio = if (duckTotal > 0) total / duckTotal else -1.0
    println(f"""{"metric":"summary","spark_total":$total%.4f,""" +
      f""""duckdb_total":$duckTotal%.4f,"ratio":$ratio%.4f,""" +
      s""""n_queries":${results.size},"weak":$weakJson,""" +
      s""""failed":$failedJson,"calibration":$calJson,"sf":"$sfDir"}""")
  }
}
