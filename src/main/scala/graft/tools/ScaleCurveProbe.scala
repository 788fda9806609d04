package graft.tools


/** Scale-curve audit (dev tool, run-once evidence for NOTES): the
  * direct measurement behind the "would this plan survive a 100×
  * scale-up" claim — run the suite's heaviest queries at three scale
  * points (the driver's sf0.01 and sf0.1 plus a synthetic sf1.0 from
  * `tools/gen_scale_data.py`, 10× sf0.1's documents) and report, per
  * query:
  *
  *  - wall time per SF (Bench's full-materialization noop-write
  *    action, min of `reps` runs after a small-SF JIT warmup);
  *  - the LOG-LOG SLOPE over the top decade, log10(t_sf1 / t_sf0.1) —
  *    1.0 is perfectly linear scaling, 2.0 is quadratic; the probe
  *    FAILS (exit 1) on any slope ≥ 2 (a quadratic operator is a
  *    100 TB disqualifier, whatever its sf0.1 time);
  *  - Exchange counts in the initial physical plan per SF; the probe
  *    FAILS on a plan that grows NEW Exchanges at sf1.0 — shuffle
  *    STRUCTURE must be size-independent (sizes may re-tune under
  *    AQE; topology may not).
  *
  * Fixed per-job overhead (scheduling, codegen, the ~0.1-0.4 s floor)
  * dominates the small SFs and DEFLATES the bottom-decade slope, so
  * the verdict uses the top decade only — at 50k docs the real work
  * is large enough to dwarf the floor.
  *
  * Usage: runMain graft.tools.ScaleCurveProbe [sf1Dir] [reps] [q,q,...]
  * (sf1Dir default /tmp/graft_scale/sf1.0 — generate it first). */
object ScaleCurveProbe {

  /** The 12 most expensive suite queries by sf0.1 bench time (all
    * documents-table readers, which is what the synthetic sf1.0
    * provides), plus the round-14 operators (model-score gate and
    * semantic gate: q150/q152 read documents, q149/q151 embeddings —
    * the scoring path's distinct-text dedupe and the gate's bucket
    * join earn the same slope + flat-Exchange gates as the rest of
    * the heavy family). */
  val DefaultQueries: Seq[String] = Seq(
    "q50_deduplicate", "q39_dedup_clusters", "q71_leakage_split",
    "q124_quality_dedup", "q141_soundtrack_neardup", "q78_pagerank",
    "q79_pagerank_dangling", "q91_lsh_audit", "q22_ngram_jaccard",
    "q103_containment", "q138_audio_windowed_neardup", "q47_cjk_curation",
    "q149_embedding_gate", "q150_model_quality_gate", "q151_gate_recall",
    "q152_scored_corpus")

  /** Full-materialization action (Bench's r13 protocol): a noop write
    * executes the whole plan — `.count()` would let Catalyst prune
    * final projections (UDF columns!) and sorts out of the timing. */
  def run(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def countExchanges(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.toString.linesIterator
      .count(l => l.contains("Exchange"))

  def main(args: Array[String]): Unit = {
    val sf1Dir = args.headOption.getOrElse("/tmp/graft_scale/sf1.0")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val queries = args.lift(2)
      .map(_.split(",").toSeq).getOrElse(DefaultQueries)
    val dirs = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1", sf1Dir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val registry = graft.SparkEntry.queries
    var failures = List.empty[String]

    println(f"${"query"}%-28s ${"t_sf0.01"}%9s ${"t_sf0.1"}%9s ${"t_sf1.0"}%9s ${"slope"}%6s  exchanges")
    queries.foreach { name =>
      val fn = registry.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query $name"))
      // JIT/codegen warmup at the smallest SF
      run(fn(spark, dirs.head))
      val exchanges = dirs.map(d => countExchanges(fn(spark, d)))
      val times = dirs.map { d =>
        (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          run(fn(spark, d))
          (System.nanoTime() - t0) / 1e9
        }.min
      }
      val slope = math.log10(times(2) / times(1))
      val exchStr = exchanges.mkString("/")
      println(f"$name%-28s ${times(0)}%9.2f ${times(1)}%9.2f ${times(2)}%9.2f $slope%6.2f  $exchStr")
      if (slope >= 2.0)
        failures ::= s"$name: top-decade slope $slope%.2f >= 2 (quadratic)"
      if (exchanges(2) > exchanges(1))
        failures ::= s"$name: sf1.0 plan grew Exchanges (${exchanges(1)} -> ${exchanges(2)})"
    }
    // ---- Candidate-pair audit of the shingle-blocked pair family ----
    // (q22 ngramJaccardBlocked / q103 containmentPairsBlocked, the two
    // measured super-linear rows): per SF, the GENERATED pair volume
    // with and without the hot-shingle cap, from ONE group-size
    // aggregation. Evidence the cap actually BINDS at scale (dropped
    // groups > 0, uncapped ≫ capped) plus the executable form of the
    // structural bound the 100 TB safety argument rests on: every
    // (doc, shingle) row pairs with at most cap−1 group peers, so
    // capped pairs ≤ rows × cap / 2 — LINEAR in corpus size for a
    // fixed cap, whatever the group-size distribution does.
    locally {
      import org.apache.spark.sql.functions._
      // all three caps come from the SAME derivation the queries use
      // (Dedup.shingleCapForPairBudget: cap = 2·budget → per-row pairs
      // < budget, total ≤ rows × budget): the production budget 500
      // (cap 1000 — the q22/q103 oracle-mirrored number), a
      // partially-binding budget 50 (cap 100 — shows the mechanism
      // engaging at these SFs), and a HARD-binding budget 10 (cap 20 —
      // saturated at every SF here, so its growth exponent must sit on
      // the rows×cap/2 linear ceiling; gated at ≤ 1.2 below)
      val cap = graft.ops.Dedup.shingleCapForPairBudget(500)
      val demoCap = graft.ops.Dedup.shingleCapForPairBudget(50)
      val bindCap = graft.ops.Dedup.shingleCapForPairBudget(10)
      println(f"\n${"candidates"}%-12s ${"docs"}%8s ${"rows"}%10s ${"uncapped"}%13s ${"cap" + cap}%13s ${"cut" + cap}%8s ${"cap" + demoCap}%13s ${"cut" + demoCap}%8s ${"cap" + bindCap}%13s ${"hottest"}%8s")
      val stats = dirs.map { d =>
        val docs = graft.Tables.load(spark, d, "documents")
        val groups = docs
          .select(explode(graft.ops.TextOps.distinctShingles(col("text"), 3)).as("s"))
          .groupBy(col("s")).agg(count(lit(1)).as("sz"))
        // `/` is DOUBLE division in Spark SQL — per-group pair counts
        // need integer DIV to stay Long
        def cappedPairs(c: Int) =
          sum(when(col("sz") <= c, expr("(sz * (sz - 1)) DIV 2")).otherwise(0L))
        val r = groups.agg(
          sum(col("sz")).as("rows"),
          sum(expr("(sz * (sz - 1)) DIV 2")).as("uncapped"),
          cappedPairs(cap).as("capped"),
          count(when(col("sz") > cap, lit(1))).as("cut"),
          cappedPairs(demoCap).as("cappedDemo"),
          count(when(col("sz") > demoCap, lit(1))).as("cutDemo"),
          cappedPairs(bindCap).as("cappedBind"),
          max(col("sz")).as("hottest")).head
        val nDocs = docs.count()
        val (rows, unc, cappedP, cut) = (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))
        val (cappedD, cutD, cappedB, hot) = (r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))
        println(f"${d.split('/').last}%-12s $nDocs%8d $rows%10d $unc%13d $cappedP%13d $cut%8d $cappedD%13d $cutD%8d $cappedB%13d $hot%8d")
        if (cappedP > rows * cap / 2 || cappedD > rows * demoCap / 2 ||
            cappedB > rows * bindCap / 2)
          failures ::= s"$d: capped pairs exceed the rows×cap/2 bound"
        (nDocs, cappedP, cappedD, cappedB)
      }
      val (d1, p1, q1, b1) = stats(1); val (d2, p2, q2, b2) = stats(2)
      def exponent(a: Long, b: Long): Double =
        math.log10(math.max(b, 1L).toDouble / math.max(a, 1L)) /
          math.log10(d2.toDouble / d1)
      val bindExp = exponent(b1, b2)
      println(f"[scale-curve] candidate growth exponent sf0.1→sf1.0: " +
        f"cap=$cap ${exponent(p1, p2)}%.2f, cap=$demoCap ${exponent(q1, q2)}%.2f, " +
        f"cap=$bindCap $bindExp%.2f " +
        f"(1.0 linear; below the cap's binding point density drives the exponent, " +
        f"above it the rows×cap/2 ceiling forces linear)")
      // the GATE the derivation promises: once a budget's cap binds,
      // candidate growth can NEVER run super-linear (uncapped here is
      // 2.01). The exponent may legitimately fall BELOW 1 — groups
      // past the cap are DROPPED, not truncated (a hot shingle carries
      // no near-dup signal), so on this closed-vocabulary synthetic a
      // hard-saturated cap sends pair mass toward zero (measured
      // exponent strongly negative at cap=20) — the exact opposite of
      // the uncapped quadratic, and still bounded by rows×cap/2.
      if (bindExp > 1.2)
        failures ::= f"hard-binding cap=$bindCap grows super-linearly " +
          f"(exponent $bindExp%.2f > 1.2) — the rows×cap/2 ceiling is not holding"
    }

    if (failures.nonEmpty) {
      failures.reverse.foreach(f => System.err.println(s"[scale-curve] FAIL $f"))
      sys.exit(1)
    }
    println("[scale-curve] all queries sub-quadratic with size-independent shuffle topology")
    spark.stop()
  }
}
