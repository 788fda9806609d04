package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.sources.LabelStore

/** Incremental cluster maintenance at LABEL-STORE scale — the q140
  * operator's 100 TB evidence (the small-SF oracle proves exactness;
  * this probes the cost claim "the fold is sized by the touched
  * components, never the corpus" against a store three orders of
  * magnitude past the test fixtures):
  *
  *   1. builds a ≥10M-row published label store (components of 4,
  *      min-id labeling, both bucketed layouts);
  *   2. folds a 100k-pair batch that merges pairs of existing
  *      components — the two store semi-joins must surface ONLY the
  *      touched members (8 rows per pair: two 4-member components),
  *      printed as the touched-rows evidence;
  *   3. times the fold steady-state (median-of-5, both the driver
  *      union-find fast path and the forced-distributed star path);
  *   4. A/Bs against the one-shot CC recompute over store ∪ batch the
  *      fold replaces, and checks EXACT equivalence
  *      (updateClusters(cc(E1), E2) ≡ cc(E1 ∪ E2)) via the
  *      (count, n_clusters, Σcluster) signature over all rows.
  *
  * Usage (32g driver — the 10M-row checkpointed frames need it):
  *   SPARK_DRIVER_MEM=32g sbt "runMain graft.tools.LabelProbe [labels] [pairs]"
  * Not part of CI.
  */
object LabelProbe {

  def main(args: Array[String]): Unit = {
    val nLabels = if (args.length > 0) args(0).toLong else 10000000L
    val nPairs = if (args.length > 1) args(1).toLong else 100000L
    require(nPairs * 8 <= nLabels, "pairs must merge existing components")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.session(s"local[$cpus]", cpus.toInt,
      Some(java.nio.file.Files.createTempDirectory("graft-labelprobe").toString))
    import ProbeTiming._

    def summarize(labels: DataFrame): (Long, Long, Long) = {
      val r = labels.agg(count(lit(1)), count_distinct(col("cluster")),
        sum(col("cluster")).cast("decimal(38,0)").cast("string")).head
      (r.getLong(0), r.getLong(1),
        new java.math.BigDecimal(r.getString(2)).longValueExact())
    }

    val store = new LabelStore(spark, idTable = "probe_labels_id",
      clusterTable = "probe_labels_cluster")
    tm(s"build store ($nLabels labels, components of 4, both layouts)") {
      store.append(spark.range(0L, nLabels, 1L, cpus.toInt)
        .select(col("id"), (col("id") - col("id") % 4).as("cluster")))
    }

    // batch: pair k merges components {8k..8k+3} and {8k+4..8k+7} —
    // 2 touched components and 8 touched member rows per pair,
    // disjoint across pairs, deterministic (no RNG)
    val batch = spark.range(0L, nPairs, 1L, cpus.toInt)
      .select((col("id") * 8).as("id_a"), (col("id") * 8 + 4).as("id_b"))
      .localCheckpoint(true)

    // touched-rows evidence: the store reads surface ONLY the touched
    // members, never the corpus — the fold's cost claim, measured
    val ids = batch.select(col("id_a").as("id"))
      .unionByName(batch.select(col("id_b").as("id"))).distinct()
    val current = store.currentFor(ids).localCheckpoint(true)
    val touchedClusters = current.select(col("cluster")).distinct()
    val memberRows = store.membersOf(touchedClusters).count()
    println(s"[probe] store reads: currentFor = ${current.count()} rows " +
      s"(expect ${2 * nPairs}), membersOf = $memberRows rows " +
      s"(expect ${8 * nPairs}) out of a $nLabels-row store")
    assert(current.count() == 2 * nPairs && memberRows == 8 * nPairs,
      "semi-joins must touch exactly the batch's components")

    tmMedian(s"fold $nPairs pairs, driver union-find path", 5) {
      store.fold(batch).count(); ()
    }
    tmMedian(s"fold $nPairs pairs, distributed star path", 3) {
      store.fold(batch, driverEdgeLimit = 0L).count(); ()
    }

    // the recompute the fold replaces: one-shot CC over every store
    // edge (member -> cluster connectivity) plus the batch
    val storeEdges = spark.table("probe_labels_id")
      .select(col("id").as("id_a"), col("cluster").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    var oneShot: DataFrame = null
    tm(s"one-shot CC recompute over store ∪ batch (${nLabels} labels)") {
      oneShot = Dedup.connectedComponents(
        storeEdges.unionByName(batch), driverEdgeLimit = 0L)
        .localCheckpoint(true)
      oneShot.count(); ()
    }

    tm("ingest (fold + append both layouts)") { store.ingest(batch).count(); () }
    val got = summarize(store.loadAll())
    val want = summarize(oneShot)
    println(s"[probe] equivalence: store $got vs one-shot $want")
    assert(got == want,
      s"updateClusters(cc(E1), E2) must equal cc(E1 ∪ E2): $got vs $want")
    println("[probe] LabelProbe OK")
    spark.stop()
  }
}
