package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The published CLUSTER-LABEL log — the persistence layer under
  * incremental cluster maintenance ([[graft.ops.Dedup.updateClusters]],
  * q140): an append-only (id, cluster) log whose reads resolve by
  * MIN-PER-ID, stored twice — bucketed by id (the "what is this doc's
  * cluster?" probe) and by cluster (the "who is in this cluster?"
  * member pull) — so both of the fold's semi-joins consume an on-disk
  * layout co-located with their key, the [[SplitBandIndexStore]]
  * two-table doctrine.
  *
  * Why min-per-id is THE read resolution (not last-writer-wins, which
  * would need a sequence column): under pure pair addition components
  * only MERGE, and cluster ids are member minima — so a doc's label
  * can only ever decrease, and the smallest label ever written for an
  * id is its current one. The same monotonicity makes stale rows
  * harmless to the member pull: a dead cluster id (one whose component
  * merged into a smaller min) can never be a live cluster id again
  * (its doc now shares a component with a smaller id forever), so a
  * semi-join on LIVE cluster ids touches only current rows.
  *
  * Contract: labels enter exclusively through [[ingest]]/[[append]]
  * with min-id cluster labels (what every CC here emits); hand-written
  * cluster keys break both arguments above. Retention/unlinking docs
  * is deliberately NOT an append — removing a member can SPLIT a
  * component and can remove the min id itself, so labels may
  * INCREASE, which the min-per-id read cannot express. Compute the
  * touched components' new labeling with
  * [[graft.ops.Dedup.removeMembers]] (q144) and publish it as a
  * [[compact]]-style rewrite of the store. */
class LabelStore(spark: SparkSession,
                 val idTable: String = "graft_labels_by_id",
                 val clusterTable: String = "graft_labels_by_cluster",
                 buckets: Int = 32) {
  import org.apache.spark.sql.functions._

  def exists: Boolean = spark.catalog.tableExists(idTable)

  private def emptyLabels: DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType(Seq(StructField("id", LongType), StructField("cluster", LongType))))
  }

  /** Every doc's CURRENT label — min per id over the log. Corpus-sized;
    * audits and compaction only, never the per-batch path. */
  def loadAll(): DataFrame =
    if (!exists) emptyLabels
    else spark.table(idTable).groupBy(col("id"))
      .agg(min(col("cluster")).as("cluster"))

  /** Current labels of the given ids — semi-join on the id-bucketed
    * log (co-located), then min per id. Batch-sized. */
  def currentFor(ids: DataFrame): DataFrame =
    if (!exists) emptyLabels
    else spark.table(idTable)
      .join(ids.select(col("id")), Seq("id"), "left_semi")
      .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))

  /** Members of the given LIVE clusters — semi-join on the
    * cluster-bucketed log (co-located). Monotonicity makes every
    * matching row current (see class doc); duplicates collapse.
    * Touched-components-sized. Guarded on ITS table: a crash between
    * the two appends of the very first batch must not leave a store
    * that throws on every replay. */
  def membersOf(clusters: DataFrame): DataFrame =
    if (!spark.catalog.tableExists(clusterTable)) emptyLabels
    else spark.table(clusterTable)
      .join(clusters.select(col("cluster")), Seq("cluster"), "left_semi")
      .select(col("id"), col("cluster")).distinct()

  /** Append relabeled rows to BOTH layouts (batch-sized files) —
    * CLUSTER layout FIRST, deliberately: a crash between the two
    * appends then leaves the cluster layout AHEAD of the id layout,
    * which the monotonicity argument makes harmless (the replay's
    * member pull sees extra rows whose smaller cluster keys are either
    * live — true connectivity — or die like any other), whereas the
    * reverse order can permanently lose a co-member from the member
    * pull: currentFor would already see the merged label, so the dead
    * old cluster's rows stop matching and a member that is not a pair
    * endpoint never gets its cluster-layout row written. */
  def append(labels: DataFrame): Unit = {
    val rows = labels.select(col("id").cast("long").as("id"),
      col("cluster").cast("long").as("cluster"))
    Bucketed.appendAligned(spark, rows, clusterTable, Seq("cluster"), buckets,
      sortCols = Seq("cluster"))
    Bucketed.appendAligned(spark, rows, idTable, Seq("id"), buckets,
      sortCols = Seq("id"))
  }

  /** Fold a batch of pairs into the published labeling WITHOUT writing:
    * the store-backed [[graft.ops.Dedup.updateClusters]] — current
    * labels of touched ids (id-bucketed probe), members of their live
    * clusters (cluster-bucketed pull) as member→cluster edges, CC over
    * new pairs + member edges. Returns the relabeled rows: every
    * member of a touched component plus every new id. Cost bounds by
    * the touched components, never the corpus. */
  def fold(newPairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
           maxIterations: Int = 20, driverEdgeLimit: Long = 1000000L): DataFrame = {
    // a torn removal leaves layouts that DISAGREE (labels may have
    // increased in one but not the other) — folding over that state
    // can permanently strand a co-member, so refuse until healed
    if (removalPending) throw new IllegalStateException(
      s"unfinished member removal on $idTable: re-run " +
        "removeMembers(pendingRemovalIds, pairsAmong) to heal, then retry")
    graft.ops.Dedup.foldPairsIntoLabels(
      newPairs.select(col(idA).cast("long").as("id_a"),
        col(idB).cast("long").as("id_b")),
      currentFor, membersOf,
      maxIterations, driverEdgeLimit)._1
  }

  /** The full maintenance round: fold, then append. Relabels
    * materialize BEFORE the append (the gate-family replay contract);
    * a crash-replay of the same batch reproduces identical labels —
    * merges are idempotent and min-per-id reads absorb the duplicate
    * rows. */
  def ingest(newPairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
             maxIterations: Int = 20, driverEdgeLimit: Long = 1000000L): DataFrame = {
    val relabeled = fold(newPairs, idA, idB, maxIterations, driverEdgeLimit)
      .localCheckpoint(true)
    append(relabeled)
    relabeled
  }

  /** Rewrite both layouts to one CURRENT row per id (min-per-id), one
    * sorted file per bucket — the append log's compaction. The null
    * `ts` column appendAligned stamps fresh tables with is preserved
    * (dropping it would flip the store to the legacy ts-less schema,
    * making later stamped publishes refuse — the compactRewrite
    * convention). */
  def compact(): Unit = {
    if (!exists) return
    // same refusal as fold/ingest: compact recomputes from the id
    // layout's min-per-id read, which happens to be safe over today's
    // torn shapes, but that safety is an accident of publishRewrite's
    // current write order — a label-preserving rewrite racing an
    // unfinished label-CHANGING one is exactly the ambiguity the
    // pending marker exists to freeze, so hold the line here too
    if (removalPending) throw new IllegalStateException(
      s"unfinished member removal on $idTable: re-run " +
        "removeMembers(pendingRemovalIds, pairsAmong) to heal, then retry")
    publishRewrite(loadAll())
  }

  /** THE rewrite publish shared by [[compact]] and [[removeMembers]]
    * — one definition of the ts-column convention, bucket/sort spec,
    * id-first write order and baseline maintenance, so the two
    * "compact-shape rewrites" the docs equate cannot drift apart. */
  private def publishRewrite(labels: DataFrame): Unit = {
    val kept = labels.withColumn("ts", lit(null).cast("long"))
      .localCheckpoint(true)
    // the checkpoint makes this count a block-metadata read — capture
    // the post-rewrite row count as the auto-compaction baseline
    compactBaseline = kept.count()
    Bucketed.writeKeys(kept.repartition(buckets, col("id")),
      idTable, Seq("id"), buckets, sortCols = Seq("id"))
    Bucketed.writeKeys(kept.repartition(buckets, col("cluster")),
      clusterTable, Seq("cluster"), buckets, sortCols = Seq("cluster"))
  }

  /** MEMBER REMOVAL — the one maintenance operation the append log
    * cannot express (a removed member can split its component and can
    * be the min id its cluster is named after, so labels may INCREASE
    * — see the class doc): compute the new labeling with
    * [[graft.ops.Dedup.removeMembers]] over the store's CURRENT
    * labels (touched components relabeled from `pairsAmong` survivors,
    * untouched rows carried as-is, removed ids ABSENT), then publish
    * it as a full [[compact]]-shape rewrite of both layouts.
    * Corpus-sized like [[compact]]: removal is a batch/compliance
    * decision, not a per-micro-batch path. Returns the published
    * labeling.
    *
    * Crash contract: unlike [[append]] (cluster-first order provably
    * safe) and [[compact]] (label-preserving, so either torn half is
    * consistent), a label-CHANGING rewrite has no safe write order —
    * a crash between the two table writes leaves layouts that
    * disagree, and a fold over that state can permanently strand a
    * co-member. So removal brackets the rewrite with a PENDING MARKER
    * (a third table holding the removed ids): [[ingest]]/[[fold]]
    * refuse while it exists, and re-running removeMembers with
    * [[pendingRemovalIds]] HEALS every torn shape — whichever layout
    * survived, the recompute runs off the id layout's min-per-id read
    * and republishes both layouts consistently (removed ids are
    * either still present → same recompute, or already gone → a pure
    * re-publish of current labels). */
  def removeMembers(removedIds: DataFrame,
                    pairsAmong: DataFrame => DataFrame,
                    maxIterations: Int = 20,
                    driverEdgeLimit: Long = 1000000L): DataFrame = {
    if (!exists) return emptyLabels
    // a crashed earlier removal left a pending marker — its ids are
    // still (possibly) present in the layouts. UNION them into this
    // removal instead of overwriting the marker: overwriting would
    // heal the layouts for THIS removal while silently resurrecting
    // the crashed one's members forever (the marker is the only
    // record they were ever taken down). The recompute is a superset
    // heal — already-removed ids subtract to a no-op.
    val requested =
      if (removalPending)
        removedIds.select(removedIds.columns.head).toDF("id")
          .unionByName(pendingRemovalIds.select(
            pendingRemovalIds.columns.head).toDF("id"))
          .distinct()
      else removedIds
    val rem = requested.localCheckpoint(true)
    // marker FIRST: a crash anywhere after this line leaves the store
    // refusing maintenance until the removal is re-run to completion
    rem.write.mode("overwrite").saveAsTable(pendingTable)
    val current = loadAll().localCheckpoint(true)
    val newLabels = graft.ops.Dedup.removeMembers(current, rem,
        pairsAmong, maxIterations = maxIterations,
        driverEdgeLimit = driverEdgeLimit)
      .localCheckpoint(true)
    publishRewrite(newLabels)
    spark.sql(s"DROP TABLE IF EXISTS $pendingTable")
    newLabels
  }

  /** The pending-removal marker table ([[removeMembers]]' crash
    * bracket). */
  def pendingTable: String = idTable + "_removal_pending"

  /** Whether a [[removeMembers]] crashed mid-rewrite — maintenance
    * refuses until the removal is re-run with [[pendingRemovalIds]]. */
  def removalPending: Boolean = spark.catalog.tableExists(pendingTable)

  /** The removed ids of an unfinished [[removeMembers]], for the
    * healing re-run. */
  def pendingRemovalIds: DataFrame = spark.table(pendingTable)

  // ---- auto-compaction (the streaming sink's release valve) ---------
  // Ids only ever MERGE here (the class doc's monotonicity), so the
  // current-row count at the last compaction is a LOWER bound on the
  // current-row count now — `log > ratio × baseline` therefore implies
  // the log genuinely outgrew its current rows, the LSM trigger shape.
  private var compactBaseline: Long = -1L // -1: not measured yet

  /** Compact when the append log outgrew its current rows by `ratio` —
    * the [[graft.streaming.Streaming.clusterMaintenanceSink]] release
    * valve (the BandStore horizon-knob pattern with a growth ratio in
    * place of a time horizon). Per call: one columnless count of the
    * id-layout log (parquet-footer cheap); the current-row baseline is
    * measured once per handle (fresh handles over an existing store)
    * and thereafter maintained by [[compact]] itself, so steady-state
    * batches never pay an aggregation scan. `floor` suppresses churn
    * while the store is small (a tiny store compacts in microseconds
    * but each rewrite still costs two table commits). Returns whether
    * a compaction ran. */
  def maybeCompact(ratio: Double = 4.0, floor: Long = 1000000L): Boolean = {
    require(ratio > 1.0, s"ratio must exceed 1 (log/current), got $ratio")
    if (!exists) return false
    // auto-compaction must not race an unfinished removal either, but
    // unlike compact() it reports rather than throws: the streaming
    // sink's ingest already refused loudly this batch, and a release
    // valve that crashes the valve-check is no release valve
    if (removalPending) return false
    val log = spark.table(idTable).count()
    if (log <= floor) return false
    if (compactBaseline < 0L) compactBaseline = loadAll().count()
    if (log > ratio * compactBaseline) { compact(); true } else false
  }
}
