package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** THE eager-materialization mechanism behind every operator-internal
  * intermediate (the set-Jaccard hash sides, the LSH audit's truth and
  * signature frames, pagerank's edge frame): one definition, one
  * documented reliability trade, one switch (r16).
  *
  * Mode is read per call from the session conf
  * `spark.graft.materialize`:
  *
  *  - `"local"` (default): eager `localCheckpoint` — blocks live
  *    unreplicated on the executors and lineage is TRUNCATED, so an
  *    executor loss mid-query kills the job. The right trade for
  *    local mode and for short-lived intra-query frames (these blocks
  *    exist for seconds and a retry re-runs one query, not a day).
  *  - `"persist"`: eager MEMORY_AND_DISK persist (materialized by a
  *    count action). Lineage is RETAINED, so a lost block recomputes
  *    instead of failing the job — the posture a long-running cluster
  *    deployment should run. Costs cache-manager registration and
  *    keeps the (possibly large) upstream plan alive; blocks release
  *    through `unpersist`/`clearCache` rather than plan GC.
  *
  * Both modes evaluate the frame ONCE, eagerly — the single-evaluation
  * guarantee the multi-consumer operators rely on (Catalyst copies a
  * shared subtree per consumer branch; an expensive upstream would
  * otherwise re-run per consumer).
  */
object Materialize {

  /** Conf key selecting the materialization mode. */
  val ModeKey = "spark.graft.materialize"

  /** Eagerly materialize one intermediate frame (mode above). A failed
    * persist-mode fill drops its cache entry before rethrowing. */
  def frame(df: DataFrame): DataFrame =
    if (persistMode(df)) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      try p.count() // fills the whole cache: the cache node materializes
                    // complete partitions below the count's projection
      catch { case e: Throwable => p.unpersist(blocking = false); throw e }
      p
    } else df.localCheckpoint(true)

  /** Eagerly release the storage behind a materialized frame — one
    * returned by [[frame]] or by `localCheckpoint`: a cached frame
    * (persist mode) is unpersisted; otherwise the blocks of its
    * `LogicalRDD` leaf are dropped. A checkpointed frame's lineage holds
    * ONLY its own RDD leaf, so this never touches other live frames. */
  def release(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking = false)
    else df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Eagerly materialize TWO INDEPENDENT frames concurrently (guide
    * §2.6 — actions are only sequential because the driver calls them
    * sequentially): the callers' sides share no lineage, so their
    * materialization jobs back-fill each other's task tails instead of
    * running strictly one after the other (measured: the two decode
    * sides of q141 and the truth/signature passes of q91 each
    * serialized ~150-300 ms of idle tail). If one side fails, the
    * other side's storage is released before the error propagates; if
    * both fail, the first side's error rides along as a suppressed
    * exception of the second's. */
  def pair(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    @volatile var ra: DataFrame = null
    @volatile var errA: Throwable = null
    val t = new Thread(() => {
      try ra = frame(a)
      catch { case e: Throwable => errA = e }
    }, "graft-materialize")
    t.setDaemon(true)
    t.start()
    val rb =
      try frame(b)
      catch { case e: Throwable =>
        t.join()
        if (errA != null) e.addSuppressed(errA) else release(ra)
        throw e
      }
    t.join()
    if (errA != null) { release(rb); throw errA }
    (ra, rb)
  }

  private def persistMode(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(ModeKey).exists(_.trim.equalsIgnoreCase("persist"))
}
