package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.{Sketches, Sharding, Stats}

/** Mergeable-sketch + sharding scale probe (dev tool, run-once
  * evidence for NOTES): 100M synthetic values over 64 groups drive
  *  1. HLL grouped sketches + merge — wall-clock and the merge ≡
  *     direct register identity at scale,
  *  2. count-min grouped cells + merge + point estimates,
  *  3. histogram sketches + merge + quantile brackets,
  *  4. rendezvous shard assignment (pure projection) + the grow
  *     audit at 100M keys.
  *
  * Usage: runMain graft.tools.SketchScaleProbe [rows]
  */
object SketchScaleProbe {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(100000000L)
    val spark = graft.Tables.session("local[32]", 64)
    def tm[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }
    // 100M rows, 64 groups, ~20M distinct values Zipf-ishly repeated
    val df = spark.range(rows)
      .select(concat(lit("g"), pmod(col("id"), lit(64)).cast("string")).as("g"),
        pmod(col("id") * 2654435761L, lit(rows / 5)).as("v"))
    tm(s"hll grouped p=12 over ${rows / 1000000}M rows") {
      val sk = Sketches.hllSketchGrouped(df, "g", "v", p = 12).localCheckpoint(true)
      val merged = Sketches.hllMergeSketches(sk, p = 12).head
      println(s"[probe] hll merged estimate: ${merged.getAs[Double]("estimate")}" +
        s" (true distinct ${rows / 5})")
    }
    tm("count-min grouped 4x1024 + merge + 5 point estimates") {
      val cells = Sketches.cmSketchGrouped(df, "g", "v", depth = 4, width = 1024)
      val merged = Sketches.cmMergeSketches(cells).localCheckpoint(true)
      import spark.implicits._
      val queries = (0L until 5L).toDF("v")
      val est = Sketches.cmPointEstimate(merged, queries, "v", 4, 1024)
        .orderBy(col("v")).collect().map(_.getLong(1)).toSeq
      println(s"[probe] cm estimates for v=0..4: $est (true ~${5 * rows / (rows / 5)})")
    }
    tm("histogram grouped width 4096 + merge + p50/p99 brackets") {
      val hist = Stats.histogramMergeSketches(
        Stats.histogramSketchGrouped(df, "g", "v", binWidth = 4096L))
      val br = Stats.histogramQuantiles(hist, Seq(0.5, 0.99), 4096L)
        .orderBy(col("q")).collect()
        .map(r => (r.getDouble(0), r.getLong(2), r.getLong(3))).toSeq
      println(s"[probe] quantile brackets: $br")
    }
    tm(s"rendezvous assign 16 shards over ${rows / 1000000}M keys (pure projection)") {
      val n = df.select(Sharding.rendezvousShard(col("v"), 16).as("s"))
        .groupBy("s").count().count()
      println(s"[probe] shards populated: $n")
    }
    tm("rendezvous grow audit 16 -> 17") {
      val audit = Sharding.shardMoveAudit(df.select(col("v")).distinct(), "v", 16)
        .agg(sum(col("n_docs")), sum(col("n_moved")), sum(col("n_moved_elsewhere")))
        .head
      println(s"[probe] keys ${audit.getLong(0)}, moved ${audit.getLong(1)} " +
        s"(expect ~1/17 = ${audit.getLong(0) / 17}), elsewhere ${audit.getLong(2)}")
    }
    spark.stop()
  }
}
