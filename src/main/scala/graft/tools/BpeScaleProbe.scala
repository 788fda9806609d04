package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Bpe

/** Deep-vocabulary BPE scale probe (dev tool, run-once evidence for
  * NOTES): a synthetic Zipf corpus of ≥1M word TYPES drives
  *  1. the hapax-floor lever — type-table size at minWordCount 1/2/4
  *     (the reason the driver fast path stays reachable at corpus
  *     scale),
  *  2. training wall-clock with the floor applied,
  *  3. the 32k-merge native applier over the full type table — the
  *     regime where the nested-replace cascade is unrepresentable.
  *
  * Usage: runMain graft.tools.BpeScaleProbe [nTypes]
  */
object BpeScaleProbe {
  def main(args: Array[String]): Unit = {
    val nTypes = args.headOption.map(_.toInt).getOrElse(1200000)
    val spark = graft.Tables.session("local[32]", 32)
    import spark.implicits._
    def tm[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }
    // deterministic Zipf-ish types: base-26 words, count ~ N/(id+1) —
    // half the types are hapax, like a web corpus
    val wc = spark.range(nTypes)
      .select(col("id"),
        concat_ws("", transform(sequence(lit(0), lit(5)),
          i => chr(lit(97) + pmod(floor(col("id") / pow(lit(26), i)), lit(26)))))
          .as("w"),
        greatest(lit(1L),
          (lit(nTypes.toLong) / (col("id") + 1L) / 100L).cast("long")).as("cnt"))
      .groupBy("w").agg(sum("cnt").cast("long").as("cnt"))
      .localCheckpoint(true)
    val total = wc.count()
    println(s"[probe] word types: $total")
    Seq(1L, 2L, 4L, 8L).foreach { floor =>
      val n = wc.filter(col("cnt") >= floor).count()
      println(f"[probe] types at floor >=$floor: $n (${100.0 * n / total}%.1f%%)")
    }
    // training with the floor: the type table shrinks under the driver
    // guard and the merges run on the in-memory pair-count heap
    val merges = tm("train 64 merges, floor>=8")(
      Bpe.trainBpeFromCounts(wc, merges = 64, minPairCount = 2,
        minWordCount = 8L).collect())
    println(s"[probe] merges learned: ${merges.length}")
    // REAL vocabulary depth: 32,768 TRAINED merges over the full type
    // table (no floor — every type participates). One collect, then
    // the incremental heap; the r8 round-trainer path was unusable here
    // (32k sequential argmax rounds).
    val deepTrained = tm(s"train 32768 merges over all $total types") {
      Bpe.trainBpeFromCounts(wc, merges = 32768, minPairCount = 2,
        driverVocabLimit = 2000000).collect()
    }
    println(s"[probe] deep merges learned: ${deepTrained.length} " +
      s"(last pair count: ${deepTrained.lastOption.map(_.getLong(4))})")
    // this synthetic corpus exhausts repeated pairs before 32k (an
    // honest corpus property); minPairCount=1 forces the heap through
    // the FULL requested depth so 32,768 merges are actually performed
    val full = tm(s"train 32768 merges, minPairCount=1, all $total types") {
      Bpe.trainBpeFromCounts(wc, merges = 32768, minPairCount = 1,
        driverVocabLimit = 2000000).collect()
    }
    println(s"[probe] full-depth merges learned: ${full.length}")
    // the 32k applier over EVERY type (vocab-side segmentation)
    val deep = Bpe.syntheticMerges(32768)
    val counts = tm("apply 32768 merges over all types")(
      Bpe.tokenCounts(wc, deep).count())
    println(s"[probe] distinct subword tokens: $counts")
    spark.stop()
  }
}
