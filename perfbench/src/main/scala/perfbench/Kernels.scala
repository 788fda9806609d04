package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-row cost of the native `graft_*` SQL functions over a workload's
  * own inputs: a noop-sink select of each function over an in-memory copy
  * of the input, replicated to at least `MinRows` rows so fixed job cost
  * stays small against the per-row work. */
object Kernels {
  private val MinRows = 100000L
  private val Reps = 3

  val Exprs: Seq[(String, String)] = Seq(
    "functions.tokens_ns_row" -> "graft_tokens(text)",
    "functions.minhash_ns_row" -> "graft_minhash(text, 16, 3)",
    "functions.simhash_ns_row" -> "graft_simhash(text)",
    "functions.reach_ns_row" -> "graft_reach(json, '$.id')",
    "functions.json_merge_ns_row" -> """graft_json_merge(json, '{"bench":1}')""")

  def time(input: DataFrame): Seq[(String, Double)] = {
    val n0 = input.count().max(1L)
    val copies = ((MinRows + n0 - 1) / n0).toInt
    val rows = input.withColumn("__copy", explode(sequence(lit(1), lit(copies))))
      .drop("__copy").persist(StorageLevel.MEMORY_AND_DISK)
    val n = rows.count()
    try Exprs.map { case (name, e) =>
      val q = rows.selectExpr(s"$e AS out")
      Workload.run(q) // warm: codegen and JIT
      val secs = (1 to Reps).map(_ => Workload.timed(Workload.run(q))._2.wall).sorted
      name -> secs(Reps / 2) * 1e9 / n
    } finally rows.unpersist(blocking = false)
  }
}
