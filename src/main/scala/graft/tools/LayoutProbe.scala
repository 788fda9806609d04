package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.{Relevance, Selection}

/** Layout-family scale probe: drive q89/q90/q93's operators at volumes
  * the bench SFs never reach and print the numbers the 100 TB design
  * claims rest on. Not part of CI — a manual harness like StreamProbe.
  * Usage:
  *   sbt "runMain graft.tools.LayoutProbe [rows] [sfDir]"
  * (default 100M synthetic rows for shuffle/zorder; inverted index
  * runs over lineitem comments at sfDir volume — ~600k docs at sf0.1.)
  *
  * What each stage asserts, distributed (no driver materialization):
  *  - globalShuffle: positions are a bijection onto [0, n) — checked
  *    as (count, min, max, sum) == (n, 0, n-1, n(n-1)/2), four scalars
  *    from one aggregation over the shuffled frame.
  *  - zorderRepartition: partition-envelope audit — per output
  *    partition, the (x, y) min/max box; Z-order must bound BOTH dims
  *    (printed as the worst envelope ratio vs the 1-D layout's).
  *  - invertedIndex: max group size ≤ 2^blockBits by construction —
  *    printed next to the hottest term's GLOBAL df (what a naive
  *    groupBy(term) would have put in one task).
  */
object LayoutProbe {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000000L)
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt)
      .getOrElse(cpus.toInt * 4)
    val spark = graft.Tables.session(s"local[$cpus]", shuffle)

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val out = f
      println(f"[layout] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      out
    }

    // ---- q89 globalShuffle at n rows -------------------------------
    timed(s"globalShuffle ($n rows)") {
      val ids = spark.range(n).withColumnRenamed("id", "doc_id")
      val out = Selection.globalShuffle(ids, "doc_id", seed = 42L,
        persist = false) // cheap deterministic range source
      val r = out.agg(count(lit(1)), min(col("pos")), max(col("pos")),
        sum(col("pos"))).head()
      val (c, mn, mx, s) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))
      require(c == n && mn == 0L && mx == n - 1 &&
        s == n * (n - 1) / 2, s"bijection violated: ($c, $mn, $mx, $s)")
      println(s"[layout]   bijection onto [0, $n) verified (count/min/max/sum)")
    }

    // ---- q90 zorderRepartition at n rows ---------------------------
    timed(s"zorderRepartition ($n rows, 256 parts)") {
      val pts = spark.range(n).select(
        (col("id") % 65536).as("x"),
        ((col("id") * 2654435761L) % 65536).as("y"))
      val parts = 256
      val z = Selection.zorderRepartition(pts, col("x"), col("y"), parts)
      val env = z.select(spark_partition_id().as("p"), col("x"), col("y"))
        .groupBy(col("p"))
        .agg(count(lit(1)).as("c"), (max(col("x")) - min(col("x"))).as("xw"),
          (max(col("y")) - min(col("y"))).as("yw"))
        .agg(sum(col("c")), max(col("xw")), avg(col("xw")), avg(col("yw")))
        .head()
      println(s"[layout]   rows=${env.get(0)} worst x-envelope=${env.get(1)}" +
        f" avg x-envelope=${env.getDouble(2)}%.0f avg y-envelope=${env.getDouble(3)}%.0f" +
        " (1-D layout: second dim ~65535)")
    }

    // ---- q93 invertedIndex over lineitem-derived text --------------
    // (this testdata generation ships no l_comment; synthesize a text
    // column whose flag/status words are corpus-wide stopwords — the
    // exact skew the blocking exists for)
    timed("invertedIndex (lineitem-derived text)") {
      val docs = graft.Tables.load(spark, sfDir, "lineitem")
        .select((col("l_orderkey") * 10 + col("l_linenumber")).as("doc_id"),
          concat_ws(" ", lit("flag"), col("l_returnflag"), lit("status"),
            col("l_linestatus"), concat(lit("qty"), col("l_quantity").cast("int")),
            concat(lit("part"), col("l_partkey") % 1000),
            concat(lit("supp"), col("l_suppkey") % 100)).as("text"))
      val blockBits = 12
      val idx = Relevance.invertedIndex(docs, "doc_id", "text",
        blockBits = blockBits, minDf = 2L)
      val top = idx.agg(count(lit(1)).as("groups"), max(col("df_block")).as("worst"),
        sum(col("df_block")).as("postings")).head()
      // what ONE task would have held without blocking: the hottest
      // term's global df
      val hot = idx.groupBy(col("term")).agg(sum(col("df_block")).as("df"))
        .orderBy(col("df").desc).limit(1).head()
      println(s"[layout]   groups=${top.get(0)} postings=${top.get(2)}" +
        s" worst-group=${top.get(1)} (bound 2^$blockBits=${1 << blockBits});" +
        s" hottest term '${hot.getString(0)}' global df=${hot.get(1)}" +
        " = the single-task list a naive groupBy(term) builds")
    }

    spark.stop()
  }
}
