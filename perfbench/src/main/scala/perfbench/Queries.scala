package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `queries`: a frozen set of `SparkEntry.queries` paths, the slowest of
  * each registry module, run in a seed-shuffled order. Every output is
  * written as parquet and checked against a digest recorded from an output
  * that matched the DuckDB oracle. */
class Queries(ctx: Ctx, record: Option[Path] = None) extends Workload {
  import ctx._

  private val sf = if (tiny) "sf0.001" else Queries.Sf
  private val dir = data.resolve(sf).toString
  private val names = if (tiny) Queries.Frozen.groupBy(Queries.module).values.map(_.head).toSeq.sorted
                      else Queries.Frozen
  private val order = new scala.util.Random(seed).shuffle(names)
  private val expected: Map[String, String] = Queries.loadDigests(data.resolve("query_digests.json"), sf)
  val recorded = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** The queries need no input building: the tables are checked in. */
  def inputs(): Unit = ()



  def pass(traced: Boolean): PassResult = {
    var failed = 0L
    var bytes = 0L
    var rows = 0L
    val perModule = scala.collection.mutable.Map.empty[String, (Double, Long)]
    var jobs = 0L
    var materialized = 0L
    val times = order.map { q =>
      val out = record.getOrElse(work.resolve("out")).resolve(q)
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val w0 = tracer.work()
      val (ok, took) = Workload.timed(scala.util.Try(tracer.span(s"query.$q")(
        graft.SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(out.toString))))
      if (traced) {
        val w = tracer.work() - w0
        val m = Queries.module(q)
        val (s0, t) = perModule.getOrElse(m, (0.0, 0L))
        perModule(m) = (s0 + took.wall, t + w.tasks)
        jobs += w.jobs
        materialized += w.persistedRdds.size
      }
      Workload.releaseSince(spark, before)
      ok.failed.foreach(e => System.err.println(s"[perfbench] query $q failed: $e"))
      val good = ok.isSuccess && {
        val (d, n) = Queries.digest(spark.read.parquet(out.toString))
        recorded(q) = d
        rows += n
        bytes += Workload.diskUsage(out)._2
        val want = expected.get(q).map(w => if (corrupt && q == order.head) w + "x" else w)
        record.isDefined || want.contains(d)
      }
      if (!good) failed += 1
      took
    }
    val layers =
      if (!traced) Map.empty[String, Double]
      else Queries.Modules.flatMap { m =>
        val (s, t) = perModule.getOrElse(m, (0.0, 0L))
        Seq(s"queries.${m}_s" -> s, s"queries.${m}_tasks" -> t.toDouble)
      }.toMap ++ Map(
        "queries.jobs_per_query" -> jobs.toDouble / order.size,
        "queries.materializations_per_query" -> materialized.toDouble / order.size)
    PassResult(order.size, failed, order.size, times, bytes.toDouble / math.max(1L, rows), layers)
  }

  def kernelInput(): DataFrame =
    graft.Tables.load(spark, dir, "documents").select(col("text"),
      to_json(struct(col("doc_id").as("id"), col("lang"), col("source"))).as("json"))
}

object Queries {
  val Sf = "sf0.01"

  val Modules = Seq("Relational", "TrainingDedup", "TrainingSimilarity", "TrainingText",
    "TrainingCuration", "TrainingStats")

  /** The frozen query set, with the registry module each query lives in:
    * the slowest query of each module at sf0.1 on four cores at the
    * commit that introduced this benchmark, plus the slowest multimodal
    * query of the largest module (TrainingDedup). */
  val FrozenModules: Seq[(String, String)] = Seq(
    "q17_brand_revenue" -> "Relational",
    "q91_lsh_audit" -> "TrainingDedup",
    "q141_soundtrack_neardup" -> "TrainingDedup",
    "q94_ann_recall" -> "TrainingSimilarity",
    "q96_bpe_doc_ids" -> "TrainingText",
    "q46_full_curation" -> "TrainingCuration",
    "q78_pagerank" -> "TrainingStats")

  val Frozen: Seq[String] = FrozenModules.map(_._1)

  def module(q: String): String = FrozenModules.find(_._1 == q).get._2

  /** Order-insensitive digest of a frame: the row count and two 32-bit
    * halves of the summed per-row hashes of its JSON-rendered rows, with
    * columns in name order. */
  def digest(df: DataFrame): (String, Long) = {
    val cols = df.columns.sorted.map(col)
    val h = xxhash64(to_json(struct(cols: _*)))
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))),
      sum(shiftrightunsigned(h, 32))).head()
    val n = r.getLong(0)
    (if (n == 0) "0" else s"$n-${r.getLong(1)}-${r.getLong(2)}", n)
  }

  def loadDigests(path: Path, sf: String): Map[String, String] =
    if (!Files.exists(path)) Map.empty
    else {
      val tree = graft.core.PyJson.parse(Files.readString(path))
      Option(tree.get(sf)).map { node =>
        import scala.jdk.CollectionConverters._
        node.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }.getOrElse(Map.empty)
    }
}
