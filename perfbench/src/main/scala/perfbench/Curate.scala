package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Curation, Dedup, TextOps}

/** `curate`: the nine curation steps over a seeded synthetic corpus. Each
  * document is 40 words drawn from a 200k-word vocabulary; 1% of the
  * documents are planted exact copies of earlier ones and 2% are copies
  * with one word changed, so the dedup steps have known answers. */
class Curate(ctx: Ctx) extends Workload {
  import ctx._

  private val docs = if (tiny) 2000 else 5000
  private val Words = 40
  private val Vocab = 200000
  private val Domains = if (tiny) 20 else 200
  private val DomainCap = docs / Domains * 4 / 5
  private val BenchDocs = 100
  private val ChunkSize = 16
  private val ChunkOverlap = 4
  private val WarmupPasses = if (tiny) 1 else 2

  /** Row-by-row facts of one generated corpus, known without running any
    * step: planted exact groups, e-mail count, rows after the domain cap. */
  private final case class Corpus(frame: DataFrame, bench: DataFrame, n: Int,
                                  exactGroups: Set[Seq[Long]], emails: Long, capped: Long,
                                  benchN: Long)

  private var corpus: Corpus = _

  /** Ids [0, base) are original documents; then the exact copies; then the
    * one-word edits. Copies point at distinct originals (sources), so every
    * planted exact group has exactly two members. */
  private def generate(n: Int, seedOffset: Long): Corpus = {
    val nExact = n / 100
    val nEdit = n / 50
    val base = n - nExact - nEdit
    val s = seed + seedOffset
    val shift = java.lang.Math.floorMod(s, 5L)
    def exactSource(c: Long) = c * 10 + shift
    def editSource(e: Long) = e * 10 + 5 + shift
    require(exactSource(nExact) < base && editSource(nEdit) < base)

    val id = col("id")
    val src = when(id < base, id)
      .when(id < base + nExact, (id - base) * 10 + shift)
      .otherwise((id - base - nExact) * 10 + 5 + shift)
    def h(parts: Column*): Column = xxhash64((lit(s) +: parts): _*)
    def word(ix: Column): Column = concat(lit("w"), conv(ix.cast("string"), 10, 36))
    val editPos = pmod(h(id, lit("p")), lit(Words - 6)) + 6
    val words = transform(sequence(lit(0), lit(Words - 1)), j => {
      val orig = pmod(h(col("src"), j), lit(Vocab.toLong))
      val edited = pmod(orig + 1 + pmod(h(id, lit("r")), lit(Vocab - 1L)), lit(Vocab.toLong))
      when(j === 5 && pmod(col("src"), lit(100)) === 7,
        concat(lit("user"), col("src").cast("string"), lit("@mail"),
          pmod(col("src"), lit(7)).cast("string"), lit(".org")))
        .when(col("kind") === 2 && j === editPos, word(edited))
        .otherwise(word(orig))
    })
    val frame = spark.range(n).toDF("id")
      .withColumn("src", src)
      .withColumn("kind", when(id < base, 0).when(id < base + nExact, 1).otherwise(2))
      .withColumn("text", array_join(words, " "))
      .withColumn("domain", concat(lit("dom"), pmod(h(id, lit("d")), lit(Domains.toLong)).cast("string")))
      .withColumn("quality", pmod(h(id, lit("q")), lit(1000000L)) / 1e6)
      .select("id", "kind", "text", "domain", "quality")
      .repartition(cores)
      .persist(StorageLevel.MEMORY_AND_DISK)
    frame.count()
    val step = base / BenchDocs
    val bench = frame.filter(col("id") < base && pmod(col("id"), lit(step.toLong)) === 3)
      .select(col("id"), col("text")).limit(BenchDocs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val benchN = bench.count()

    val groups = (0L until nExact).map(c => Seq(exactSource(c), base + c)).toSet
    def srcOf(i: Long): Long =
      if (i < base) i else if (i < base + nExact) exactSource(i - base) else editSource(i - base - nExact)
    val emails = (0L until n).count(i => srcOf(i) % 100 == 7).toLong
    val capped = frame.groupBy("domain").count().collect()
      .map(r => math.min(r.getLong(1), DomainCap.toLong)).sum
    Corpus(frame, bench, n, groups, emails, capped, benchN)
  }

  private def release(c: Corpus): Unit = if (c != null) {
    c.frame.unpersist(blocking = true); c.bench.unpersist(blocking = true)
  }

  /** One aggregate row over every column of `df` (the hash forces each
    * column to be computed) plus `extra` check columns. */
  private def checkRow(df: DataFrame, extra: Column*): Row =
    df.agg(count(lit(1)), (sum(pmod(xxhash64(df.columns.map(col): _*), lit(1000003L))) +: extra): _*)
      .head()

  /** The nine steps; each returns whether its output passed its check and
    * the surviving-cluster count of the lsh step (-1 elsewhere). */
  private def steps(c: Corpus): Seq[(String, () => (Boolean, Long))] = {
    val n = c.n.toLong
    val expect = if (corrupt) 1L else 0L
    val docsIn = c.frame.select("id", "text")
    Seq(
      "exact_groups" -> { () =>
        val found = Dedup.exactGroups(docsIn, "id", "text")
          .filter(col("n_copies") > 1).select("member_ids").collect()
          .map(_.getSeq[Long](0)).toSet
        val planted = if (corrupt) c.exactGroups.drop(1) else c.exactGroups
        (found == planted, -1L)
      },
      "lsh_cc" -> { () =>
        val out = Dedup.resolveClusters(c.frame.select("id", "kind"), "id",
          Dedup.lshCandidatePairs(docsIn, "id", "text"))
        val r = checkRow(out, count(when(col("keep"), 1)),
          count(when(col("keep") && col("kind") === 1, 1)))
        (r.getLong(0) == n && r.getLong(3) == expect, r.getLong(2))
      },
      "ngram_jaccard" -> { () =>
        val r = checkRow(Dedup.ngramJaccardBlocked(docsIn, "id", "text", 0.7),
          count(when(col("jaccard") === 1.0, 1)))
        (r.getLong(2) >= c.exactGroups.size + expect, -1L)
      },
      "simhash" -> { () =>
        val r = checkRow(Dedup.simhashNearDuplicates(docsIn, "id", "text", 3))
        (r.getLong(0) >= c.exactGroups.size + expect, -1L)
      },
      "gopher_langid" -> { () =>
        val r = checkRow(docsIn.select(col("id"), Curation.gopherMetrics(col("text")).as("g"),
          TextOps.languageId(col("text")).as("lang")), sum(col("g.word_count")))
        (r.getLong(0) == n && r.getLong(2) == n * Words + expect, -1L)
      },
      "scrub_pii" -> { () =>
        val r = checkRow(docsIn.select(col("id"), Curation.scrubPii(col("text")).as("p")),
          sum(col("p.n_emails")))
        (r.getLong(0) == n && r.getLong(2) == c.emails + expect, -1L)
      },
      "decontaminate" -> { () =>
        val r = checkRow(Curation.decontaminate(docsIn, c.bench, "id", "text"),
          count(when(col("contaminated"), 1)))
        (r.getLong(0) == n && r.getLong(2) >= c.benchN + expect, -1L)
      },
      "chunk" -> { () =>
        val r = checkRow(Curation.chunk(docsIn, "id", "text", ChunkSize, ChunkOverlap),
          sum(col("chunk_tokens")))
        val step = ChunkSize - ChunkOverlap
        val perDoc = (0 until Words by step).map(s => math.min(ChunkSize, Words - s))
        (r.getLong(0) == n * perDoc.size && r.getLong(2) == n * perDoc.sum + expect, -1L)
      },
      "domain_cap" -> { () =>
        val dir = work.resolve("curated").toString
        Curation.domainCap(c.frame, "domain", "quality", "id", DomainCap)
          .write.mode("overwrite").parquet(dir)
        (spark.read.parquet(dir).count() == c.capped + expect, -1L)
      })
  }

  /** Two untimed passes: the first still runs much of its code before the
    * JIT has compiled it, and so does a good part of the second. */
  override def warmup(): Unit = (1 to WarmupPasses).foreach(_ => pass(traced = false))

  def inputs(): Unit = {
    release(corpus)
    corpus = generate(docs, 0L)
  }

  def pass(traced: Boolean): PassResult = {
    var failed = 0L
    var survivors = 0L
    val layers = Map.newBuilder[String, Double]
    val times = steps(corpus).map { case (name, f) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val w0 = tracer.work()
      val ((ok, kept), took) = Workload.timed(scala.util.Try(tracer.span(s"ops.$name")(f()))
        .recover { case e =>
          System.err.println(s"[perfbench] curate step $name failed: $e"); (false, -1L)
        }.get)
      if (traced) {
        val w = tracer.work() - w0
        layers += s"ops.${name}_s" -> took.wall
        layers += s"ops.${name}_tasks" -> w.tasks.toDouble
        layers += s"ops.${name}_shuffle_mb" -> w.shuffleWriteBytes / 1048576.0
      }
      if (!ok) failed += 1
      if (kept >= 0) survivors = kept
      Workload.releaseSince(spark, before)
      took
    }
    if (traced) {
      layers ++= lshLayers()
      layers += "ops.cc_survivors" -> survivors.toDouble
    }
    val stored = Workload.diskUsage(work.resolve("curated"))._2.toDouble / corpus.n
    PassResult(times.size, failed, corpus.n, times, stored, layers.result())
  }

  /** The candidate side of the lsh step on its own: how long generating
    * candidates takes, how many there are, and how many survive a 0.7
    * Jaccard verification. */
  private def lshLayers(): Seq[(String, Double)] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val docsIn = corpus.frame.select("id", "text")
    val t0 = System.nanoTime()
    val pairs = Dedup.lshCandidatePairs(docsIn, "id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val candidates = pairs.count()
    val secs = (System.nanoTime() - t0) / 1e9
    val verified = Dedup.ngramJaccard(pairs, docsIn, "id", "text")
      .filter(col("jaccard") >= 0.7).count()
    pairs.unpersist(blocking = false)
    Workload.releaseSince(spark, before)
    Seq("ops.lsh_candidates_s" -> secs, "ops.lsh_candidate_pairs" -> candidates.toDouble,
      "ops.lsh_useful_ratio" -> (if (candidates > 0) verified.toDouble / candidates else 0.0))
  }

  def kernelInput(): DataFrame =
    corpus.frame.select(col("text"), to_json(struct(col("id"), col("domain"), col("quality"))).as("json"))
}
