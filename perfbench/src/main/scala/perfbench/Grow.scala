package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Objective
import graft.functions.GraftFunctions
import graft.model.CollectionSpec
import graft.pipeline._
import graft.sources.{AuthConfig, CacheStore, Fetcher, ResourceCache}

/** A [[ResourceCache]] that delegates every call and records, for the
  * traced run, when growth first reached the cache, when it last left it,
  * the time spent inside it and how many responses it served. */
class TracedCache(inner: ResourceCache, tracer: Tracer) extends ResourceCache {
  var firstFetchNs = -1L
  var lastReturnNs = -1L
  var fetchNs = 0L
  var workAtFirstFetch: Work = Work()
  var rows = 0L
  var hits = 0L

  def read(): DataFrame = inner.read()
  def append(resources: DataFrame): Unit = inner.append(resources)
  def compact(): Unit = inner.compact()
  def purgePrefix(uriPrefix: String): Unit = inner.purgePrefix(uriPrefix)

  def fetch(requests: DataFrame, fetcher: Fetcher, cacheOnly: Boolean,
            maxConcurrency: Int, auth: AuthConfig): DataFrame = {
    val t0 = System.nanoTime()
    if (firstFetchNs < 0) { firstFetchNs = t0; workAtFirstFetch = tracer.work() }
    val out = tracer.span("cache.fetch")(
      inner.fetch(requests, fetcher, cacheOnly, maxConcurrency, auth))
    fetchNs += System.nanoTime() - t0
    if (tracer.on) {
      // the store checkpointed `out`, so this count re-runs no fetch
      val r = out.agg(count(lit(1)), count(when(col("from_cache"), 1))).head()
      rows += r.getLong(0); hits += r.getLong(1)
    }
    lastReturnNs = System.nanoTime()
    out
  }
}

/** `grow_cold` / `grow_warm`: one collection seeded page by page from the
  * fake API, grown by one detail fetch per document, promoted as a new
  * RESET version. Cold passes start from an empty store and cache; warm
  * passes regrow against a cache that holds every detail response. */
class Grow(ctx: Ctx, warm: Boolean) extends Workload {
  import ctx._

  // Eight seed batches: each batch's upsert doubles the collection's
  // partition count, so the batch count, not the record count, sets the
  // seeding cost; eight keeps that growth visible within a run.
  private val records = if (tiny) 20 else 800
  private val pageSize = if (tiny) 10 else 100
  private val pages = (records + pageSize - 1) / pageSize
  private val detailMs = 20
  private val name = "items"
  private val args = Seq(name)

  private def spec(n: Int, size: Int): DatasetSpec = DatasetSpec(
    name = name,
    collections = Seq(CollectionDef(
      CollectionSpec(name, identifier = Some("id")),
      seedingPhases = Seq(PhaseSpec(
        phase = "items", strategy = "initial", batchSize = size,
        retrieve = RetrieveSpec(
          urlTemplate = s"${ItemApi.Host}/items/",
          parameters = Seq("n" -> n.toString, "page" -> "1",
            "page_size" -> size.toString, "seed" -> seed.toString),
          continuationLimit = (n + size - 1) / size),
        contribute = ContributeSpec(objective = Some(Objective("$.results",
          Seq("id" -> "$.id", "title" -> "$.title", "category" -> "$.category",
            "rank" -> "$.rank")))))),
      growthPhases = Seq(GrowthSpec(
        growthPhase = "detail",
        urlTemplate = s"${ItemApi.Host}/items/{}/?seed=$seed",
        argTemplates = Seq("$.id"),
        objective = Objective("$", Seq("digest" -> "$.digest", "score" -> "$.score",
          "tags" -> "$.tags")))))),
    growthStrategy = GrowthStrategy.Reset)

  private val sig = spec(records, pageSize).signature(args)
  private val api = new ItemApi(detailMs)
  private var passNo = 0
  private var warmStore: VersionStore = _
  private var lastDocs: Option[(VersionStore, Int)] = None
  private var prevPassDir: Option[Path] = None

  private def cacheDir: Path = work.resolve("cache")

  /** Put every detail response into the warm cache through the store's
    * own fetch path. The fill uses a zero-latency copy of the API: the
    * stored responses are the same bytes a cold grow would store. */
  private def fillCache(dir: Path): Unit = {
    import spark.implicits._
    val urls = (0 until records).map(id => s"${ItemApi.Host}/items/$id/?seed=$seed")
    val requests = urls.toDF("url")
      .select(lit("get").as("method"), col("url"), lit(null).cast("string").as("request_body"))
    new CacheStore(dir.toString, spark).fetch(requests, new ItemApi(0))
  }

  /** A full grow would double the run's length, so the warm-up grows a
    * one-page copy of the spec, with the zero-latency API. */
  override def warmup(): Unit = {
    val scratch = work.resolve("warmup")
    new DatasetRunner(new VersionStore(scratch.resolve("store").toString, spark), new ItemApi(0),
      resourceCache = Some(new CacheStore(scratch.resolve("cache").toString, spark)))
      .grow(spec(10, 10), args)
    Workload.deleteTree(scratch)
  }

  /** Cold passes start from nothing; warm passes need the filled cache. */
  def inputs(): Unit = if (warm) {
    Workload.deleteTree(cacheDir)
    fillCache(cacheDir)
    warmStore = new VersionStore(work.resolve("store").toString, spark)
  }

  def pass(traced: Boolean): PassResult = {
    passNo += 1
    val passDir = work.resolve(s"pass-$passNo")
    val (store, cachePath) =
      if (warm) (warmStore, cacheDir)
      else (new VersionStore(passDir.resolve("store").toString, spark), passDir.resolve("cache"))
    val cache = new TracedCache(new CacheStore(cachePath.toString, spark), tracer)
    val runner = new DatasetRunner(store, api, resourceCache = Some(cache))
    val cacheBefore = Workload.diskUsage(cachePath)._2
    ApiCounters.reset()
    ApiCounters.on = traced
    val w0 = tracer.work()
    val t0 = System.nanoTime()
    val (outcome, took) = Workload.timed(
      scala.util.Try(tracer.span("grow")(runner.grow(spec(records, pageSize), args))))
    val t1 = System.nanoTime()
    ApiCounters.on = false
    val attempted = (pages + records).toLong
    outcome.failed.foreach(e => System.err.println(s"[perfbench] grow failed: $e"))
    val failed = outcome.map(v => math.min(attempted, check(store, v))).getOrElse(attempted)
    val version = outcome.map(_.version).getOrElse(0)
    val (files, bytes) = Workload.diskUsage(
      java.nio.file.Paths.get(store.root).resolve(sig).resolve(s"v$version"))
    val (cacheFiles, cacheBytes) = Workload.diskUsage(cachePath)
    val stored = (bytes + cacheBytes - cacheBefore).toDouble / records
    val layers =
      if (!traced) Map.empty[String, Double]
      else Map(
        "pipeline.grow_s" -> (t1 - t0) / 1e9,
        "pipeline.seed_s" -> (if (cache.firstFetchNs > 0) (cache.firstFetchNs - t0) / 1e9 else 0.0),
        "pipeline.seed_jobs" -> (cache.workAtFirstFetch - w0).jobs.toDouble.max(0),
        "pipeline.seed_tasks" -> (cache.workAtFirstFetch - w0).tasks.toDouble.max(0),
        "pipeline.merge_write_s" -> (if (cache.lastReturnNs > 0) (t1 - cache.lastReturnNs) / 1e9 else 0.0),
        "pipeline.store_files" -> files.toDouble,
        "pipeline.store_mb" -> bytes / 1048576.0,
        "sources.api_page_calls" -> ApiCounters.pageCalls.get.toDouble,
        "sources.api_detail_calls" -> ApiCounters.detailCalls.get.toDouble,
        "sources.api_busy_s" -> ApiCounters.busyNs.get / 1e9,
        "sources.api_inflight_max" -> ApiCounters.inflightMax.get.toDouble,
        "sources.cache_fetch_s" -> cache.fetchNs / 1e9,
        "sources.cache_hit_ratio" -> (if (cache.rows > 0) cache.hits.toDouble / cache.rows else 0.0),
        "sources.cache_mb" -> cacheBytes / 1048576.0,
        "sources.cache_files" -> cacheFiles.toDouble)
    // keep only the newest cold pass on disk: it feeds the kernel timings
    if (!warm) { prevPassDir.foreach(Workload.deleteTree); prevPassDir = Some(passDir) }
    lastDocs = outcome.toOption.map(v => (store, v.version))
    PassResult(attempted, failed, if (outcome.isSuccess) records.toLong else 0L,
      Seq(took), stored, layers)
  }

  /** Failed operations of one grow: a seed page fails when any of its
    * records is missing, a document when its detail task did not succeed
    * with the API's answer, or the version was not promoted. */
  private def check(store: VersionStore, v: VersionMeta): Long = {
    val current = store.currentVersion(sig)
    if (!current.exists(c => c.version == v.version && c.state == GrowthState.Complete))
      return (pages + records).toLong
    val rows = store.readCollection(sig, v.version, name)
      .select(
        GraftFunctions.reach(col("properties"), "$.id").cast("int").as("rid"),
        GraftFunctions.reach(col("task_results"), "$.detail.success").as("ok"),
        GraftFunctions.reach(col("derivatives"), "$.detail.digest").as("digest"))
      .collect()
    val good = rows.iterator.filter { r =>
      !r.isNullAt(0) && r.getString(1) == "true" && {
        val expected = ItemApi.expectedDigest(seed, r.getInt(0))
        r.getString(2) == (if (corrupt && r.getInt(0) == 0) expected + "x" else expected)
      }
    }.map(_.getInt(0)).toSet
    val present = rows.iterator.filter(!_.isNullAt(0)).map(_.getInt(0)).toSet
    val badDocs = (0 until records).count(id => !good.contains(id)) +
      math.max(0, rows.length - records)
    val badPages = (0 until pages).count { p =>
      (p * pageSize until math.min(records, (p + 1) * pageSize)).exists(id => !present.contains(id))
    }
    (badDocs + badPages).toLong
  }

  def kernelInput(): DataFrame = {
    val (store, v) = lastDocs.get
    store.readCollection(sig, v, name).select(
      concat_ws(" ", GraftFunctions.reach(col("properties"), "$.title"),
        GraftFunctions.reach(col("properties"), "$.category")).as("text"),
      col("properties").as("json"))
  }
}
