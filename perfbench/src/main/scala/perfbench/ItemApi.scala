package perfbench

import graft.sources.{FetchResponse, Fetcher}

/** The benchmark's own fake entity API, a deterministic function of
  * `(seed, id)`:
  *   - `GET http://items.bench/items/?seed=S&n=N&page=P&page_size=Z` pages
  *     through N records with a `next` link;
  *   - `GET http://items.bench/items/<id>/?seed=S` returns one record's
  *     detail after a fixed service time.
  * It runs inside Spark tasks of the same process, so [[ApiCounters]] see
  * every call when tracing is on. */
class ItemApi(detailMs: Int) extends Fetcher {
  import ItemApi._

  def fetch(method: String, url: String, requestBody: String): FetchResponse = {
    val t0 = System.nanoTime()
    val on = ApiCounters.on
    if (on) {
      val now = ApiCounters.inflight.incrementAndGet()
      ApiCounters.inflightMax.accumulateAndGet(now, math.max)
    }
    try {
      val q = query(url)
      val path = url.replaceFirst("^https?://[^/]+", "").takeWhile(_ != '?')
      val seed = q("seed").toLong
      path.split('/').filter(_.nonEmpty) match {
        case Array("items") =>
          if (on) ApiCounters.pageCalls.incrementAndGet()
          page(seed, q("n").toInt, q("page").toInt, q("page_size").toInt)
        case Array("items", id) =>
          if (on) ApiCounters.detailCalls.incrementAndGet()
          if (detailMs > 0) Thread.sleep(detailMs.toLong)
          FetchResponse(200, Json, detail(seed, id.toInt))
        case _ => FetchResponse(404, Json, """{"detail":"not found"}""")
      }
    } finally if (on) {
      ApiCounters.inflight.decrementAndGet()
      ApiCounters.busyNs.addAndGet(System.nanoTime() - t0)
    }
  }
}

object ItemApi {
  val Host = "http://items.bench"
  private val Json = """{"content-type":"application/json"}"""
  private val Categories = Seq("books", "maps", "music", "papers", "video")

  private def query(url: String): Map[String, String] =
    url.dropWhile(_ != '?').drop(1).split('&').filter(_.contains('='))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap

  /** splitmix64: a well-mixed deterministic hash of one long. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def listUrl(seed: Long, n: Int, pageSize: Int): String =
    s"$Host/items/?n=$n&page=1&page_size=$pageSize&seed=$seed"

  def record(seed: Long, id: Int): String = {
    val h = mix(seed * 1000003L + id)
    val category = Categories((h >>> 1).toInt.abs % Categories.size)
    s"""{"id":$id,"title":"Item $id","category":"$category","rank":${(h >>> 40) % 1000}}"""
  }

  /** The detail answer the grow check expects on every document. */
  def expectedDigest(seed: Long, id: Int): String =
    java.lang.Long.toHexString(mix(mix(seed) ^ id.toLong))

  def detail(seed: Long, id: Int): String = {
    val h = mix(seed ^ (id.toLong << 20))
    s"""{"id":$id,"digest":"${expectedDigest(seed, id)}","score":${(h >>> 11) % 100000 / 1000.0},""" +
      s""""tags":["t${h & 15}","t${(h >>> 4) & 15}"]}"""
  }

  private def page(seed: Long, n: Int, pageNo: Int, pageSize: Int): FetchResponse = {
    val pages = math.max(1, (n + pageSize - 1) / pageSize)
    if (pageNo < 1 || pageNo > pages) FetchResponse(404, Json, """{"detail":"Invalid page."}""")
    else {
      val ids = ((pageNo - 1) * pageSize until math.min(n, pageNo * pageSize))
      val next =
        if (pageNo < pages) "\"" + s"$Host/items/?n=$n&page=${pageNo + 1}&page_size=$pageSize&seed=$seed" + "\""
        else "null"
      FetchResponse(200, Json,
        s"""{"count":$n,"next":$next,"results":[${ids.map(record(seed, _)).mkString(",")}]}""")
    }
  }
}
