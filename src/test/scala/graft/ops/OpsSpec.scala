package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class TextOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("tokens, shingles, counts") {
    val df = Seq("the quick brown fox jumps").toDF("text")
    assert(df.select(TextOps.tokenCount($"text")).head.getInt(0) === 5)
    val sh = df.select(TextOps.shingles($"text", 3)).head.getSeq[String](0)
    assert(sh === Seq("the quick brown", "quick brown fox", "brown fox jumps"))
  }

  test("fingerprint is order- and duplication-insensitive") {
    val df = Seq(("a b c", "c b a a"), ("x y", "x z")).toDF("t1", "t2")
    val rows = df.select(TextOps.fingerprint($"t1") === TextOps.fingerprint($"t2")).collect()
    assert(rows(0).getBoolean(0) === true)
    assert(rows(1).getBoolean(0) === false)
  }

  test("rollingHash is order-sensitive") {
    val df = Seq(("a b c", "c b a")).toDF("t1", "t2")
    assert(!df.select(TextOps.rollingHash($"t1") === TextOps.rollingHash($"t2")).head.getBoolean(0))
  }

  test("languageId picks the profile with most hits, und below threshold") {
    val df = Seq("the cat and the dog is here",
      "der hund und die katze ist da",
      "zzz qqq www").toDF("text")
    assert(df.select(TextOps.languageId($"text")).collect().map(_.getString(0)).toSeq ===
      Seq("en", "de", "und"))
  }

  test("CJK tokenization: Han/Kana/Thai split per character, Hangul and Latin by space") {
    val cases = Seq(
      "abc中文def" -> Seq("abc", "中", "文", "def"),
      "日本語のテキスト" -> Seq("日", "本", "語", "の", "テ", "キ", "ス", "ト"),
      "ภาษาไทย" -> Seq("ภ", "า", "ษ", "า", "ไ", "ท", "ย"),
      "한국어 텍스트" -> Seq("한국어", "텍스트"), // Korean IS space-delimited
      "中文　テスト" -> Seq("中", "文", "テ", "ス", "ト"), // U+3000 is whitespace
      // vertical tab is NOT a separator: RE2's \s (the oracle engine)
      // excludes it, so the JVM side must too
      "foo\u000bbar" -> Seq("foo\u000bbar"),
      "plain ascii text" -> Seq("plain", "ascii", "text"))
    val df = cases.map(_._1).toDF("text")
    val got = df.select(TextOps.tokens($"text")).collect().map(_.getSeq[String](0).toSeq)
    assert(got.toSeq === cases.map(_._2))
    // the composed regex form (= the DuckDB oracle's shape) ≡ the native
    val composed = df.select(TextOps.tokensComposed($"text"))
      .collect().map(_.getSeq[String](0).toSeq)
    assert(composed.toSeq === cases.map(_._2))
    // JVM-side scanner (shingles/minhash/simhash) agrees too
    for ((s, expected) <- cases)
      assert(graft.functions.Tokenize.split(s).toSeq === expected, s"native split of '$s'")
  }

  test("script-aware language ID: CJK by character evidence, Latin by profiles") {
    val cases = Seq(
      "机器学习模型训练数据" -> "zh",
      "これはテストです" -> "ja",
      "日本語の文書です" -> "ja", // kanji + kana → kana wins precedence
      "한국어 문서 예제" -> "ko",
      "ภาษาไทยทดสอบ" -> "th",
      "the cat and the dog is here" -> "en",
      "der hund und die katze ist da" -> "de",
      "zzz qqq www" -> "und")
    val got = cases.map(_._1).toDF("text")
      .select(TextOps.languageIdScripted($"text")).collect().map(_.getString(0))
    assert(got.toSeq === cases.map(_._2))
  }

  test("native graft_script_counts ≡ the four-regex removal-length twin") {
    val texts = Seq(
      "机器学习模型训练数据", "これはテストです", "日本語の文書です",
      "한국어 문서 예제", "ภาษาไทยทดสอบ", "the cat and the dog",
      "mixed 机器 latin ひらがな ไทย 한글 text", "", "𠀋𪛖 supplementary han",
      "カタカナとひらがな混在", "zzz qqq www")
    val df = texts.toDF("text")
    val native = df.select(
      call_function("graft_script_counts", $"text").as("c"),
      TextOps.languageIdScripted($"text").as("lang")).collect()
    val composed = df.select(
      array(
        TextOps.scriptCharCount($"text", "[\\p{IsHiragana}\\p{IsKatakana}]"),
        TextOps.scriptCharCount($"text", "\\p{IsHangul}"),
        TextOps.scriptCharCount($"text", "\\p{IsThai}"),
        TextOps.scriptCharCount($"text", "\\p{IsHan}")).as("c"),
      TextOps.languageIdScriptedComposed($"text").as("lang")).collect()
    native.zip(composed).zip(texts).foreach { case ((n, c), t) =>
      assert(n.getSeq[Int](0) === c.getSeq[Int](0), s"counts diverge on '$t'")
      assert(n.getString(1) === c.getString(1), s"lang diverges on '$t'")
    }
  }

  test("CJK docs survive the gopher quality gate and near-dup detection finds CJK pairs") {
    val docs = Seq(
      (1L, "天地玄黄宇宙洪荒日月盈昃辰宿列张寒来暑往秋收冬藏"),
      (2L, "天地玄黄宇宙洪荒日月盈昃辰宿列张寒来暑往秋收冬藏金"),
      (3L, "いろはにほへとちりぬるをわかよたれそつねならむ")).toDF("doc_id", "text")
    val m = Curation.gopherMetrics($"text")
    val kept = docs.filter(m.getField("keep")).count()
    assert(kept === 3, "CJK docs must pass the word-count gate (character tokens)")
    val pairs = Dedup.ngramJaccardBlocked(docs, "doc_id", "text", threshold = 0.8)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
  }

  test("winnowingFingerprints: shared-run guarantee, density, short-doc and empty cases") {
    // two documents sharing a run of w + n - 1 = 6 tokens MUST share a fingerprint
    val shared = "alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, s"one two $shared three four five six seven"),
      (2L, s"$shared nine ten eleven twelve thirteen fourteen"),
      (3L, "ab"),          // 1 token -> no trigram shingles -> null
      (4L, "p q r"),       // exactly one shingle (< w) -> one window over all
      (5L, "completely different content with no overlap at all here")
    ).toDF("doc_id", "text")
    val fps = df.select($"doc_id", TextOps.winnowingFingerprints($"text", 3, 4).as("fp"))
      .collect().map(r => r.getLong(0) ->
        Option(r.get(1)).map(_ => r.getSeq[Long](1).toSeq)).toMap
    assert(fps(3L).isEmpty, "no shingles -> null")
    assert(fps(4L).exists(_.length === 1), "fewer than w shingles -> the single min")
    val a = fps(1L).get.toSet
    val b = fps(2L).get.toSet
    assert(a.intersect(b).nonEmpty, "w+n-1 shared tokens guarantee a shared fingerprint")
    assert(a.intersect(fps(5L).get.toSet).isEmpty, "disjoint docs share nothing")
    // selected fingerprints are a subset of the doc's shingle hashes, sorted distinct
    fps(1L).get.zip(fps(1L).get.tail).foreach { case (x, y) => assert(x < y) }
    // density: selection strictly shrinks the set for a long doc
    val longDoc = Seq((1 to 200).map(i => s"tk$i").mkString(" ")).toDF("text")
    val nFp = longDoc.select(size(TextOps.winnowingFingerprints($"text", 3, 4))).head.getInt(0)
    val nSh = longDoc.select(size(TextOps.shingles($"text", 3))).head.getInt(0)
    assert(nFp < nSh / 2, s"winnowing keeps ~2/(w+1) of $nSh shingles, got $nFp")
  }
}

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 1
    (3L, "one two three four five six seven eight"),
    (4L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
    (5L, "cat dog bird fish mouse horse cow sheep")
  ).toDF("doc_id", "text")

  test("exact groups find the exact duplicate") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    val dup = g.filter(col("n_copies") > 1).head
    assert(dup.getAs[Long]("keep_id") === 1L)
    assert(dup.getAs[Seq[Long]]("member_ids") === Seq(1L, 4L))
  }

  test("minhash LSH finds near and exact duplicates, skips unrelated") {
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", k = 16, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact dup must collide in every band")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)),
      "near-dup should collide in at least one band")
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) || Set(a, b) == Set(5L) })
  }

  test("duplicate doc ids never emit self-pairs (jaccard-1.0 / hamming-0 poison)") {
    // two DISTINCT docs sharing one id: no (a, a) pair may surface from
    // any blocking detector — a self-pair survives every verification
    val dupDocs = Seq(
      (7L, "alpha beta gamma delta epsilon zeta eta theta"),
      (7L, "one two three four five six seven eight"),
      (9L, "unrelated words that collide with nothing at all here")).toDF("doc_id", "text")
    val sh = Dedup.simhashNearDuplicates(dupDocs, "doc_id", "text", maxDistance = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sh.forall { case (a, b) => a != b }, s"self-pair leaked: ${sh.mkString(",")}")
    val nj = Dedup.ngramJaccardBlocked(dupDocs, "doc_id", "text", threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nj.forall { case (a, b) => a != b }, s"self-pair leaked: ${nj.mkString(",")}")
  }

  test("graft_pairs refuses buckets past the pair ceiling with a nameable error") {
    // 12k ids → ~72M pairs > the 64M cap; the guard must fire BEFORE
    // allocation (Int math would overflow to NegativeArraySizeException
    // past ~65k ids with no hint of the cause).
    val big = Seq(Seq.range(0L, 12000L)).toDF("ids")
    val e = intercept[Exception] {
      big.select(explode(Dedup.pairsFromSortedIds(col("ids")))).count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(m => m.contains("graft_pairs") && m.contains("maxBucketSize"))),
      s"expected the graft_pairs bucket-size error, got: $e")
  }

  test("lshCandidatePairs maxBucketSize drops degenerate buckets") {
    // every doc identical → one bucket of 5 per band; cap of 4 drops it
    val same = Seq.tabulate(5)(i => (i.toLong, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    assert(Dedup.lshCandidatePairs(same, "doc_id", "text").count() === 10)
    assert(Dedup.lshCandidatePairs(same, "doc_id", "text", maxBucketSize = 4).count() === 0)
  }

  test("cluster resolution of a clean corpus (zero pairs) is the identity") {
    val clean = Seq((7L, "x"), (8L, "y")).toDF("doc_id", "text")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val r = Dedup.resolveClusters(clean.select(col("doc_id")), "doc_id", noPairs)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    assert(r === Map(7L -> (7L, true), 8L -> (8L, true)))
    // and end-to-end: a corpus with no near-dups passes through whole
    assert(Dedup.deduplicate(clean, "doc_id", "text").count() === 2)
  }

  test("deduplicate keeps one survivor per near-dup cluster and all unique docs") {
    val out = Dedup.deduplicate(docs, "doc_id", "text", threshold = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 1,2,4 are one near-dup cluster (survivor 1); 3 and 5 are unique
    assert(out === Set(1L, 3L, 5L))
    assert(Dedup.deduplicate(docs, "doc_id", "text", threshold = 0.3).columns.toSeq
      === docs.columns.toSeq, "original columns, no bookkeeping residue")
  }

  test("connected components: transitive chain collapses, unpaired docs survive alone") {
    // A~B, B~C but NOT A~C: one cluster {1,2,3}; {10,11} a second;
    // 99 never paired — its own cluster
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val allDocs = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val r = Dedup.resolveClusters(allDocs, "doc_id", pairs)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getBoolean(2))).toMap
    assert(r(1L) === (1L, true) && r(2L) === (1L, false) && r(3L) === (1L, false))
    assert(r(10L) === (10L, true) && r(11L) === (10L, false))
    assert(r(99L) === (99L, true))
  }

  test("leakageSafeSplit: every near-dup cluster lands whole in one split") {
    import spark.implicits._
    val docs = (0L until 300L).toDF("doc_id")
    // chains of 3: (i, i+1), (i+1, i+2) for i = 0, 10, 20, ...
    val pairs = (0L until 300L by 10L)
      .flatMap(i => Seq((i, i + 1), (i + 1, i + 2)))
      .toDF("id_a", "id_b")
    val out = Dedup.leakageSafeSplit(docs, "doc_id", pairs,
      trainFrac = 0.7, valFrac = 0.15)
    val perCluster = out.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("nsplits"))
      .collect().map(_.getLong(1))
    assert(perCluster.forall(_ === 1L), "a cluster must never straddle splits")
    val bySplit = out.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit("train") > bySplit.getOrElse("test", 0L),
      s"0.7 train fraction should dominate, got $bySplit")
    val again = Dedup.leakageSafeSplit(docs.repartition(7), "doc_id",
        pairs.repartition(3), 0.7, 0.15)
      .select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out.select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === again)
  }

  test("connected components match a union-find reference on random graphs") {
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // min id per component
      val minOf = (0 until n).groupBy(find).map { case (r, m) => r -> m.min.toLong }
      (0 until n).map(i => i.toLong -> minOf(find(i))).toMap
    }
    val rnd = new scala.util.Random(3)
    (1 to 3).foreach { _ =>
      val n = 16
      val edges = Seq.fill(10)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val expected = unionFind(n, edges).filter { case (id, c) =>
        // CC only labels nodes that appear in an edge
        edges.exists(e => e._1 == id || e._2 == id) || c != id
      }
      for (algo <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
          df => Dedup.connectedComponents(df), // driver union-find fast path
          // distributed default above the limit = star (via dispatch)
          df => Dedup.connectedComponents(df, driverEdgeLimit = 0),
          df => Dedup.connectedComponentsStar(df))) {
        val got = algo(edges.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        expected.foreach { case (id, c) =>
          assert(got.get(id).contains(c), s"node $id: expected $c got ${got.get(id)} edges=$edges")
        }
      }
    }
  }

  test("both CC algorithms label self-loop-only nodes identically") {
    val pairs = Seq((7L, 7L), (3L, 1L)).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.connectedComponentsStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === Map(1L -> 1L, 3L -> 1L, 7L -> 7L))
    assert(star === local, "star must label the self-loop node like the driver fast path")
  }

  test("updateClusters: incremental fold-in equals full recompute (merges, attachments, novel components)") {
    // old graph: three 2-clusters; the batch merges two of them through
    // a fresh doc, attaches to a NON-min member, and adds a fully novel
    // pair — cluster 10/11 must pass through untouched-except-attach
    val e1 = Seq((1L, 2L), (5L, 6L), (10L, 11L)).toDF("id_a", "id_b")
    val base = Dedup.connectedComponents(e1)
    val e2 = Seq((2L, 100L), (100L, 6L), (11L, 200L), (300L, 301L)).toDF("id_a", "id_b")
    val got = Dedup.updateClusters(base, e2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(e1.unionByName(e2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === full, "incremental must equal the full recompute")
    assert(got(100L) === 1L && got(6L) === 1L, "merge through the fresh doc")
    assert(got(200L) === 10L, "attachment via the non-min member")
    assert(got(301L) === 300L, "novel component labels by its own min")
    // truly untouched clusters pass through without relabeling
    val e2b = Seq((300L, 301L)).toDF("id_a", "id_b")
    val untouched = Dedup.updateClusters(base, e2b)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(untouched === Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L, 300L -> 300L, 301L -> 300L))
    // random equivalence, driver AND distributed relabel paths
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { _ =>
      val edges = Seq.fill(30)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(e => e._1 != e._2)
      val (a, b) = edges.splitAt(edges.length / 2)
      val base2 = Dedup.connectedComponents(a.toDF("id_a", "id_b"))
      val fullG = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      for (limit <- Seq(1000000L, 0L)) {
        val inc = Dedup.updateClusters(base2, b.toDF("id_a", "id_b"),
            driverEdgeLimit = limit)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(inc === fullG, s"driverEdgeLimit=$limit edges=$edges")
      }
    }
  }

  test("removeMembers: takedown equals one-shot recompute (splits, removed-min relabel, dissolution)") {
    // chain 1-2-3-4-5 plus pair 10-11: removing 3 SPLITS the chain
    // into {1,2} and {4,5}; removing the min (1) of another run must
    // RAISE the surviving labels — the append-log monotonicity
    // violation that makes removal a rewrite
    def pairsAmong(pairs: Seq[(Long, Long)]) = (ms: org.apache.spark.sql.DataFrame) =>
      pairs.toDF("id_a", "id_b")
        .join(ms.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
        .join(ms.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val labels = Dedup.connectedComponents(e.toDF("id_a", "id_b"))
    val split = Dedup.removeMembers(labels, Seq(3L).toDF("id"), pairsAmong(e))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(split === Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L,
      10L -> 10L, 11L -> 10L), "untouched 10-11 passes through; chain splits")
    val minGone = Dedup.removeMembers(labels, Seq(1L).toDF("id"), pairsAmong(e))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(minGone(2L) === 2L && minGone(5L) === 2L,
      "removing the cluster's min must raise the label to the new min")
    // component dissolves to singletons: both 10 and 11's pair endpoints
    val dissolved = Dedup.removeMembers(labels, Seq(10L).toDF("id"), pairsAmong(e))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dissolved(11L) === 11L, "pairless survivor keeps a self-labeled row")
    assert(!dissolved.contains(10L), "removed ids must be ABSENT, not relabeled")
    // random equivalence vs one-shot cc over survivor-only edges,
    // driver AND distributed paths
    val rnd = new scala.util.Random(13)
    (1 to 3).foreach { _ =>
      val edges = Seq.fill(30)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(x => x._1 != x._2)
      val base = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      val baseIds = base.collect().map(_.getLong(0)).toSet
      val removed = baseIds.filter(_ % 3 == 0)
      val survEdges = edges.filter(x => !removed(x._1) && !removed(x._2))
      val oneShot = Dedup.connectedComponents(survEdges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = (baseIds -- removed).map(id =>
        id -> oneShot.getOrElse(id, id)).toMap
      for (limit <- Seq(1000000L, 0L)) {
        val got = Dedup.removeMembers(base, removed.toSeq.toDF("id"),
            pairsAmong(edges), driverEdgeLimit = limit)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expected, s"driverEdgeLimit=$limit edges=$edges removed=$removed")
      }
    }
  }

  test("star alternation collapses a long chain in O(log n) rounds") {
    // path 0-1-...-30: diameter 30, but large-star/small-star must
    // finish well inside 8 rounds (propagation would need 30)
    val chain = Seq.tabulate(30)(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponentsStar(chain, maxIterations = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size === 31 && cc.values.toSet === Set(0L), s"chain must collapse to 0, got $cc")
  }

  test("duplicateSpans: interval union, cross-doc-only hotness, short docs") {
    val docs = Seq(
      // d1/d2 share exactly one 5-token window ("a b c d e" at pos 0)
      (1L, "a b c d e f"),
      (2L, "a b c d e g"),
      // d3 too short for any window
      (3L, "x y"),
      // d4/d5 share a 7-token run: hot windows at pos 0,1,2 overlap —
      // union must be 7 tokens (5 + 1 + 1), not 15
      (4L, "h i j k l m n"),
      (5L, "h i j k l m n"),
      // d6 repeats a 5-token span WITHIN itself only: distinct-doc
      // frequency is 1, so nothing is hot
      (6L, "p q r s t z p q r s t")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, "doc_id", "text",
        windowTokens = 5, minDocFreq = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got(1L) === ((6L, 2L, 1L, 5L, 0.833333)))
    assert(got(2L) === ((6L, 2L, 1L, 5L, 0.833333)))
    assert(got(3L) === ((2L, 0L, 0L, 0L, 0.0)))
    assert(got(4L) === ((7L, 3L, 3L, 7L, 1.0)))
    assert(got(5L) === ((7L, 3L, 3L, 7L, 1.0)))
    assert(got(6L) === ((11L, 7L, 0L, 0L, 0.0)))
  }

  test("removeDuplicateSpans deletes covered tokens, keeps docs, preserves order") {
    val docs = Seq(
      (1L, "a b c d e f"),            // window "a b c d e" hot with d2 → only "f" survives
      (2L, "a b c d e g"),
      (3L, "x y"),                     // too short: untouched
      (4L, "h i j k l m n"),           // fully covered by overlapping hot windows
      (5L, "h i j k l m n"),
      (6L, "p q r s t z p q r s t"),   // within-doc repeat only: untouched
      // untouched docs come back VERBATIM — newlines, double spaces and
      // CJK per-character tokens must NOT be re-joined with spaces
      (7L, "line one\n\nline two  spaced"),
      (8L, "天地玄黄宇宙洪荒")
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(docs, "doc_id", "text",
        windowTokens = 5, minDocFreq = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((6L, 5L, "f")))
    assert(got(2L) === ((6L, 5L, "g")))
    assert(got(3L) === ((2L, 0L, "x y")))
    assert(got(4L) === ((7L, 7L, "")))
    assert(got(5L) === ((7L, 7L, "")))
    assert(got(6L) === ((11L, 0L, "p q r s t z p q r s t")))
    assert(got(7L) === ((5L, 0L, "line one\n\nline two  spaced")))
    assert(got(8L) === ((8L, 0L, "天地玄黄宇宙洪荒")))
  }

  test("duplicateSpansBytes: byte-exact boundaries, two-stage ≡ global (hand-computed)") {
    val S = "shared-core-20-chars" // exactly 20 chars
    val docs = Seq(
      // d1/d2 share exactly S between unique flanks: coverage must be
      // exactly S's 20 bytes (windows fully inside the run)
      (1L, "aaaa" + S + "bbbb"),
      (2L, "cccc" + S + "dddd"),
      (3L, "tiny"), // below one window
      // d4/d5 byte-identical: fully covered
      (4L, "identical-docs-pair-entirely-the-same!"),
      (5L, "identical-docs-pair-entirely-the-same!"),
      // within-doc repeat only: distinct-doc frequency 1, nothing hot
      (6L, "unique-run-12!unique-run-12!")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpansBytes(docs, "doc_id", "text",
        minRun = 12, k = 4, minDocFreq = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(1L) === ((28L, 9L, 20L, 0.714286)))
    assert(got(2L) === ((28L, 9L, 20L, 0.714286)))
    assert(got(3L) === ((4L, 0L, 0L, 0.0)))
    assert(got(4L) === ((38L, 27L, 38L, 1.0)))
    assert(got(5L) === ((38L, 27L, 38L, 1.0)))
    assert(got(6L) === ((28L, 0L, 0L, 0.0)))
  }

  test("removeDuplicateSpansBytes splices kept bytes verbatim around removed islands") {
    val S1 = "first-shared-run-one"  // 20 chars
    val S2 = "second-shared-run-2!"  // 20 chars
    val docs = Seq(
      (1L, "aaaa" + "shared-core-20-chars" + "bbbb"),
      (2L, "cccc" + "shared-core-20-chars" + "dddd"),
      (3L, "tiny"),
      (4L, "identical-docs-pair-entirely-the-same!"),
      (5L, "identical-docs-pair-entirely-the-same!"),
      // TWO islands per doc with unique middles: the splice must keep
      // flanks AND the middle byte-for-byte, in order. Boundary bytes
      // DIVERGE between the docs ("1"/"2") — a shared boundary byte
      // would legitimately extend the duplicated run past the planted
      // block (Lee's definition is byte-maximal, as the first cut of
      // this fixture taught)
      (7L, "e1" + S1 + "1mid1" + S2 + "1end"),
      (8L, "e2" + S1 + "2MID2" + S2 + "2end")
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpansBytes(docs, "doc_id", "text",
        minRun = 12, k = 4, minDocFreq = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((28L, 20L, "aaaabbbb")))
    assert(got(2L) === ((28L, 20L, "ccccdddd")))
    assert(got(3L) === ((4L, 0L, "tiny")))
    assert(got(4L) === ((38L, 38L, "")))
    assert(got(5L) === ((38L, 38L, "")))
    assert(got(7L) === ((51L, 40L, "e11mid11end")))
    assert(got(8L) === ((51L, 40L, "e22MID22end")))
  }

  test("ExactSubstr hotness gate survives a corpus-universal window (planted skew)") {
    // ONE 60-char block in EVERY doc: the hot hash's posting list is
    // the whole corpus. The gate must hold bounded per-group state
    // (min/max over the key partition — never a collected doc-id set
    // whose size grows with the hottest key) AND stay byte-exact.
    // Adjacent bytes are unique per doc (chars 0x400+i / 0x500+i), so
    // no duplicated run extends past the planted block.
    val B = "0123456789" * 6 // 60 chars, in every doc
    val docs = Seq.tabulate(120) { i =>
      (i.toLong, s"u$i${(1024 + i).toChar}$B${(1280 + i).toChar}${i}v")
    }.toDF("doc_id", "text").repartition(4)
    val plan = Dedup.duplicateSpansBytes(docs, "doc_id", "text",
      minRun = 12, k = 4, minDocFreq = 2)
    assert(!plan.queryExecution.executedPlan.toString.contains("collect_set"),
      "the hotness gate must never materialize a per-key distinct set")
    val rows = plan.collect()
    assert(rows.length === 120)
    rows.foreach { r =>
      assert(r.getLong(3) === 60L,
        s"doc ${r.getLong(0)}: covered_bytes must be exactly the planted block")
    }
    // the rewrite half on the same skewed corpus: every doc loses
    // exactly the block, keeps its unique flanks byte-for-byte
    val cleaned = Dedup.removeDuplicateSpansBytes(docs, "doc_id", "text",
        minRun = 12, k = 4, minDocFreq = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    (0L until 120L).foreach { i =>
      val (removed, clean) = cleaned(i)
      assert(removed === 60L)
      assert(clean === s"u$i${(1024 + i).toInt.toChar}${(1280 + i).toInt.toChar}${i}v")
    }
  }

  test("ExactSubstr gates honor minDocFreq > 2 (first-flag-sum branch)") {
    // the shared window sits in 3 docs; with minDocFreq=3 it is hot,
    // with minDocFreq=4 nothing is — and within-doc repeats never
    // inflate the distinct-doc count on the general branch either
    val S = "shared-core-20-chars"
    val docs = Seq(
      (1L, "aa" + S + "bb"),
      (2L, "cc" + S + "dd"),
      (3L, "ee" + S + "ff" + S + "gg"), // twice in ONE doc: counts once
      (4L, "plain unrelated text here")
    ).toDF("doc_id", "text")
    val at3 = Dedup.duplicateSpansBytes(docs, "doc_id", "text",
        minRun = 12, k = 4, minDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(at3(1L) === 20L && at3(2L) === 20L && at3(3L) === 40L && at3(4L) === 0L)
    val at4 = Dedup.duplicateSpansBytes(docs, "doc_id", "text",
        minRun = 12, k = 4, minDocFreq = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(at4.values.forall(_ === 0L), s"nothing reaches df 4, got $at4")
    // token grain, same branch: the 5-token window in 3 docs
    val tok = Seq((1L, "a b c d e x"), (2L, "a b c d e y"),
      (3L, "a b c d e z"), (4L, "q r s t u v")).toDF("doc_id", "text")
    val t3 = Dedup.duplicateSpans(tok, "doc_id", "text",
        windowTokens = 5, minDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(t3 === Map(1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 0L))
  }

  test("connectedComponents handles string ids on the distributed default path") {
    // string ids can never take the integral-id driver fast path, so
    // they always hit the distributed default (star). The convergence
    // signature must not do arithmetic on the ids: `src + dst` on
    // strings nulls out under non-ANSI Spark, collapsing the signature
    // to the edge count alone — which plateaus before the fixpoint on
    // a chain and silently mislabels.
    val pairs = Seq(("b", "a"), ("c", "b"), ("d", "c"), ("e", "d"))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "a"))
  }

  test("ngram jaccard verification: exact=1.0, near<1, threshold filters") {
    val nd = Dedup.nearDuplicates(docs, "doc_id", "text", threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(nd((1L, 4L)) === 1.0)
    nd.get((1L, 2L)).foreach(j => assert(j > 0.3 && j < 1.0))
  }

  test("ngramJaccardBlocked cap drops hot shingles; no-op cap keeps exact results") {
    // 5 docs share one stopword-ish shingle ("aa bb cc") and nothing
    // else: uncapped blocking joins all C(5,2)=10 pairs through it.
    val hot = Seq.tabulate(5)(i => (i.toLong, s"aa bb cc u$i v$i")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardBlocked(hot, "doc_id", "text", threshold = 0.01,
      maxShingleFreq = 0) // explicit opt-out of the default cap
    assert(uncapped.count() === 10)
    // cap below the shingle's doc-frequency: the hot shingle is dropped
    // from blocking, so no candidate pairs survive — the f²/2 blow-up
    // is bounded.
    val capped = Dedup.ngramJaccardBlocked(hot, "doc_id", "text",
      threshold = 0.01, maxShingleFreq = 4)
    assert(capped.count() === 0)
    // cap at/above the max doc-frequency is a no-op: exact parity.
    val noop = Dedup.ngramJaccardBlocked(hot, "doc_id", "text",
      threshold = 0.01, maxShingleFreq = 5)
    assert(noop.orderBy("id_a", "id_b").collect().toSeq ===
      uncapped.orderBy("id_a", "id_b").collect().toSeq)
  }

  test("ngramJaccardBlocked DEFAULT caps hot shingles (uncapped is opt-in)") {
    // 1030 docs all sharing the shingle "aa bb cc" and nothing else:
    // the default cap (1024) must drop it BEFORE pair generation —
    // C(1030,2) ≈ 530k pairs from one group is exactly the footgun the
    // default exists to prevent.
    val viral = Seq.tabulate(1030)(i => (i.toLong, s"aa bb cc u$i v$i"))
      .toDF("doc_id", "text")
    assert(Dedup.ngramJaccardBlocked(viral, "doc_id", "text",
      threshold = 0.01).count() === 0, "default drops the >1024-doc shingle")
    assert(Dedup.ngramJaccardBlocked(viral, "doc_id", "text",
      threshold = 0.01, maxShingleFreq = 0).count() === 1030L * 1029L / 2L,
      "explicit 0 opts out of the cap")
  }

  test("simhash bits come from the md5 hex prefix (oracle-portable definition)") {
    // One token votes every bit once, so simhash("abc") IS the token
    // hash: first 16 hex chars of md5("abc") = 0x900150983cd24fb0.
    val one = Seq(Tuple1("abc")).toDF("text")
    assert(one.select(Dedup.simhash(col("text"))).head.getLong(0) === 0x900150983CD24FB0L)
  }

  test("simhashNearDuplicates equals brute-force all-pairs on a 200-doc corpus") {
    // deterministic word-soup with enough collisions to produce pairs
    val words = (0 until 30).map(i => s"w$i")
    val corpus = (0L until 200L).map { i =>
      val toks = (0 until 12).map(j => words(((i * 7 + j * j + i % 13) % 30).toInt))
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val fromOp = Dedup.simhashNearDuplicates(corpus, "doc_id", "text", maxDistance = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sims = corpus.select(col("doc_id"), Dedup.simhash(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, sa) <- sims; (ib, sb) <- sims
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 6
    } yield (ia, ib)).toSet
    // blocking recall is exact up to distance 3 (pigeonhole over 4
    // blocks); at 6 it is a candidate filter — every reported pair must
    // be real, and all distance<=3 pairs must be found
    assert(fromOp.subsetOf(brute), "no false positives")
    val mustFind = (for {
      (ia, sa) <- sims; (ib, sb) <- sims
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(mustFind.subsetOf(fromOp), "exact recall at pigeonhole distance")
    assert(fromOp.nonEmpty, "corpus is collision-rich enough to be a real test")
  }

  test("simhash: identical texts distance 0, near-dups close, unrelated far") {
    val sims = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) === sims(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(1L), sims(2L)) < ham(sims(1L), sims(3L)))
    val nd = Dedup.simhashNearDuplicates(docs, "doc_id", "text", maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((1L, 4L)))
  }

  test("paragraphDedup drops cross-doc repeated paragraphs, keeps order, retains empty docs") {
    val corpus = Seq(
      (1L, "shared header\nunique one\nshared footer"),
      (2L, "shared header\nunique two\nshared footer"),
      (3L, "only original text here"),
      (4L, "shared header\nshared footer"),
      (5L, "solo para\nsolo para")) // repeated WITHIN one doc only — kept
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(corpus, "doc_id", "text", minDocFreq = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((3L, 1L, "unique one")))
    assert(out(2L) === ((3L, 1L, "unique two")))
    assert(out(3L) === ((1L, 1L, "only original text here")))
    assert(out(4L) === ((2L, 0L, "")), "fully-boilerplate doc stays as a row, empty")
    assert(out(5L) === ((2L, 2L, "solo para\nsolo para")),
      "within-doc repetition in a single doc is NOT corpus boilerplate")
  }

  test("paragraphDedup and relevance scorers tolerate null/empty text") {
    val corpus = Seq[(Long, String)]((1L, null), (2L, ""), (3L, "real body text"))
      .toDF("doc_id", "text")
    val pd = Dedup.paragraphDedup(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3)))).toMap
    assert(pd(1L) === ((0L, "")) && pd(2L) === ((0L, "")),
      "null/empty docs stay as rows with empty output")
    assert(pd(3L) === ((1L, "real body text")))
    val tf = Relevance.tfIdf(corpus, "doc_id", "text", topK = 2)
      .collect().map(_.getLong(0)).toSet
    assert(tf === Set(3L), "token-less docs simply have no terms")
    val bm = Relevance.bm25(corpus, "doc_id", "text", Seq("real"))
      .collect().map(_.getLong(0)).toSet
    assert(bm === Set(3L))
  }

  test("paragraphDedup is partitioning-invariant and respects minDocFreq") {
    val corpus = (0L until 60L).map { i =>
      val boiler = if (i % 2 == 0) "even boiler" else "odd boiler"
      (i, s"$boiler\nbody text number $i")
    }.toDF("doc_id", "text")
    val a = Dedup.paragraphDedup(corpus, "doc_id", "text", minDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).sortBy(_._1)
    val b = Dedup.paragraphDedup(corpus.repartition(7), "doc_id", "text", minDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).sortBy(_._1)
    assert(a.toSeq === b.toSeq, "result independent of input partitioning")
    assert(a.forall { case (i, kept, txt) => kept === 1L && txt === s"body text number $i" })
    val high = Dedup.paragraphDedup(corpus, "doc_id", "text", minDocFreq = 31)
      .collect().map(r => r.getLong(2))
    assert(high.forall(_ === 2L), "df=30 boiler stays under a 31-doc threshold")
  }

  test("containment catches subset duplication that Jaccard dilutes away") {
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val long = short + " " + (1 to 40).map(i => s"filler$i word$i extra$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long),
      (3L, "totally different content with other words entirely here now"))
      .toDF("doc_id", "text")
    // Jaccard(short, long) = |short|/|long| ≈ 6/126 — invisible at 0.8
    val jac = Dedup.ngramJaccardBlocked(docs, "doc_id", "text", threshold = 0.8)
    assert(jac.count() === 0L, "resemblance misses the quoted-subset pair")
    val con = Dedup.containmentPairsBlocked(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(con.length === 1 && con.head._1 === 1L && con.head._2 === 2L)
    assert(con.head._3 === 1.0, "every shingle of the short doc is in the long one")
    assert(con.head._4 < 0.2, "the reverse direction stays small")
    val again = Dedup.containmentPairsBlocked(docs.repartition(7), "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(con.toSeq === again.sortBy(_._1).toSeq)
  }

  test("containment respects the shingle-frequency cap and both-direction gate") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "a b c d e f z")).toDF("doc_id", "text")
    // identical docs: containment 1.0 both ways
    val con = Dedup.containmentPairsBlocked(docs, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(con.contains((1L, 2L)), "identical pair passes both directions")
    assert(con.contains((1L, 3L)) && con.contains((2L, 3L)),
      "4-of-4 shingles of the shorter side contained -> one-direction pass")
    // cap = 1 drops every shared shingle (each appears in >= 2 docs)
    val capped = Dedup.containmentPairsBlocked(docs, "doc_id", "text", 0.9,
      maxShingleFreq = 1)
    assert(capped.count() === 0L)
  }

  test("editVerifiedPairs is order-sensitive where Jaccard is not") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val shuffled = (1 to 30).reverse.map(i => s"w$i").mkString(" ")
    val nearClone = base.replace("w17", "w17x")
    val docs = Seq((1L, base), (2L, shuffled), (3L, nearClone),
      (4L, "unrelated words that never match anything else at all"))
      .toDF("doc_id", "text")
    // bag-of-words identical: the shuffled copy passes the Jaccard verifier
    val jac = Dedup.nearDuplicates(docs, "doc_id", "text", threshold = 0.8,
        shingleSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.contains((1L, 2L)), "unigram Jaccard cannot see token order")
    // edit distance separates the clone from the shuffle (bands=16 ->
    // single-hash bands: one shared minhash value makes a candidate,
    // so near-identical unigram sets are deterministically candidates)
    val ed = Dedup.editVerifiedPairs(docs, "doc_id", "text", threshold = 0.8,
        k = 16, bands = 16, shingleSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(ed.contains((1L, 3L)), "one-token edit survives the 0.8 gate")
    assert(ed((1L, 3L))._1 === 1L, "exactly one byte inserted")
    assert(!ed.contains((1L, 2L)), "sentence-shuffled copy fails the order-sensitive gate")
    // byte-level semantics: a CJK char substitution costs its UTF-8
    // bytes (中 E4B8AD -> 文 E69687: all three differ), not 1
    val ws = (1 to 30).map(i => s"v$i").mkString(" ")
    val cjk = Seq((1L, s"$ws 中"), (2L, s"$ws 文"), (3L, s"$ws 中"))
      .toDF("doc_id", "text")
    val lev = Dedup.editVerifiedPairs(cjk, "doc_id", "text", threshold = 0.8,
        k = 16, bands = 16, shingleSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(lev((1L, 3L)) === 0L)
    assert(lev((1L, 2L)) === 3L, "3-byte CJK substitution = 3 byte edits")
  }

  test("winnowingOverlapPairs: clones pair up, partitioning-invariant, cap bounds hot fingerprints") {
    val body = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, body), (2L, body + " tail extra words"),
      (3L, "another corpus entirely with its own distinct vocabulary here"))
      .toDF("doc_id", "text")
    val got = Dedup.winnowingOverlapPairs(docs, "doc_id", "text", n = 3, w = 4,
        minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(t => (t._1, t._2)).toSeq === Seq((1L, 2L)))
    assert(got.head._4 === 1.0, "every fingerprint of the prefix doc is shared")
    val again = Dedup.winnowingOverlapPairs(docs.repartition(7), "doc_id", "text",
        3, 4, 2L).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(again.toSeq === got.toSeq)
    // a fingerprint shared by every doc is dropped at cap 1 -> no pairs
    val capped = Dedup.winnowingOverlapPairs(docs, "doc_id", "text", 3, 4, 2L,
      maxFpFreq = 1)
    assert(capped.count() === 0L)
  }
}

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  val vecs = Seq(
    (0L, Array(1f, 0f, 0f, 0f)),
    (1L, Array(0.9f, 0.1f, 0f, 0f)), // close to 0
    (2L, Array(0f, 1f, 0f, 0f)),
    (3L, Array(0f, 0f, 1f, 0f)),
    (4L, Array(-1f, 0f, 0f, 0f))     // opposite of 0
  ).toDF("vec_id", "embedding")

  test("cosine: orthogonal 0, identical-direction 1, opposite -1") {
    val df = Seq((Array(1f, 0f), Array(0f, 1f), Array(2f, 0f), Array(-3f, 0f)))
      .toDF("a", "b", "c", "d")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")),
      Similarity.cosine(col("a"), col("c")),
      Similarity.cosine(col("a"), col("d"))).head
    assert(r.getDouble(0) === 0.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(2) + 1.0) < 1e-12)
  }

  test("brute-force topK ranks the closest neighbor first") {
    val top = Similarity.bruteForceTopK(vecs.filter(col("vec_id") === 0), vecs, k = 2)
      .orderBy("rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") === 1L)
    assert(top(0).getAs[Long]("rank") === 1L)
    assert(top.length === 2)
  }

  test("a zero-norm embedding scores cosine 0.0 — never NaN rank-1 / spurious dup") {
    // Spark orders NaN ABOVE every real double and NaN >= t is TRUE:
    // an unguarded 0/0 would rank a zero vector (failed embedding,
    // padding row) first in every top-k and flag it at every gate
    val withZero = vecs.unionByName(Seq((99L, Array(0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding"))
    val top = Similarity.bruteForceTopK(
        withZero.filter(col("vec_id") === 0), withZero, k = 3)
      .orderBy("rank").collect()
    assert(top.map(_.getAs[Long]("neighbor_id")).head === 1L,
      "real neighbor still ranks first")
    assert(top.filter(_.getAs[Long]("neighbor_id") == 99L)
      .forall(_.getAs[Double]("cosine") === 0.0), "zero vector scores 0.0")
    // both paths (SRP-bucketed and exact planes<=0) must agree: the
    // zero vector is nobody's near-duplicate
    Seq(8, 0).foreach { planes =>
      val dups = Similarity.nearDuplicates(withZero, threshold = 0.9,
        planes = planes)
      assert(!dups.collect().exists(r =>
          r.getLong(0) == 99L || r.getLong(1) == 99L),
        s"zero vector flagged at planes=$planes")
    }
  }

  test("hammingNearDupPairs excludes null hashes — no pairwise null-bucket 'duplicates'") {
    val hashes = Seq((1L, java.lang.Long.valueOf(0x0F0FL)),
      (2L, java.lang.Long.valueOf(0x0F0FL)),
      (3L, null.asInstanceOf[java.lang.Long]),
      (4L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "h")
    val pairs = Dedup.hammingNearDupPairs(hashes, "id", "h", maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the real pair survives; the two null-hash docs (undecodable
    // media) must NOT collide in the null-key buckets as hamming-0
    assert(pairs === Set((1L, 2L)), s"got $pairs")
  }

  test("IVF: assignment picks the nearest centroid; search stays within probed lists") {
    // centroids along the axes; vectors cluster around them
    val centroids = Seq((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)))
      .toDF("cid", "embedding")
    val assigned = Similarity.ivfAssign(vecs, centroids)
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned(0L) === 0L && assigned(1L) === 0L, "x-direction vectors → centroid 0")
    assert(assigned(2L) === 1L, "y-direction vector → centroid 1")
    val top = Similarity.ivfSearch(vecs.filter(col("vec_id") === 0), vecs, centroids,
      k = 2, nProbe = 1).orderBy("rank").collect()
    assert(top.head.getAs[Long]("neighbor_id") === 1L, "nearest neighbor from own list first")
    // with nProbe=1, only centroid-0's list is visited — vector 2 (list 1) unreachable
    assert(!top.map(_.getAs[Long]("neighbor_id")).contains(2L))
  }

  test("float-array expressions reject array<double> at analysis instead of reading garbage") {
    val doubles = Seq((0L, Array(1.0, 0.0))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      doubles.select(Similarity.cosine(col("embedding"), col("embedding"))).collect()
    }
    assert(e.getMessage.contains("array<float>"), s"wrong error: ${e.getMessage}")
    val e2 = intercept[Exception] {
      doubles.select(Similarity.srpBucket(col("embedding"), 4)).collect()
    }
    assert(e2.getMessage.contains("array<float>"), s"wrong error: ${e2.getMessage}")
  }

  test("native IVF assignment ≡ the crossJoin+window reference form") {
    // 40 pseudo-random 8-dim vectors, 5 centroids — argmin and
    // tie-breaks must agree with the joined form bit-for-bit
    def vec(seed: Int) = Array.tabulate(8)(d => (((seed * 31 + d) % 17) - 8) / 8f)
    val corpus = Seq.tabulate(40)(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val cents = Seq.tabulate(5)(i => (i.toLong, vec(100 + i))).toDF("cid", "embedding")
    val native = Similarity.ivfAssign(corpus, cents)
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val joined = Similarity.ivfAssignJoined(corpus, cents)
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native === joined)
    // exact ties (duplicate centroids) resolve to the smaller cid
    val dupCents = Seq((7L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (3L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))).toDF("cid", "embedding")
    val tied = Similarity.ivfAssign(corpus.limit(3), dupCents)
      .select("cluster").collect().map(_.getLong(0))
    assert(tied.forall(_ === 3L))
  }

  test("trained IVF codebook beats seed centroids on recall@k") {
    // two tight clusters far apart, ids 0-29 in A and 30-59 in B: the
    // lowest-id seed codebook puts BOTH centroids inside cluster A, so
    // B's vectors scatter across the two inverted lists and nProbe=1
    // misses neighbors; Lloyd's rounds must pull one centroid over to B
    val rnd = new scala.util.Random(11)
    def jitter(base: Array[Float]) = base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.1f)
    val a = Array(10f, 0f, 0f, 0f)
    val b = Array(0f, 10f, 0f, 0f)
    val corpus = Seq.tabulate(60)(i => (i.toLong, jitter(if (i < 30) a else b)))
      .toDF("vec_id", "embedding")
    val probes = corpus.filter(col("vec_id") === 0 || col("vec_id") === 1 ||
      col("vec_id") === 30 || col("vec_id") === 31)
    def recall(centroids: org.apache.spark.sql.DataFrame): Double = {
      val truth = Similarity.bruteForceTopK(probes, corpus, k = 5)
        .select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Similarity.ivfSearch(probes, corpus, centroids, k = 5, nProbe = 1)
        .select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth & got).size.toDouble / truth.size
    }
    val seedCents = corpus.filter(col("vec_id") < 2)
      .select(col("vec_id").as("cid"), col("embedding"))
    val trained = Similarity.trainCodebook(corpus, k = 2, iterations = 4)
    val (rSeed, rTrained) = (recall(seedCents), recall(trained))
    assert(rTrained > rSeed, s"trained $rTrained must beat seed $rSeed")
    assert(rTrained > 0.9, s"trained codebook should separate the clusters, got $rTrained")
  }

  test("codebook training at 256 dims: O(1)-in-dims agg plan, recall property holds") {
    // two far-apart clusters in 256-dim space, both seeds inside A —
    // the same shape as the 4-dim recall test, at realistic dims
    val dims = 256
    val rnd = new scala.util.Random(17)
    def mk(hot: Int) = Array.tabulate(dims)(d =>
      (if (d == hot) 10f else 0f) + (rnd.nextFloat() - 0.5f) * 0.1f)
    val corpus = Seq.tabulate(40)(i => (i.toLong, mk(if (i < 20) 0 else 1)))
      .toDF("vec_id", "embedding")
    val trained = Similarity.trainCodebook(corpus, k = 2, iterations = 3)
    val cents = trained.orderBy("cid").collect().map(_.getSeq[Float](1))
    assert(cents.forall(_.length === dims))
    // Lloyd's must have pulled one centroid to each cluster
    val hotAxes = cents.map(_.zipWithIndex.maxBy(x => math.abs(x._1))._2).toSet
    assert(hotAxes === Set(0, 1), s"one centroid per cluster axis, got $hotAxes")
    // the per-round aggregate carries ONE buffer, not `dims` avg columns
    val cids = Array(0L, 1L)
    val cembs = Array(mk(0), mk(1))
    val plan = Similarity.clusterMeans(corpus, cids, cembs, "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("avg("), s"per-dim scalar avgs back in the plan:\n$plan")
    assert(plan.contains("Aggregate"), s"no aggregate in plan:\n$plan")
    assert("partial_".r.findAllIn(plan).nonEmpty, s"map-side combine missing:\n$plan")
  }

  test("int8 quantization roundtrip: small error, cosine preserved, zero-vector safe") {
    val rnd = new scala.util.Random(9)
    val vecs2 = (Seq.tabulate(20)(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1))) :+
      (99L, Array.fill(8)(0f))).toDF("vec_id", "embedding")
    val rt = vecs2.select(col("vec_id"), col("embedding"),
      Similarity.dequantize(Similarity.quantize(col("embedding"))).as("back"))
    rt.collect().foreach { r =>
      val orig = r.getSeq[Float](1)
      val back = r.getSeq[Float](2)
      val maxAbs = orig.map(math.abs).max
      orig.zip(back).foreach { case (o, b) =>
        assert(math.abs(o - b) <= maxAbs / 127f + 1e-6, s"vec ${r.getLong(0)}: $o vs $b")
      }
    }
    // cosine between original and dequantized stays ~1 for non-zero vectors
    val cos = rt.filter(col("vec_id") =!= 99L)
      .select(Similarity.cosine(col("embedding"), col("back"))).collect()
    cos.foreach(r => assert(r.getDouble(0) > 0.995, s"cosine degraded: ${r.getDouble(0)}"))
  }

  test("quantized IVF search: int8 cosine within quantization error, same top-k shape") {
    val rnd = new scala.util.Random(21)
    def jitter(base: Array[Float]) = base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.2f)
    val a = Array(5f, 1f, 0f, 0f)
    val b = Array(0f, 1f, 5f, 0f)
    val corpus = Seq.tabulate(40)(i => (i.toLong, jitter(if (i < 20) a else b)))
      .toDF("vec_id", "embedding")
    val cents = corpus.filter(col("vec_id") === 0 || col("vec_id") === 20)
      .select(col("vec_id").as("cid"), col("embedding"))
    val probes = corpus.filter(col("vec_id") < 4)
    val f = Similarity.ivfSearch(probes, corpus, cents, k = 5, nProbe = 1)
      .select("probe_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val q = Similarity.ivfSearchQuantized(probes, corpus, cents, k = 5, nProbe = 1)
      .select("probe_id", "neighbor_id", "qcosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // same candidate lists → every scored pair exists in both; the int8
    // cosine stays within the quantization error bound of the float one
    val common = f.keySet & q.keySet
    assert(common.size >= probes.count() * 3, "quantized search must retrieve real candidates")
    common.foreach { k =>
      assert(math.abs(f(k) - q(k)) < 0.02, s"pair $k: float ${f(k)} vs int8 ${q(k)}")
    }
    // integer kernel ≡ the composed aggregate form on the codes
    val codes = corpus.select(Similarity.quantize(col("embedding")).getField("codes").as("c"))
    val both = codes.crossJoin(codes.select(col("c").as("c2")))
      .select(Similarity.int8Dot(col("c"), col("c2")).as("native"),
        aggregate(zip_with(col("c"), col("c2"),
          (x, y) => x.cast("long") * y.cast("long")), lit(0L), (acc, v) => acc + v).as("composed"))
      .collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("exact near-dup mode refuses an oversized corpus unless the limit is raised") {
    val big = (0L until 50L).map(i =>
      (i, Array.tabulate(4)(d => (i * 7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.nearDuplicates(big, threshold = 0.9, planes = 0, exactRowLimit = 10)
        .collect()
    }
    assert(ex.getMessage.contains("exactRowLimit"),
      "the guard must name the knob that lifts it")
    // raising the limit explicitly opts in and the collect proceeds
    val ok = Similarity.nearDuplicates(big, threshold = 0.999999, planes = 0,
      exactRowLimit = 50)
    assert(ok.count() >= 0L)
  }

  test("multi-table SRP near-dup finds the close pair without any collect") {
    val nd = Similarity.nearDuplicates(vecs, threshold = 0.9, planes = 2, tables = 3)
    assert(nd.queryExecution.executedPlan.toString.contains("Join"))
    val pairs = nd.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L)), "only the near-identical direction pair survives")
  }

  test("compact (embedding-carrying) near-dup form == ids-only form, two exchanges, no join") {
    val wide = (0L until 60L).map(i =>
      (i, Array.tabulate(12)(d => (math.sin(i / 3 * 17 + d) * 4).toFloat)))
      .toDF("vec_id", "embedding").repartition(5)
    val a = Similarity.nearDuplicates(wide, threshold = 0.8, planes = 2, tables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val compact = Similarity.nearDuplicatesCompact(wide, threshold = 0.8,
      planes = 2, tables = 4)
    val b = compact.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a === b, "the two forms must emit identical verified pairs")
    assert(a.nonEmpty, "the synthetic corpus must actually produce near-dups")
    val p = compact.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "in-group verification — no embedding re-joins")
    assert(p.contains("graft_cosine_pairs"), "the native in-group kernel")
  }

  test("native srpBucket equals the composed-built-ins reference definition") {
    val both = vecs.select(
      Similarity.srpBucket(col("embedding"), 8, planeOffset = 5).as("native"),
      Similarity.srpBucketComposed(col("embedding"), 8, planeOffset = 5).as("composed"))
      .collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("SRP bucketing groups same-direction vectors (approximate path)") {
    val buckets = vecs.select(col("vec_id"), Similarity.srpBucket(col("embedding"), 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(0L) === buckets(1L), "near-identical directions share all sign bits")
    assert(buckets(0L) !== buckets(4L), "opposite vectors flip every sign bit")
  }

  // deterministic 16-dim corpus for the PQ specs: 4 subspaces of 4 dims
  private def pqCorpus(n: Int): org.apache.spark.sql.DataFrame =
    (0L until n.toLong).map { i =>
      (i, Array.tabulate(16)(d => (math.sin(i * 31 + d * 7) * 10).toFloat))
    }.toDF("vec_id", "embedding")

  test("pqSeedCodebook: m×k rows, dsub-dim centroids = lowest-id subvector slices") {
    val df = pqCorpus(20)
    val book = Similarity.pqSeedCodebook(df, m = 4, k = 3).collect()
    assert(book.length === 12)
    val byKey = book.map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Float](2)).toMap
    assert(byKey.values.forall(_.length === 4))
    val v1 = df.filter(col("vec_id") === 1L).head.getSeq[Float](1)
    assert(byKey((2, 1L)) === v1.slice(8, 12), "cid 1, sub 2 = vec 1 dims 8-11")
  }

  test("pqEncode: seed vectors encode to their own cid; codes bounded by k") {
    val df = pqCorpus(50)
    val book = Similarity.pqSeedCodebook(df, m = 4, k = 4)
    val codes = Similarity.pqEncode(df, book, m = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    (0 until 4).foreach { i =>
      assert(codes(i.toLong) === Seq.fill(4)(i),
        s"seed vector $i is distance-0 from its own centroids")
    }
    assert(codes.values.flatten.forall(c => c >= 0 && c < 4))
  }

  test("pqSearchADC equals brute-force cosine against the PQ-reconstructed corpus") {
    val df = pqCorpus(40)
    val m = 4; val dsub = 4
    val book = Similarity.pqSeedCodebook(df, m = m, k = 4)
    val codes = Similarity.pqEncode(df, book, m = m)
    val probes = df.filter(col("vec_id") < 3)
    val got = Similarity.pqSearchADC(probes, codes, book, k = 2, m = m)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // reference: reconstruct each vector from its codes, score exact cosine
    val bookMap = book.collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1)) -> r.getSeq[Float](2).toArray).toMap
    val codeMap = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val vecMap = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def recon(id: Long): Array[Float] =
      (0 until m).flatMap(j => bookMap((j.toLong, codeMap(id)(j).toLong))).toArray
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    for (p <- 0L until 3L) {
      val expect = vecMap.keys.filter(_ != p).map { n =>
        val r = recon(n)
        n -> dot(vecMap(p), r) / (math.sqrt(dot(vecMap(p), vecMap(p))) * math.sqrt(dot(r, r)))
      }.toSeq.sortBy { case (n, c) => (-c, n) }.take(2)
      expect.zipWithIndex.foreach { case ((n, c), ix) =>
        val (gotN, gotC) = got((p, ix + 1L))
        assert(gotN === n, s"probe $p rank ${ix + 1}")
        assert(math.abs(gotC - c) < 1e-6, s"ADC cosine ≈ reconstructed cosine for $p→$n")
      }
    }
  }

  test("pqTrainCodebook cuts mean quantization error vs the seed codebook") {
    val df = pqCorpus(120)
    val m = 4
    def mse(book: org.apache.spark.sql.DataFrame): Double = {
      val bookMap = book.collect()
        .map(r => (r.getInt(0).toLong, r.getLong(1)) -> r.getSeq[Float](2).toArray).toMap
      val codeMap = Similarity.pqEncode(df, book, m = m).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val vecMap = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      vecMap.map { case (id, v) =>
        val r = (0 until m).flatMap(j => bookMap((j.toLong, codeMap(id)(j).toLong)))
        v.zip(r).map { case (a, b) => (a - b) * (a - b) }.sum.toDouble
      }.sum / vecMap.size
    }
    val seed = Similarity.pqSeedCodebook(df, m = m, k = 4)
    val trained = Similarity.pqTrainCodebook(df, m = m, k = 4, iterations = 3)
    assert(mse(trained) < mse(seed), "Lloyd's rounds must reduce reconstruction error")
  }

  test("semanticDedup: in-cluster near-dups collapse to the min id; distinct vectors survive") {
    // pairs of near-identical directions plus singletons
    val base = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.99f, 0.01f, 0f, 0f)),  // ≈ vec 0 → drop
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0f, 0.99f, 0.01f, 0f)),  // ≈ vec 2 → drop
      (4L, Array(0f, 0f, 1f, 0f)),
      (5L, Array(0.5f, 0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    val cents = base.filter(col("vec_id").isin(0L, 2L, 4L))
      .select(col("vec_id").as("cid"), col("embedding"))
    val kept = Similarity.semanticDedup(base, cents, threshold = 0.95)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 2L, 4L, 5L))
    val capped = Similarity.semanticDedup(base, cents, threshold = 0.95,
      maxClusterSize = 1).collect().map(_.getLong(0)).toSet
    assert(capped === Set(0L, 1L, 2L, 3L, 4L, 5L),
      "capped-out clusters generate no pairs — every member survives")
  }

  test("coarseResiduals: coarse members residual to zero; clusters recorded") {
    val df = pqCorpus(20)
    val cents = df.filter(col("vec_id") < 3)
      .select(col("vec_id").as("cid"), col("embedding"))
    val res = Similarity.coarseResiduals(df, cents)
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Float](1), r.getLong(2)))).toMap
    (0L until 3L).foreach { i =>
      assert(res(i)._2 === i, s"coarse member $i is its own nearest centroid")
      assert(res(i)._1.forall(_ === 0f), "own-centroid residual is the zero vector")
    }
    assert(res.values.exists(_._1.exists(_ != 0f)), "non-members have real residuals")
  }

  test("ivfPqSearch equals the hand-computed residual ADC reference") {
    val df = pqCorpus(40)
    val m = 4
    val coarse = df.filter(col("vec_id") < 3)
      .select(col("vec_id").as("cid"), col("embedding"))
    val resBook = Similarity.pqSeedCodebook(
      Similarity.coarseResiduals(df, coarse).filter(col("vec_id") >= 3), m = m, k = 4)
    val encoded = Similarity.ivfPqEncode(df, coarse, resBook, m = m)
    val got = Similarity.ivfPqSearch(df.filter(col("vec_id") < 2), encoded, coarse,
        resBook, k = 2, nProbe = 2, m = m)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // reference: float residuals + per-sub L2² lookups, all in plain Scala
    val vecMap = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cents = (0 until 3).map(i => i.toLong -> vecMap(i.toLong)).toMap
    val bookMap = resBook.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Float](2).toArray).toMap
    val enc = encoded.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Int](2)))).toMap
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d.toDouble * d.toDouble; i += 1 }
      s
    }
    def resid(v: Array[Float], cid: Long): Array[Float] =
      v.zip(cents(cid)).map { case (a, b) => a - b }
    got.foreach { case ((p, _), (n, adc)) =>
      val (nCluster, codes) = enc(n)
      val pres = resid(vecMap(p), nCluster)
      val expect = (0 until m).map { j =>
        d2(pres.slice(j * 4, j * 4 + 4), bookMap((j, codes(j).toLong)))
      }.sum
      assert(math.abs(adc - expect) < 1e-6, s"probe $p vs $n: $adc vs $expect")
    }
  }

  test("clusterBalancedSample: exact per-cluster counts, stable under repartition") {
    val df = pqCorpus(80)
    val cents = df.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding"))
    val a = Similarity.clusterBalancedSample(df, cents, perCluster = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    val b = Similarity.clusterBalancedSample(df.repartition(7), cents, perCluster = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(a.toSeq === b.toSeq)
    val perCluster = a.groupBy(_._2).view.mapValues(_.length)
    assert(perCluster.values.forall(_ <= 5), "hard per-cluster cap")
  }

  test("clusterCentroids: native micro-sum kernel == posexplode reference, exact") {
    val df = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => ((i * 31 + d * 7) % 17 - 8) / 9.0f), i % 3)
    }.toDF("vec_id", "embedding", "cluster")
    val native = Similarity.clusterCentroids(df, "cluster", "embedding")
      .select(col("cluster"), col("n_vecs"),
        posexplode(col("centroid")).as(Seq("dim", "c")))
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> ((r.getLong(1), r.getDouble(3))))
      .toMap
    val ref = Similarity.clusterCentroidsExploded(df, "cluster", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(native.size === 24, "3 clusters x 8 dims")
    assert(native === ref, "native aggregate must equal the exploded reference exactly")
  }

  test("clusterCentroids is partitioning-invariant (integer micro-sums)") {
    val df = (0L until 50L).map { i =>
      (i, Array.tabulate(6)(d => math.sin(i * 1.7 + d).toFloat), i % 4)
    }.toDF("vec_id", "embedding", "cluster")
    val a = Similarity.clusterCentroids(df, "cluster", "embedding")
      .orderBy("cluster").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    val b = Similarity.clusterCentroids(df.repartition(13), "cluster", "embedding")
      .orderBy("cluster").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    assert(a.toSeq === b.toSeq)
  }

  test("clusterCentroids: null embeddings skipped; mismatched dims throw") {
    val withNull = Seq(
      (0L, Array(1f, 1f), 0L), (1L, null.asInstanceOf[Array[Float]], 0L),
      (2L, Array(3f, 5f), 0L)
    ).toDF("vec_id", "embedding", "cluster")
    val r = Similarity.clusterCentroids(withNull, "cluster", "embedding").head
    assert(r.getLong(1) === 2L, "null row must not count")
    assert(r.getSeq[Double](2) === Seq(2.0, 3.0))
    val bad = Seq((0L, Array(1f, 2f), 0L), (1L, Array(1f, 2f, 3f), 0L))
      .toDF("vec_id", "embedding", "cluster")
    val e = intercept[Exception] {
      Similarity.clusterCentroids(bad, "cluster", "embedding").collect()
    }
    assert(e.getMessage != null)
  }

  test("clusterCentroids plan: one aggregation, no posexplode of the corpus") {
    val df = (0L until 20L).map(i => (i, Array(1f, 2f, 3f), i % 2))
      .toDF("vec_id", "embedding", "cluster")
    val p = Similarity.clusterCentroids(df, "cluster", "embedding")
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_vec_sum"), "the native kernel must plan")
    assert(!p.contains("Generate"), "no ×dims explode before the aggregation")
  }

  test("annRecallAudit: recall monotone in nProbe, exactly 1.0 when every list is probed") {
    // 40 vectors in 4 well-separated direction clusters
    val vecs = (0L until 40L).map { i =>
      val c = (i % 4).toInt
      val base = Array.fill(8)(0f)
      base(c) = 10f
      (i, base.zipWithIndex.map { case (v, d) =>
        v + (math.sin(i * 7 + d) * 0.5).toFloat })
    }.toDF("vec_id", "embedding")
    val centroids = vecs.filter($"vec_id" < 4)
      .select($"vec_id".as("cid"), $"embedding")
    val out = Similarity.annRecallAudit(
        probes = vecs.filter($"vec_id" < 12), corpus = vecs,
        centroids = centroids, k = 3, nProbeConfigs = Seq(1, 2, 4))
      .collect().map(r => r.getAs[Long]("n_probe") ->
        ((r.getAs[Long]("n_hits"), r.getAs[Long]("n_true"),
          r.getAs[Double]("recall")))).toMap
    assert(out.keySet === Set(1L, 2L, 4L), "every configured row present")
    assert(out(1L)._2 === 36L, "truth is probes × k")
    // more probed lists can only add candidates (supersets) => recall
    // is monotone non-decreasing
    assert(out(1L)._1 <= out(2L)._1 && out(2L)._1 <= out(4L)._1)
    // nProbe = |centroids| probes everything: candidate set == exact
    // search's, so the top-k MUST agree pair for pair
    assert(out(4L)._3 === 1.0, s"full probe must have recall 1.0: $out")
    // the 1.0 above uses the shared-pass truth shortcut (maxNp ==
    // |centroids|); a run withOUT a full-probe config takes the
    // brute-force fallback — both truths must produce identical
    // hit counts for the shared configs
    val fallback = Similarity.annRecallAudit(
        probes = vecs.filter($"vec_id" < 12), corpus = vecs,
        centroids = centroids, k = 3, nProbeConfigs = Seq(1, 2))
      .collect().map(r => r.getAs[Long]("n_probe") ->
        ((r.getAs[Long]("n_hits"), r.getAs[Long]("n_true")))).toMap
    assert(fallback(1L) === ((out(1L)._1, out(1L)._2)) &&
      fallback(2L) === ((out(2L)._1, out(2L)._2)),
      "shortcut truth (full-probe branch) == brute-force truth, config for config")
  }

  test("annRecallAuditMulti == stacked single audits, codebook for codebook") {
    val corpus = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val probes = corpus.filter($"vec_id" < 6)
    val cbA = corpus.filter($"vec_id" < 4)
      .select($"vec_id".as("cid"), $"embedding")
    val cbB = corpus.filter($"vec_id" >= 56)
      .select(($"vec_id" - 56).as("cid"), $"embedding")
    val fused = Similarity.annRecallAuditMulti(probes, corpus,
        Seq("a" -> cbA, "b" -> cbB), k = 3, Seq(1, 2))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    Seq("a" -> cbA, "b" -> cbB).foreach { case (tag, cb) =>
      val single = Similarity.annRecallAudit(probes, corpus, cb, k = 3, Seq(1, 2))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      Seq(1L, 2L).foreach { np =>
        assert(fused((tag, np)) === single(np),
          s"fused audit must equal the per-codebook audit for $tag nProbe=$np")
      }
    }
  }

  test("seedCodebookFarthest: spread seeds reach distant clusters lowest-id seeding misses") {
    // 3 tight clusters; ids 0-3 all sit in cluster A, so lowest-id
    // 3-seeding stays inside A while farthest-first must visit B and C
    val a = (0L until 4L).map(i => (i, Array(0f + i * 0.01f, 0f)))
    val b = (4L until 8L).map(i => (i, Array(10f, 10f + i * 0.01f)))
    val c = (8L until 12L).map(i => (i, Array(-10f + i * 0.01f, 10f)))
    val corpus = (a ++ b ++ c).toDF("vec_id", "embedding")
    val seeds = Similarity.seedCodebookFarthest(corpus, k = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(seeds.keySet === Set(0L, 1L, 2L), "cids are 0..k-1 in selection order")
    assert(seeds(0L).head < 1f && seeds(0L)(1) < 1f, "seed 0 = lowest id (cluster A)")
    val regions = seeds.values.map { v =>
      if (v.head < 5f && v.head > -5f) "A" else if (v.head > 5f) "B" else "C"
    }.toSet
    assert(regions === Set("A", "B", "C"),
      s"farthest-first must cover every cluster, got $regions")
    val again = Similarity.seedCodebookFarthest(corpus.repartition(7), k = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(seeds === again, "deterministic under repartition")
    // the sampled (kmeans‖-shaped) path degenerates to the exact greedy
    // when the sample covers the corpus — same seeds, same order
    val sampled = Similarity.seedCodebookFarthest(corpus, k = 3, sampleSize = 100)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(sampled === seeds, "sample ⊇ corpus -> sampled == exact")
  }

  test("kmeansAudit: inertia falls monotonically, reassignments dwindle, converged run reports zero moves") {
    // two tight blobs keyed by id parity, so the two lowest-id seeds
    // start one per blob; k=2 then converges in round 1 and stays put
    val vecs = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) 0.0f else 10.0f
      (i, Array(base + (i / 2) * 0.01f, base - (i / 2) * 0.01f))
    }.toDF("vec_id", "embedding")
    val audit = Similarity.kmeansAudit(vecs, k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(audit.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(audit.head._3 === -1L, "round 1 has no previous assignment")
    // Lloyd guarantee: inertia never increases round over round
    audit.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2, s"inertia rose: ${a._2} -> ${b._2}")
    }
    // seeds 0 and 1 both sit in blob A; the update must pull one
    // centroid to blob B, then the assignment is stable
    assert(audit.last._3 === 0L, "converged: no reassignments in the final round")
    assert(audit.last._4 === 2L, "both clusters alive")
    assert(audit.last._2 < audit.head._2, "separating the blobs cut inertia")
    // partitioning invariance: exact integer micro-units end to end
    val again = Similarity.kmeansAudit(vecs.repartition(7), k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq === audit.toSeq)
  }
}

class CurationSpec extends SparkTestBase {
  import spark.implicits._

  test("gopherMetrics: counts, mean length, unique fraction, keep thresholds") {
    val df = Seq(
      "the cat sat on the mat",       // 6 words, keep
      "a a a a a a a a a a",          // frac_unique 0.1 → drop
      "hi").toDF("text")              // 1 word → drop
    val m = df.select(Curation.gopherMetrics($"text").as("m"))
      .select($"m.word_count", $"m.mean_word_len", $"m.frac_unique", $"m.keep").collect()
    assert(m(0).getLong(0) === 6L && m(0).getBoolean(3) === true)
    assert(m(0).getDouble(2) === 0.833333) // 5 unique of 6
    assert(m(1).getDouble(2) === 0.1 && m(1).getBoolean(3) === false)
    assert(m(2).getBoolean(3) === false)
  }

  test("scrubPii redacts emails then phones, counts both") {
    val df = Seq("mail bob@corp.example.org or call 555-0199 now").toDF("text")
    val r = df.select(Curation.scrubPii($"text").as("p"))
      .select($"p.n_emails", $"p.n_phones", $"p.scrubbed").head
    assert(r.getLong(0) === 1L && r.getLong(1) === 1L)
    assert(r.getString(2) === "mail <EMAIL> or call <PHONE> now")
  }

  test("decontaminate: full overlap flagged, disjoint not, broadcast bench") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val cand = Seq(
      (1L, "alpha beta gamma delta"),   // all shingles in bench
      (2L, "one two three four five"),  // none
      (3L, "tiny doc")).                // < shingleSize tokens: 0 shingles
      toDF("doc_id", "text")
    val out = Curation.decontaminate(cand, bench, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length === 3, "EVERY candidate appears — short docs included")
    assert(out(0).getAs[Double]("overlap_frac") === 1.0)
    assert(out(0).getAs[Boolean]("contaminated"))
    assert(out(1).getAs[Double]("overlap_frac") === 0.0)
    assert(!out(1).getAs[Boolean]("contaminated"))
    // a doc too short to shingle can never be flagged — but it must
    // never VANISH either (an inner-join composition would lose it)
    assert(out(2).getAs[Long]("n_shingles") === 0L)
    assert(out(2).isNullAt(out(2).fieldIndex("overlap_frac")))
    assert(!out(2).getAs[Boolean]("contaminated"))
    // same contract for the bloom and boilerplate siblings
    val bl = Curation.decontaminateBloom(cand, bench, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(bl.length === 3 && bl(2).getAs[Long]("n_shingles") === 0L &&
      !bl(2).getAs[Boolean]("contaminated"))
    val bp = Curation.boilerplateMetrics(cand, "doc_id", "text",
      minDocFreq = 2).orderBy("doc_id").collect()
    assert(bp.length === 3 && bp(2).getAs[Long]("n_shingles") === 0L &&
      bp(2).getAs[Boolean]("keep"), "no boilerplate evidence keeps the doc")
  }

  test("domainCap keeps best-quality docs per domain with deterministic ties") {
    val docs = Seq(
      (1L, "a", 10L), (2L, "a", 30L), (3L, "a", 20L), (4L, "a", 30L),
      (5L, "b", 5L)).toDF("doc_id", "source", "n_chars")
    val kept = Curation.domainCap(docs, "source", "n_chars", "doc_id", maxPerDomain = 2)
      .select("doc_id", "domain_rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept === Map(2L -> 1L, 4L -> 2L, 5L -> 1L)) // tie 30/30 → lower id first
  }

  test("chunk: overlapping windows, short tail, empty docs dropped") {
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, " "), (3L, "solo"))
      .toDF("doc_id", "text")
    val chunks = Curation.chunk(docs, "doc_id", "text", size = 4, overlap = 2)
      .orderBy("doc_id", "chunk_ix").collect()
    val doc1 = chunks.filter(_.getLong(0) == 1L)
    // starts 0,2,4,6,8 → 5 chunks; last is the 2-token tail
    assert(doc1.map(_.getAs[String]("chunk_text")).toSeq === Seq(
      "t1 t2 t3 t4", "t3 t4 t5 t6", "t5 t6 t7 t8", "t7 t8 t9 t10", "t9 t10"))
    assert(doc1.map(_.getAs[Long]("chunk_tokens")).toSeq === Seq(4L, 4L, 4L, 4L, 2L))
    assert(!chunks.exists(_.getLong(0) == 2L), "whitespace-only doc yields no chunks")
    assert(chunks.filter(_.getLong(0) == 3L).map(_.getAs[String]("chunk_text")).toSeq
      === Seq("solo"))
  }

  test("chunk property: concatenating chunk starts reconstructs every token") {
    val rnd = new scala.util.Random(7)
    val docs = (0L until 20L).map { i =>
      (i, (0 until rnd.nextInt(40)).map(j => s"w${rnd.nextInt(9)}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val size = 7; val overlap = 3; val step = size - overlap
    val chunks = Curation.chunk(docs, "doc_id", "text", size, overlap)
      .orderBy("doc_id", "chunk_ix").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getAs[String]("chunk_text")).toSeq)
    docs.collect().foreach { r =>
      val toks = r.getString(1).split(" ").filter(_.nonEmpty)
      val got = chunks.getOrElse(r.getLong(0), Seq.empty)
      if (toks.isEmpty) assert(got.isEmpty)
      else {
        // every chunk is the exact token slice starting at its window,
        // and the last chunk runs through the final token
        val starts = got.indices.map(_ * step)
        assert(starts.zip(got).forall { case (s, c) =>
          c.split(" ").toSeq == toks.slice(s, s + size).toSeq
        }, s"chunk contents must be exact slices for doc ${r.getLong(0)}")
        assert(starts.last + got.last.split(" ").length == toks.length,
          "chunks must cover through the final token")
      }
    }
  }

  test("packSequences: per-shard integer running totals, repeatable under repartition") {
    val docs = Seq(
      (1L, "a", "w " * 300), (2L, "a", "w " * 300), (3L, "a", "w " * 300),
      (4L, "b", "w " * 600)).toDF("doc_id", "lang", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Curation.packSequences(df, "lang", "doc_id", "text", window = 512)
        .select("doc_id", "bin", "bin_offset").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bins = run(docs)
    assert(bins(1L) === (0L, 0L))
    assert(bins(2L) === (0L, 300L))   // 300 < 512 → still bin 0
    assert(bins(3L) === (1L, 600L))   // 600 / 512 → bin 1
    assert(bins(4L) === (0L, 0L), "shard b packs independently")
    assert(run(docs.repartition(5)) === bins, "partitioning-independent")
  }

  test("packSequencesGreedy: overflowing docs start a new bin; oversized docs sit alone") {
    val docs = Seq(
      (1L, "a", "w " * 300), (2L, "a", "w " * 300), (3L, "a", "w " * 100),
      (4L, "a", "w " * 700), (5L, "a", "w " * 10),
      (6L, "b", "w " * 600)).toDF("doc_id", "lang", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Curation.packSequencesGreedy(df, "lang", "doc_id", "text", window = 512)
        .select("doc_id", "bin", "bin_offset").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bins = run(docs)
    assert(bins(1L) === (0L, 0L))
    assert(bins(2L) === (1L, 0L), "300+300 > 512 → doc 2 starts bin 1 whole")
    assert(bins(3L) === (1L, 300L), "100 still fits bin 1")
    assert(bins(4L) === (2L, 0L), "oversized 700 starts its own bin")
    assert(bins(5L) === (3L, 0L), "bin 2 is already past the window → new bin")
    assert(bins(6L) === (0L, 0L), "shard b packs independently")
    assert(run(docs.repartition(5)) === bins, "partitioning-independent")
  }

  test("packSequencesGreedy tolerates null text (counts zero tokens)") {
    val docs = Seq((1L, "a", "w " * 10), (2L, "a", null: String), (3L, "a", "w " * 5))
      .toDF("doc_id", "lang", "text")
    val m = Curation.packSequencesGreedy(docs, "lang", "doc_id", "text", window = 512)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(m === Map(1L -> 10L, 2L -> 0L, 3L -> 5L))
  }

  test("packSequencesGreedy property: no bin exceeds the window unless a single doc does") {
    val rnd = new scala.util.Random(5)
    val docs = Seq.tabulate(200) { i =>
      (i.toLong, s"s${i % 3}", "w " * (1 + rnd.nextInt(700)))
    }.toDF("doc_id", "lang", "text")
    val packed = Curation.packSequencesGreedy(docs, "lang", "doc_id", "text", window = 512)
    val perBin = packed.groupBy("lang", "bin")
      .agg(sum("n_tokens").as("total"), count(lit(1)).as("n_docs"))
      .collect()
    perBin.foreach { r =>
      val (total, nDocs) = (r.getLong(2), r.getLong(3))
      assert(total <= 512 || nDocs === 1L,
        s"bin ${r.get(0)}/${r.get(1)} holds $total tokens across $nDocs docs")
    }
    // every doc is whole: its offset + tokens never exceeds the window
    // unless it is alone at offset 0
    packed.collect().foreach { r =>
      val (n, off) = (r.getLong(2), r.getLong(4))
      assert(off + n <= 512 || off === 0L, s"doc ${r.getLong(1)} straddles: off=$off n=$n")
    }
  }

  test("normalizeText: case, punctuation and whitespace collapse to one canonical form") {
    val r = Seq(("Hello,  World!", "hello world", "a\tb\nc"))
      .toDF("a", "b", "c")
      .select(Curation.normalizeText(col("a")), Curation.normalizeText(col("b")),
        Curation.normalizeText(col("c"))).head
    assert(r.getString(0) === "hello world")
    assert(r.getString(0) === r.getString(1), "punctuation variants hash identically")
    assert(r.getString(2) === "a b c")
  }

  test("repetitionMetrics: top-token share and duplicate n-gram fraction") {
    val docs = Seq(
      (1L, "a a a b"),            // top 3/4; 2-grams: aa,aa,ab → 2 distinct of 3
      (2L, "x y z w"),            // no repetition
      (3L, "q")                   // too short for grams → dup frac 0
    ).toDF("doc_id", "text")
    val m = Curation.repetitionMetrics(docs, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(m(1L) === (0.75, 0.333333))
    assert(m(2L) === (0.25, 0.0))
    assert(m(3L) === (1.0, 0.0))
  }

  test("stratifiedTake: exact counts per stratum, deterministic, short strata kept whole") {
    val docs = Seq.tabulate(50)(i => (i.toLong, if (i < 45) "en" else "de"))
      .toDF("doc_id", "lang")
    val take = Curation.stratifiedTake(docs, "lang", "doc_id", perStratum = 10)
    val byLang = take.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang === Map("en" -> 10L, "de" -> 5L), "exactly n, or the whole short stratum")
    val again = Curation.stratifiedTake(docs, "lang", "doc_id", perStratum = 10)
    assert(take.collect().toSet === again.collect().toSet, "deterministic")
  }

  test("boilerplateMetrics flags corpus-frequent shingles, keeps clean docs") {
    // "aa bb cc" appears in 4/6 docs → boilerplate at minDocFreq=3;
    // each doc's unique tail shingles are not
    val docs = (Seq.tabulate(4)(i => (i.toLong, s"aa bb cc u$i v$i w$i")) ++
      Seq((10L, "xx yy zz p q r"), (11L, "mm nn oo s t u"))).toDF("doc_id", "text")
    val m = Curation.boilerplateMetrics(docs, "doc_id", "text",
        shingleSize = 3, minDocFreq = 3, threshold = 0.3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    // templated docs: 4 shingles, 1 boilerplate ("aa bb cc") → frac 0.25 < 0.3 → keep
    (0L to 3L).foreach { id => assert(m(id) === (4L, 1L, true), s"doc $id: ${m(id)}") }
    // clean docs: zero boilerplate
    assert(m(10L) === (4L, 0L, true) && m(11L) === (4L, 0L, true))
    // tighter threshold drops the templated docs
    val strict = Curation.boilerplateMetrics(docs, "doc_id", "text",
        shingleSize = 3, minDocFreq = 3, threshold = 0.25)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strict === Set(10L, 11L))
  }

  test("stratifiedSample is a pure function of id: repeatable, rate-gated") {
    val docs = (0L until 1000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val once = Curation.stratifiedSample(docs, "lang", "doc_id",
      Map("en" -> 10), defaultRate = 50).collect().map(_.getLong(0)).toSet
    val again = Curation.stratifiedSample(docs.repartition(7), "lang", "doc_id",
      Map("en" -> 10), defaultRate = 50).collect().map(_.getLong(0)).toSet
    assert(once === again, "sample independent of partitioning")
    val en = once.count(_ % 2 == 0); val de = once.count(_ % 2 == 1)
    assert(en > 20 && en < 90, s"~10% of 500 en docs, got $en")
    assert(de > 200 && de < 300, s"~50% of 500 de docs, got $de")
  }

  test("bloom decontamination: zero false negatives vs the exact join, few false positives") {
    val cand = (0L until 120L).map { i =>
      (i, if (i % 4 == 0) s"leaked eval question number ${i / 4} here"
          else s"clean document body text sample $i okay fine")
    }.toDF("doc_id", "text")
    val bench = (0L until 30L)
      .map(i => (i, s"leaked eval question number $i here")).toDF("doc_id", "text")
    val exact = Curation.decontaminate(cand, bench, "doc_id", "text", shingleSize = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap // n_overlap
    val bloom = Curation.decontaminateBloom(cand, bench, "doc_id", "text",
        shingleSize = 3, nBits = 1 << 14, nHashes = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    exact.foreach { case (id, nOverlap) =>
      assert(bloom(id)._2 >= nOverlap, s"doc $id: bloom can only over-report")
    }
    val contaminatedIds = bloom.filter(_._2._3).keySet
    assert((0L until 120L by 4).toSet.subsetOf(contaminatedIds),
      "every truly leaked doc is flagged")
    val fp = bloom.collect { case (id, (n, maybe, _)) if id % 4 != 0 => (maybe, n) }
    val fpShingles = fp.map(_._1).sum.toDouble / fp.map(_._2).sum
    assert(fpShingles < 0.2, s"clean-doc maybe rate should be small, got $fpShingles")
  }

  test("bloomMightContain is exact-positive on inserted shingles and plan-local (no join)") {
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val bitmap = Curation.bloomBuild(bench, "text", shingleSize = 3,
      nBits = 1 << 14, nHashes = 3)
    assert(bitmap.exists(_ != 0L))
    val probes = Seq("alpha beta gamma", "beta gamma delta", "gamma delta epsilon")
      .toDF("s")
    val hits = probes.select(Curation.bloomMightContain(bitmap, col("s"),
      1 << 14, 3).as("hit")).collect().map(_.getBoolean(0))
    assert(hits.forall(identity), "no false negatives by construction")
    val out = Curation.decontaminateBloom(
      Seq((9L, "alpha beta gamma delta")).toDF("doc_id", "text"), bench,
      "doc_id", "text", shingleSize = 3)
    assert(!out.queryExecution.executedPlan.toString.contains("Join"),
      "the candidate side must test the bitmap literal, never join the benchmark")
  }
}

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("real header decode through mapPartitions: schema, determinism, per-kind fields") {
    val docs = Seq((0L, "hello world", "en", "src1"), (1L, "abc", "en", "src1"),
      (2L, "xyz", "en", "src2")).toDF("doc_id", "text", "lang", "source")
    val media = Multimodal.mediaFromDocuments(docs)
    assert(media.schema.fieldNames.toSeq === Seq("media_id", "kind", "bytes", "meta"))
    val feats = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    assert(feats.map(_.getAs[String]("kind")).toSeq === Seq("image", "audio", "video"))
    // image rows carry raw text bytes — deliberately undecodable
    assert(feats(0).getAs[Long]("n_bytes") === 11L)
    assert(feats(0).isNullAt(feats(0).fieldIndex("width")))
    // audio: real 44-byte WAV around 3 PCM bytes at byte rate 32000
    assert(feats(1).getAs[Long]("n_bytes") === 47L)
    assert(feats(1).getAs[Long]("duration_ms") === 3L * 1000 / 32000)
    // video: real MP4, 244 bytes of boxes; duration len·40, dims from id
    assert(feats(2).getAs[Long]("n_bytes") === 247L)
    assert(feats(2).getAs[Long]("duration_ms") === 120L)
    assert(feats(2).getAs[Int]("width") === 18 && feats(2).getAs[Int]("height") === 18)
    assert(feats(2).getAs[Seq[Float]]("feature").length === 8)
    // deterministic across runs
    val again = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    assert(again.map(_.getAs[String]("sha256")).toSeq ===
      feats.map(_.getAs[String]("sha256")).toSeq)
  }

  test("WAV/MP4 header parsers: round-trip, non-default rates, junk and truncation safety") {
    // WAV round-trip across sample rates/widths (duration = len·1000/byteRate)
    val pcm = Array.fill[Byte](48000)(7)
    assert(Multimodal.parseWavDurationMs(Multimodal.wavBytes(pcm)).contains(1500L))
    assert(Multimodal.parseWavDurationMs(
      Multimodal.wavBytes(pcm, sampleRate = 8000, channels = 2, bits = 8)).contains(3000L))
    assert(Multimodal.parseWavDurationMs(
      Multimodal.wavBytes(Array.empty[Byte])).contains(0L))
    // MP4 round-trip: mvhd duration, tkhd 16.16 dims
    val mp4 = Multimodal.mp4Bytes("data".getBytes, durationMs = 90210L, 640, 360)
    assert(Multimodal.parseMp4(mp4).contains((90210L, 640, 360)))
    // junk, truncation, and cross-format bytes must parse to None
    assert(Multimodal.parseWavDurationMs("definitely not a riff file".getBytes).isEmpty)
    assert(Multimodal.parseWavDurationMs(mp4).isEmpty)
    assert(Multimodal.parseMp4("not an iso bmff container at all".getBytes).isEmpty)
    assert(Multimodal.parseMp4(Multimodal.wavBytes(pcm)).isEmpty)
    assert(Multimodal.parseMp4(java.util.Arrays.copyOf(mp4, 40)).isEmpty,
      "moov truncated away must not parse")
    assert(Multimodal.parseWavDurationMs(
      java.util.Arrays.copyOf(Multimodal.wavBytes(pcm), 40)).isEmpty,
      "header shorter than fmt+data walk must not parse")
  }

  test("MP3/Ogg header parsers: round-trip, ID3/Xing handling, cross-format safety") {
    // CBR MP3 round-trip: synthesized at 128 kbps, estimate reads back
    val mp3 = Multimodal.mp3Bytes(durationMs = 2500L)
    assert(Multimodal.parseMp3DurationMs(mp3).contains(2500L))
    assert(Multimodal.parseMp3DurationMs(Multimodal.mp3Bytes(0L)).contains(0L))
    // an ID3v2 tag in front is skipped (syncsafe size = 100 bytes)
    val id3 = Array[Byte]('I', 'D', '3', 4, 0, 0, 0, 0, 0, 100) ++
      new Array[Byte](100) ++ mp3
    assert(Multimodal.parseMp3DurationMs(id3).contains(2500L),
      "ID3 tag bytes are skipped — the CBR estimate starts at the sync point")
    // Xing VBR header overrides the CBR estimate: 100 frames @44100
    val vbr = Multimodal.mp3Bytes(durationMs = 9999L)
    val x = 4 + 32 // MPEG1 stereo side info
    "Xing".getBytes.copyToArray(vbr, x)
    vbr(x + 7) = 1 // flags: FRAMES
    vbr(x + 8) = 0; vbr(x + 9) = 0; vbr(x + 10) = 0; vbr(x + 11) = 100
    assert(Multimodal.parseMp3DurationMs(vbr).contains(100L * 1152 * 1000 / 44100))
    // Ogg Vorbis round-trip at two rates; granule math is exact
    assert(Multimodal.parseOggDurationMs(Multimodal.oggBytes(7000L)).contains(7000L))
    assert(Multimodal.parseOggDurationMs(
      Multimodal.oggBytes(1234L, sampleRate = 8000)).contains(1234L))
    // cross-format and junk bytes: None, never a throw
    val wav = Multimodal.wavBytes(Array.fill[Byte](100)(3))
    for (parser <- Seq(Multimodal.parseMp3DurationMs _, Multimodal.parseOggDurationMs _)) {
      assert(parser(wav).isEmpty)
      assert(parser("no sync to be found anywhere in this text".getBytes).isEmpty)
      assert(parser(Array.empty[Byte]).isEmpty)
      assert(parser(null).isEmpty)
    }
    assert(Multimodal.parseWavDurationMs(mp3).isEmpty)
    assert(Multimodal.parseOggDurationMs(
      java.util.Arrays.copyOf(Multimodal.oggBytes(7000L), 20)).isEmpty,
      "truncated page header must not parse")
    // HeaderDecoder sniffs the chain: WAV, MP3 and Ogg payloads all get
    // a duration through the ONE audio path
    val dec = new Multimodal.HeaderDecoder
    assert(dec.decode(1L, "audio", wav).get(6) === 3L, "100 PCM bytes / 32000 B/s")
    assert(dec.decode(2L, "audio", mp3).get(6) === 2500L)
    assert(dec.decode(3L, "audio", Multimodal.oggBytes(7000L)).get(6) === 7000L)
  }

  test("FLAC/ADTS header parsers: round-trip, MP3-sync disjointness, cross-format safety") {
    // FLAC STREAMINFO round-trip at two rates; 36-bit sample count math
    assert(Multimodal.parseFlacDurationMs(Multimodal.flacBytes(2500L)).contains(2500L))
    assert(Multimodal.parseFlacDurationMs(
      Multimodal.flacBytes(90000L, sampleRate = 8000)).contains(90000L))
    // ADTS frame walk: duration quantizes to whole 1024-sample frames
    val adts = Multimodal.adtsBytes(durationMs = 5000L)
    val nFrames = 5000L * 44100 / 1000 / 1024
    assert(Multimodal.parseAdtsDurationMs(adts)
      .contains(nFrames * 1024L * 1000 / 44100))
    assert(Multimodal.parseAdtsDurationMs(
      Multimodal.adtsBytes(1000L, sampleRate = 16000)).isDefined)
    // the 0xFFF syncs never cross-claim: MP3 wants Layer III bits (01),
    // ADTS carries layer 00 — and vice versa
    assert(Multimodal.parseMp3DurationMs(adts).isEmpty,
      "ADTS layer-00 frames must not parse as MP3")
    assert(Multimodal.parseAdtsDurationMs(Multimodal.mp3Bytes(2500L)).isEmpty,
      "MP3 Layer III frames must not parse as ADTS")
    // cross-format and junk bytes: None, never a throw
    val wav = Multimodal.wavBytes(Array.fill[Byte](100)(3))
    for (parser <- Seq(Multimodal.parseFlacDurationMs _,
        Multimodal.parseAdtsDurationMs _)) {
      assert(parser(wav).isEmpty)
      assert(parser("no flac or adts magic hiding in here".getBytes).isEmpty)
      assert(parser(Array.empty[Byte]).isEmpty)
      assert(parser(null).isEmpty)
    }
    assert(Multimodal.parseFlacDurationMs(
      java.util.Arrays.copyOf(Multimodal.flacBytes(2500L), 20)).isEmpty,
      "truncated STREAMINFO must not parse")
    // the decoder's ONE audio path sniffs both new containers
    val dec = new Multimodal.HeaderDecoder
    assert(dec.decode(1L, "audio", Multimodal.flacBytes(2500L)).get(6) === 2500L)
    assert(dec.decode(2L, "audio", adts).get(6) === nFrames * 1024L * 1000 / 44100)
    // strict-before-tolerant ordering: an ADTS frame whose PAYLOAD
    // contains an MP3-sync-looking byte pair must still sniff as ADTS
    // (the junk-tolerant MP3 scanner would otherwise claim it)
    val withPayload = {
      val payloadLen = 20
      val frameLen = 7 + payloadLen
      val f = Multimodal.adtsBytes(0L) // one header-only frame
      val out = java.util.Arrays.copyOf(f, frameLen)
      out(3) = ((1 << 6) | (frameLen >> 11)).toByte
      out(4) = ((frameLen >> 3) & 0xFF).toByte
      out(5) = (((frameLen & 0x7) << 5) | 0x1F).toByte
      out(9) = 0xFF.toByte; out(10) = 0xFB.toByte // MP3-ish sync in payload
      out
    }
    assert(Multimodal.parseAdtsDurationMs(withPayload)
      .contains(1024L * 1000 / 44100))
    assert(dec.decode(3L, "audio", withPayload).get(6) === 1024L * 1000 / 44100,
      "decoder chain must not let the MP3 scanner claim ADTS payload bytes")
  }

  test("WebM header parser: round-trip, default-scale fallback, cross-format safety") {
    // round-trip: synthesized Segment(Info + Tracks) reads back exactly
    val webm = Multimodal.webmBytes(durationMs = 42500L, width = 1280, height = 720)
    assert(Multimodal.parseWebm(webm).contains((42500L, 1280, 720)))
    assert(Multimodal.parseWebm(Multimodal.webmBytes(0L, 16, 9)).contains((0L, 16, 9)))
    // cross-format and junk bytes: None, never a throw
    val mp4 = Multimodal.mp4Bytes("data".getBytes, 90210L, 640, 360)
    assert(Multimodal.parseWebm(mp4).isEmpty)
    assert(Multimodal.parseWebm("not an ebml document".getBytes).isEmpty)
    assert(Multimodal.parseWebm(Array.empty[Byte]).isEmpty)
    assert(Multimodal.parseWebm(null).isEmpty)
    assert(Multimodal.parseWebm(java.util.Arrays.copyOf(webm, 24)).isEmpty,
      "Segment truncated away must not parse")
    assert(Multimodal.parseMp4(webm).isEmpty, "webm bytes are not an MP4")
    // HeaderDecoder video sniff chain covers BOTH containers
    val dec = new Multimodal.HeaderDecoder
    assert(dec.decode(1L, "video", mp4).get(6) === 90210L)
    assert(dec.decode(2L, "video", webm).get(6) === 42500L)
    assert(dec.decode(2L, "video", webm).get(4) === 1280)
    assert(dec.decode(3L, "video", "garbage".getBytes).get(6) === null)
  }

  test("ImageIoDecoder reads real PNG/JPEG dimensions; junk bytes decode to null dims") {
    def imageBytes(w: Int, h: Int, format: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xFF8800)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, out)
      out.toByteArray
    }
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, "image", imageBytes(320, 200, "png"), null),
        org.apache.spark.sql.Row(2L, "image", imageBytes(64, 48, "jpg"), null),
        org.apache.spark.sql.Row(3L, "image", "not an image".getBytes, null),
        org.apache.spark.sql.Row(4L, "audio", "payload".getBytes, null))),
      Multimodal.mediaSchema)
    val feats = Multimodal.extractFeatures(media, new Multimodal.ImageIoDecoder)
      .orderBy("media_id").collect()
    assert(feats(0).getAs[Int]("width") === 320 && feats(0).getAs[Int]("height") === 200)
    assert(feats(1).getAs[Int]("width") === 64 && feats(1).getAs[Int]("height") === 48)
    assert(feats(2).isNullAt(feats(2).fieldIndex("width")), "junk bytes: null dims, no failure")
    assert(feats(3).getAs[Long]("duration_ms") >= 0L, "audio delegates to the stub")
  }

  test("resizeImages: aspect-preserving downscale, never upscales, passthrough for non-images") {
    def imageBytes(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xFF8800)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, "image", imageBytes(100, 60), null),
        org.apache.spark.sql.Row(2L, "image", imageBytes(30, 20), null), // already fits
        org.apache.spark.sql.Row(3L, "image", "junk".getBytes, null),
        org.apache.spark.sql.Row(4L, "audio", "payload".getBytes, null))),
      Multimodal.mediaSchema)
    val out = Multimodal.resizeImages(media, maxWidth = 50, maxHeight = 50)
      .orderBy("media_id").collect()
    assert(out(0).getAs[Int]("width") === 50 && out(0).getAs[Int]("height") === 30,
      "100x60 fits 50x50 at scale 0.5 → 50x30")
    assert(out(0).getBoolean(5), "resized flag set")
    // the emitted bytes ARE a decodable 50x30 PNG
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(0).getAs[Array[Byte]]("bytes")))
    assert(back.getWidth === 50 && back.getHeight === 30)
    // transparency survives the resize (ARGB target, not RGB-over-black)
    val argbSrc = {
      val img = new java.awt.image.BufferedImage(80, 80,
        java.awt.image.BufferedImage.TYPE_INT_ARGB)
      img.setRGB(0, 0, 0xFFFF8800) // one opaque pixel, rest transparent
      val o = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", o)
      o.toByteArray
    }
    val alphaOut = Multimodal.resizeImages(
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row(9L, "image", argbSrc, null))), Multimodal.mediaSchema),
      maxWidth = 40, maxHeight = 40).collect()(0)
    val alphaBack = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(alphaOut.getAs[Array[Byte]]("bytes")))
    assert((alphaBack.getRGB(39, 39) >>> 24) === 0,
      "transparent region must stay transparent, not composite to black")
    assert(out(1).getAs[Int]("width") === 30 && !out(1).getBoolean(5), "no upscale")
    assert(!out(2).getBoolean(5) &&
      out(2).getAs[Array[Byte]]("bytes").sameElements("junk".getBytes),
      "undecodable passthrough keeps bytes")
    assert(!out(3).getBoolean(5), "non-image passthrough")
  }

  test("frame sampling explodes stride-spaced frame indexes") {
    val docs = Seq((2L, "some video payload text", "en", "s")).toDF("doc_id", "text", "lang", "source")
    val frames = Multimodal.sampleFrames(
      Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docs)))
    assert(frames.count() > 0)
    val ixs = frames.select("frame_ix").collect().map(_.getInt(0))
    assert(ixs.forall(_ % 10 == 0))
  }

  test("dHash: real PNG decode reproduces the arithmetic fixture bit-for-bit") {
    // the oracle's whole premise: PNG encode -> ImageIO decode ->
    // raster read -> (identity) downscale -> bit packing equals pure
    // integer arithmetic on the fixture pattern, for every bit
    (Seq(0L, 1L, 7L, 97L, 1021L, 999983L) ++ (1 to 20).map(_ * 137L)).foreach { id =>
      val expected = {
        var h = 0L
        for (y <- 0 until 8; x <- 0 until 8)
          if (ImageHash.fixtureGray(id, x + 1, y, false) >
              ImageHash.fixtureGray(id, x, y, false)) h |= 1L << (y * 8 + x)
        h
      }
      assert(ImageHash.dHash64(ImageHash.fixturePng(id)) === Some(expected),
        s"id=$id: decoded dHash diverged from the arithmetic prediction")
    }
  }

  test("dHash: gray raster path dodges Java's CS_GRAY gamma (gray 128 must read back 128)") {
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 8; x <- 0 until 9) img.getRaster.setSample(x, y, 0, 128)
    assert(ImageHash.grayPlane(img).forall(_ === 128),
      "getRGB-based gray reads would color-manage 128 to ~186")
  }

  test("dHash is scale-invariant for the box filter's exact-multiple case") {
    // an 18x16 image that is the 9x8 fixture with every pixel doubled
    // into a 2x2 block: box downscale averages each block back to the
    // original value, so the hash matches the 9x8 original exactly --
    // the re-encoded-thumbnail case perceptual dedup exists for
    val id = 4242L
    val big = new java.awt.image.BufferedImage(18, 16,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 18)
      big.getRaster.setSample(x, y, 0, ImageHash.fixtureGray(id, x / 2, y / 2, false))
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(big, "png", buf)
    assert(ImageHash.dHash64(buf.toByteArray) ===
      ImageHash.dHash64(ImageHash.fixturePng(id)))
  }

  test("hand-encoded fixture PNG decodes to the exact fixture raster (r15 writer)") {
    // the r15 lock-free PNG writer must be byte-for-byte EQUIVALENT to
    // the old ImageIO.write path at the only level anything consumes:
    // the decoded gray samples. Verified through the real ImageIO
    // reader for a spread of ids, both perturb arms.
    for (id <- Seq(0L, 1L, 97L, 4242L, 999983L, Long.MaxValue / 3);
         perturb <- Seq(false, true)) {
      val png = ImageHash.fixturePng(id, perturb)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img != null, s"id=$id perturb=$perturb must decode")
      assert(img.getWidth === 9 && img.getHeight === 8)
      for (y <- 0 until 8; x <- 0 until 9)
        assert(img.getRaster.getSample(x, y, 0) ===
          ImageHash.fixtureGray(id, x, y, perturb),
          s"pixel ($x,$y) id=$id perturb=$perturb")
    }
  }

  test("pngGray8 stored-deflate path survives multi-block rasters (r15 writer)") {
    // >65535 bytes of filtered scanlines forces the stored-block loop;
    // a 300x300 gray gradient roundtrips sample-exact through ImageIO
    val w = 300; val h = 300
    val raw = new Array[Byte](h * (w + 1))
    var o = 0
    for (y <- 0 until h) {
      raw(o) = 0; o += 1
      for (x <- 0 until w) { raw(o) = ((x * 7 + y * 13) % 256).toByte; o += 1 }
    }
    val png = ImageHash.pngGray8(w, h, raw)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img != null && img.getWidth === w && img.getHeight === h)
    for (y <- 0 until h by 17; x <- 0 until w by 13)
      assert(img.getRaster.getSample(x, y, 0) === ((x * 7 + y * 13) % 256))
  }

  test("audio envelope fingerprint: real WAV decode reproduces the arithmetic fixture bit-for-bit") {
    (Seq(0L, 1L, 97L, 4242L, 999983L) ++ (1 to 20).map(_ * 251L)).foreach { id =>
      val expected = {
        var h = 0L
        for (k <- 0 until 64)
          if (AudioHash.fixtureAmp(id, k + 1, false) >
              AudioHash.fixtureAmp(id, k, false)) h |= 1L << k
        h
      }
      assert(AudioHash.envelopeHash64(AudioHash.fixtureWav(id)) === Some(expected),
        s"id=$id: decoded envelope hash diverged from the arithmetic prediction")
    }
    // non-WAV / stereo / junk payloads yield no fingerprint, not a crash
    assert(AudioHash.envelopeHash64("junk".getBytes) === None)
    assert(AudioHash.envelopeHash64(
      Multimodal.wavBytes(new Array[Byte](1000), channels = 2)) === None)
  }

  test("audio envelope survives recordings past the Int-overflow length (~33.5M samples)") {
    // 35 minutes at 16 kHz: f*n in Int arithmetic wraps negative and
    // crashed with ArrayIndexOutOfBounds; Long frame boxes must not
    val n = 34000000
    val samples = new Array[Short](n)
    java.util.Arrays.fill(samples, 100.toShort)
    val env = AudioHash.envelope(samples, 65)
    assert(env.length === 65 && env.forall(_ === 100L),
      "constant amplitude must survive the frame boxes at any length")
  }

  test("audio near-dup: re-levelled copies found within Hamming 3, distinct recordings not") {
    val ids = (1L to 300L).map(_ * 37L)
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.map(id => org.apache.spark.sql.Row(id, AudioHash.fixtureWav(id))) ++
          ids.filter(_ % 5 == 0).map(id =>
            org.apache.spark.sql.Row(id + 1000000000L, AudioHash.fixtureWav(id, perturb = true))), 8),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.BinaryType, nullable = true))))
    val pairs = AudioHash.nearDuplicates(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val found = pairs.map(p => (p._1, p._2)).toSet
    ids.filter(_ % 5 == 0).foreach { id =>
      assert(found.contains((id, id + 1000000000L)), s"planted copy of $id not found")
    }
    assert(pairs.forall(_._3 <= 3))
    assert(pairs.forall { case (a, b, _) => b - a == 1000000000L },
      s"unexpected cross-recording pair among ${pairs.take(5).mkString(", ")}")
  }

  test("windowed audio fingerprint: trimmed copies found by window-set Jaccard; whole-file hash misses them") {
    val ids = (1L to 150L).map(_ * 41L)
    val trims = ids.filter(_ % 4 == 0)
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.map(id => org.apache.spark.sql.Row(id, AudioHash.fixtureWavTrimmed(id, 0))) ++
          trims.map(id => org.apache.spark.sql.Row(
            id + 1000000000L, AudioHash.fixtureWavTrimmed(id, (id % 8 + 1).toInt))), 8),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.BinaryType, nullable = true))))
    val pairs = AudioHash.nearDuplicatesWindowed(media).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    trims.foreach { id =>
      val k = id % 8 + 1
      val hit = pairs.get((id, id + 1000000000L))
      assert(hit.contains((64L - k,
        BigDecimal((64.0 - k) / 64).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble)),
        s"trimmed copy of $id (k=$k) not found at (64-k)/64: $hit")
    }
    assert(pairs.size === trims.size,
      s"only planted trimmed pairs survive 0.85, got ${pairs.size}")
    // the gap this operator closes: the whole-file envelope hash
    // spans the recording, so the same trimmed copies are MISSED
    val whole = AudioHash.nearDuplicates(media).collect()
    assert(whole.isEmpty,
      s"whole-file hash unexpectedly caught trimmed copies: ${whole.take(3).mkString(", ")}")
  }

  test("video frame hashes: real mdat box walk reproduces the arithmetic fixture bit-for-bit") {
    Seq(0L, 17L, 97L, 4242L).foreach { id =>
      def expectedFrame(pid: Long): Long = {
        var h = 0L
        for (y <- 0 until 8; x <- 0 until 8)
          if (ImageHash.fixtureGray(pid, x + 1, y, false) >
              ImageHash.fixtureGray(pid, x, y, false)) h |= 1L << (y * 8 + x)
        h
      }
      val got = VideoHash.frameDHashes(VideoHash.fixtureMp4(id))
      assert(got === Some((0 until 16).map(f => expectedFrame(id * 131L + f))),
        s"id=$id: container-walked frame hashes diverged")
    }
    assert(VideoHash.frameDHashes("junk".getBytes) === None)
    assert(VideoHash.mdatPayload(Multimodal.mp4Bytes("abc".getBytes, 1000L, 16, 16))
      .map(_.toSeq) === Some("abc".getBytes.toSeq))
  }

  test("windowHashes is resample-invariant: time-fixed 10 ms framing at every declared rate") {
    import AudioHash._
    Seq(3L, 42L, 4242L).foreach { id =>
      Seq(0, 1, 3, 7).foreach { trim =>
        val ref = windowHashes(fixtureWavTrimmed(id, trim)).get
        // 11025/22050 are the drift rates: a truncated rate/100 grid
        // (110 samples vs the true 110.25) slides a full frame every
        // ~4.4 s — the cumulative-boundary framing must hold exactly
        Seq(8000, 11025, 16000, 22050, 32000, 44100).foreach { rate =>
          assert(windowHashes(fixtureWavResampled(id, trim, rate)).get === ref,
            s"id=$id trim=$trim rate=$rate: resample changed the window hashes")
        }
        // the pre-round-12 fixed grid breaks at any other rate — the
        // failure mode the time-fixed default exists to close
        assert(windowHashes(fixtureWavResampled(id, trim, 32000),
          frameSamples = 160).get !== ref)
      }
    }
    // rates below one sample per 10 ms frame reject as undecodable
    val tiny = graft.ops.Multimodal.wavBytes(new Array[Byte](400), sampleRate = 50)
    assert(windowHashes(tiny) === None)
  }

  test("sceneWalk: cuts strictly above threshold, first-frame keyframes, empty/degenerate inputs") {
    import VideoHash.{sceneWalk, SceneSeg}
    assert(sceneWalk(Nil, 4) === Nil)
    // one hash -> one scene of one frame, keyed by itself
    assert(sceneWalk(Seq(7L), 4) === Seq(SceneSeg(0, 0, 1, 7L)))
    // identical frames never cut
    assert(sceneWalk(Seq(5L, 5L, 5L), 4) === Seq(SceneSeg(0, 0, 3, 5L)))
    // distance EQUAL to the threshold stays in-scene (cut is strict >)
    val h0 = 0L
    val h4 = 0xFL          // 4 bits from h0
    val h5 = 0x1FL         // 5 bits from h0, 1 bit from h4
    assert(sceneWalk(Seq(h0, h4), 4) === Seq(SceneSeg(0, 0, 2, h0)))
    // 5 bits opens a scene; the keyframe is the scene's FIRST frame
    assert(sceneWalk(Seq(h0, h5, h5), 4) ===
      Seq(SceneSeg(0, 0, 1, h0), SceneSeg(1, 1, 2, h5)))
    // drift is judged between CONSECUTIVE frames, not against the
    // keyframe: a slow pan that moves 3 bits per frame never cuts
    // even though frame 3 is far from frame 0
    val pan = Seq(0L, 7L, 0x3FL, 0x1FFL) // 3 bits per step
    assert(sceneWalk(pan, 4) === Seq(SceneSeg(0, 0, 4, 0L)))
  }

  test("scene fixture: planted scene structure recovered exactly — count, boundaries, keyframes") {
    Seq(0L, 1L, 2L, 3L, 17L, 42L, 97L, 4242L).foreach { id =>
      val n = VideoHash.fixtureSceneCount(id)
      val hashes = VideoHash.frameDHashes(VideoHash.fixtureSceneMp4(id)).get
      val segs = VideoHash.sceneWalk(hashes, 4)
      assert(segs.length === n, s"id=$id: expected $n scenes, got $segs")
      assert(segs.map(_.n_frames).sum === VideoHash.FixtureFrameCount)
      segs.foreach { g =>
        // boundaries at the planted even split: frame f belongs to
        // scene f*n/16, so scene s starts at the first such f
        assert(g.start_frame ===
          (0 until 16).find(f => f * n / 16 == g.scene).get)
        assert(g.key_hash === hashes(g.start_frame))
      }
    }
  }

  test("keyframe gate: scene keyframes are the identity; one replaced scene moves exactly one keyframe") {
    val spark = this.spark
    def mediaDf(rows: Seq[(Long, Array[Byte])]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, b) =>
        org.apache.spark.sql.Row(id, b) }, 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.BinaryType))))
    // id 11: nScenes = 2 + 11%4 = 5 — keyframe set has 5 hashes
    val kf = VideoHash.keyframeSet(mediaDf(Seq(11L -> VideoHash.fixtureSceneMp4(11L))))
      .collect().map(_.getLong(1)).toSet
    assert(kf.size === 5)
    // the one-scene-replaced variant shares exactly 4 of 5 keyframes
    val kfVar = VideoHash.keyframeSet(
        mediaDf(Seq(11L -> VideoHash.fixtureSceneMp4(11L, replaceScene = true))))
      .collect().map(_.getLong(1)).toSet
    assert((kf intersect kfVar).size === 4 && kfVar.size === 5)
    // gate verdict: the variant flags against the indexed original at
    // J = (n-1)/(n+1) = 4/6; an unrelated video does not flag
    val idx = VideoHash.keyframeSet(mediaDf(Seq(
        11L -> VideoHash.fixtureSceneMp4(11L),
        12L -> VideoHash.fixtureSceneMp4(12L))))
      .withColumn("n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("media_id"))))
      .select(col("media_id").as("id"), col("fhash"), col("n"))
    val batch = VideoHash.keyframeSet(mediaDf(Seq(
      100L -> VideoHash.fixtureSceneMp4(11L, replaceScene = true),
      101L -> VideoHash.fixtureSceneMp4(999L))))
    val v = Dedup.frameSetDedupAgainstIndex(batch, idx, threshold = 0.3)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(r.fieldIndex("is_dup")),
          if (r.isNullAt(r.fieldIndex("best_jaccard"))) 0.0
          else r.getDouble(r.fieldIndex("best_jaccard"))))).toMap
    assert(v(100L)._1 && math.abs(v(100L)._2 - math.rint(4.0 / 6.0 * 1e6) / 1e6) < 1e-9,
      s"variant must flag at 4/6: $v")
    assert(!v(101L)._1, s"unrelated video must pass: $v")
    // the THRESHOLD-RATIONALE boundary: a 2-scene video (the worst
    // case the 0.3 threshold is set against — q145's perturbed vids
    // are always odd, n ∈ {3, 5}, so only this spec exercises it) —
    // one replaced scene of two leaves J = 1/3 = 0.333333 after the
    // round-to-6 discipline, a 0.033 margin that must stay >= 0.3
    val idx2 = VideoHash.keyframeSet(
        mediaDf(Seq(12L -> VideoHash.fixtureSceneMp4(12L)))) // 12 % 4 = 0 -> n = 2
      .withColumn("n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("media_id"))))
      .select(col("media_id").as("id"), col("fhash"), col("n"))
    val v2 = Dedup.frameSetDedupAgainstIndex(
        VideoHash.keyframeSet(mediaDf(Seq(
          200L -> VideoHash.fixtureSceneMp4(12L, replaceScene = true)))),
        idx2, threshold = 0.3)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(r.fieldIndex("is_dup")),
          r.getDouble(r.fieldIndex("best_jaccard"))))).toMap
    assert(v2(200L)._1 && math.abs(v2(200L)._2 - 0.333333) < 1e-9,
      s"2-scene worst case must flag at round(1/3, 6): $v2")
  }

  test("fragmented MP4: every fragment's frames hash — 3-fragment fixture == single-mdat twin") {
    Seq(0L, 17L, 97L, 4242L).foreach { id =>
      val single = VideoHash.frameDHashes(VideoHash.fixtureMp4(id))
      assert(single.exists(_.nonEmpty))
      Seq(1, 3, 5, 16).foreach { k =>
        assert(VideoHash.frameDHashes(VideoHash.fixtureFragmentedMp4(id, k)) ===
          single, s"id=$id fragments=$k: fragmented hashes diverged from twin")
      }
      // perturbed twin too — the perturbation must survive fragmentation
      assert(VideoHash.frameDHashes(VideoHash.fixtureFragmentedMp4(id, 4, perturb = true)) ===
        VideoHash.frameDHashes(VideoHash.fixtureMp4(id, perturb = true)))
    }
  }

  test("ISO size encodings: size==0 (to-EOF mdat) and size==1 (64-bit largesize) both walk") {
    val data = "frame-bytes".getBytes("US-ASCII")
    // mdat with size==0: extends to end of file
    val eof = java.nio.ByteBuffer.allocate(16 + 8 + data.length)
    eof.putInt(16); eof.put("ftyp".getBytes("US-ASCII")); eof.putLong(0L)
    eof.putInt(0); eof.put("mdat".getBytes("US-ASCII")); eof.put(data)
    assert(VideoHash.mdatPayloads(eof.array()).map(_.toSeq) === Seq(data.toSeq))
    // mdat with size==1: 64-bit largesize follows the type
    val ls = java.nio.ByteBuffer.allocate(16 + 16 + data.length)
    ls.putInt(16); ls.put("ftyp".getBytes("US-ASCII")); ls.putLong(0L)
    ls.putInt(1); ls.put("mdat".getBytes("US-ASCII")); ls.putLong(16L + data.length)
    ls.put(data)
    assert(VideoHash.mdatPayloads(ls.array()).map(_.toSeq) === Seq(data.toSeq))
    // corrupt largesize (smaller than its own header) rejects the container
    val bad = java.nio.ByteBuffer.allocate(16 + 16)
    bad.putInt(16); bad.put("ftyp".getBytes("US-ASCII")); bad.putLong(0L)
    bad.putInt(1); bad.put("mdat".getBytes("US-ASCII")); bad.putLong(8L)
    assert(VideoHash.mdatPayloads(bad.array()) === Nil)
  }

  test("mdat walk is best-effort: corruption AFTER a complete mdat keeps the collected payloads") {
    // a complete mdat followed by trailing garbage (truncated download,
    // appended junk — both common crawl shapes): the old first-mdat
    // read hashed such files fine, so the multi-mdat walk must not
    // turn them into Nil (that would be a silent recall regression for
    // q134/q137/q141 and the facade)
    val data = "frame-bytes".getBytes("US-ASCII")
    val t = java.nio.ByteBuffer.allocate(16 + 8 + data.length + 12)
    t.putInt(16); t.put("ftyp".getBytes("US-ASCII")); t.putLong(0L)
    t.putInt(8 + data.length); t.put("mdat".getBytes("US-ASCII")); t.put(data)
    t.putInt(999999) // box claiming to run far past EOF
    t.put("junk".getBytes("US-ASCII")); t.putInt(0)
    assert(VideoHash.mdatPayloads(t.array()).map(_.toSeq) === Seq(data.toSeq),
      "trailing corruption destroyed a valid mdat payload")
    // corruption BEFORE any mdat still rejects (nothing to salvage)
    val pre = java.nio.ByteBuffer.allocate(8 + 8 + data.length)
    pre.putInt(999999); pre.put("junk".getBytes("US-ASCII"))
    pre.putInt(8 + data.length); pre.put("mdat".getBytes("US-ASCII")); pre.put(data)
    assert(VideoHash.mdatPayloads(pre.array()) === Nil)
  }

  test("CanonicalUrl lowercases like Spark's lower() under a Turkish default locale") {
    // a tr/az JVM maps ASCII 'I' -> dotless 'ı' via String.toLowerCase;
    // Spark's lower() takes an ASCII fast path that does not — the
    // native kernel must match Spark (and the oracle), not the locale
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
      val got = graft.functions.CanonicalUrl.canonicalize(
        "HTTP://WWW.SITE.COM:80/I?b=1", Array("utm_"))
      assert(got === "http://site.com/I?b=1",
        s"turkish-locale lowering leaked into the canonical form: $got")
    } finally java.util.Locale.setDefault(prev)
  }

  test("audio-track container: video hashes ignore the RIFF mdat; soundtrack recovers the WAV byte-identically") {
    Seq(3L, 42L).foreach { id =>
      val pid = id + 5000000L
      val withAudio = VideoHash.fixtureMp4WithAudio(id, pid)
      assert(VideoHash.frameDHashes(withAudio) ===
        VideoHash.frameDHashes(VideoHash.fixtureMp4(id)),
        s"id=$id: audio mdat leaked into the video frame stream")
      assert(AudioHash.soundtrack(withAudio).map(_.toSeq) ===
        Some(AudioHash.fixtureWavTrimmed(pid, 0).toSeq),
        s"id=$id: extracted soundtrack not byte-identical")
      assert(AudioHash.soundtrack(VideoHash.fixtureMp4(id)) === None,
        "a trackless video must surface no soundtrack")
      assert(AudioHash.soundtrack("junk".getBytes) === None)
    }
  }

  test("MJPEG sniff: a raw-plane stream starting 0xFF 0xD8 routes raw, not MJPEG") {
    // craft planes whose first two pixels are 255,216 — the 2-byte SOI
    // sniff alone would misroute this to the MJPEG walk and silently
    // lose every frame hash; the first-frame segment-walk validation
    // must reject it (pixel bytes after SOI do not parse as segments)
    val planes = new Array[Byte](2 * VideoHash.FrameBytes)
    planes(0) = 0xFF.toByte; planes(1) = 0xD8.toByte
    planes(2) = 0x11 // NOT 0xFF: the segment walk fails immediately
    for (i <- 3 until planes.length) planes(i) = ((i * 37) % 200).toByte
    val got = VideoHash.frameDHashes(Multimodal.mp4Bytes(planes, 80L, 9, 8))
    val expected = (0 until 2).map { f =>
      VideoHash.planeDHash(java.util.Arrays.copyOfRange(
        planes, f * VideoHash.FrameBytes, (f + 1) * VideoHash.FrameBytes))
    }
    assert(got === Some(expected),
      "SOI-lookalike raw planes must hash as raw planes")
  }

  test("setJaccardAcross: independent id spaces, cross pairs only, both-side hot-hash cap") {
    // left 1 holds {10,11,12,13,77}; right 1 holds {10,11,12,99,77};
    // hash 77 is on EVERY id — capped out at maxHashFreq 3, so the
    // intersection is {10,11,12} but sizes stay the identities (5,5):
    // J = 3/7. right 2 holds {13,77} → J with left 1 below threshold.
    val left = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L), (1L, 77L),
      (2L, 50L), (2L, 77L)).toDF("media_id", "whash")
    val right = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 99L), (1L, 77L),
      (2L, 13L), (2L, 77L)).toDF("media_id", "whash")
    val got = Dedup.setJaccardAcross(left, right, "media_id", "whash",
      threshold = 0.4, maxHashFreq = 3).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === (1L, 1L, 3L))
    assert(math.abs(r.getDouble(3) - math.rint(3.0 / 7.0 * 1e6) / 1e6) < 1e-9)
  }

  test("Materialize mode flag: persist mode yields identical results to the default local-checkpoint mode") {
    // spark.graft.materialize=persist swaps every operator-internal
    // eager localCheckpoint for a lineage-retaining MEMORY_AND_DISK
    // persist (the cluster-reliability posture — an executor loss
    // recomputes instead of killing the job). Results must be
    // bit-identical; this drives the three operator families that
    // route through Materialize (set-Jaccard sides, the incremental
    // label fold, pagerank's redistribution state).
    val left = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 50L)).toDF("media_id", "whash")
    val right = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 99L),
      (2L, 13L)).toDF("media_id", "whash")
    val labels = Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("id", "cluster")
    val newPairs = Seq((2L, 5L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    import org.apache.spark.sql.Row
    def runAll(): (Set[Row], Set[Row], Set[Row]) = (
      Dedup.setJaccardAcross(left, right, "media_id", "whash",
        threshold = 0.4, maxHashFreq = 0).collect().toSet,
      Dedup.updateClusters(labels, newPairs).collect().toSet,
      Graph.pageRank(nodes, edges, iterations = 4,
        redistributeDangling = true).collect().toSet)
    val local = runAll()
    spark.conf.set(graft.core.Materialize.ModeKey, "persist")
    val persisted =
      try runAll()
      finally {
        spark.conf.unset(graft.core.Materialize.ModeKey)
        spark.catalog.clearCache() // release the persist-mode entries
      }
    assert(persisted === local)
  }

  test("Materialize.pair: a failed side releases the other side and surfaces every error") {
    import graft.core.Materialize
    // every partition holds a row, so every task of a failing side throws
    def boom(tag: String) = spark.range(0, 8, 1, 2).toDF("id")
      .select(udf((x: Long) => { if (x >= 0) throw new IllegalStateException(tag); x })
        .apply(col("id")))
    val ok = spark.range(0, 1000, 1, 4).toDF("id")
    def messages(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).toSeq
    // RDDs holding cached blocks: a side whose every task failed fills
    // none, so anything new here after a failed pair is the other side's
    def held(): Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    // persist mode registers the failed side's cache too; it must go
    def registered(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    for (mode <- Seq("local", "persist")) {
      spark.conf.set(Materialize.ModeKey, mode)
      try {
        for ((a, b) <- Seq((boom("boom-a"), ok), (ok, boom("boom-b")))) {
          val (before, regBefore) = (held(), registered())
          intercept[Exception](Materialize.pair(a, b))
          assert(held() -- before === Set.empty[Int],
            s"$mode: the successful side's storage must be released")
          if (mode == "persist") assert(registered() -- regBefore === Set.empty[Int],
            "persist: no cache entry may outlive a failed pair")
        }
        val e = intercept[Exception](Materialize.pair(boom("boom-a"), boom("boom-b")))
        val all = (e +: e.getSuppressed.toSeq).flatMap(messages).mkString("\n")
        assert(all.contains("boom-a") && all.contains("boom-b"),
          s"$mode: both errors must surface, got:\n$all")
      } finally spark.conf.unset(Materialize.ModeKey)
    }
  }

  test("set-Jaccard caller contract: the debug valve catches non-distinct inputs; production path never pays it") {
    // a duplicated (id, hash) row inflates sizes and n_shared instead
    // of failing — the exact bug class spark.graft.debug.assertDistinct
    // exists to catch before the pair math runs
    val clean = Seq((1L, 10L), (1L, 11L)).toDF("media_id", "whash")
    val dirty = Seq((1L, 10L), (1L, 10L), (1L, 11L)).toDF("media_id", "whash")
    spark.conf.set("spark.graft.debug.assertDistinct", "true")
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.setJaccardAcross(dirty, clean, "media_id", "whash",
          threshold = 0.1, maxHashFreq = 0)
      }
      assert(e.getMessage.contains("not distinct")
        && e.getMessage.contains("setJaccardAcross"))
      intercept[IllegalArgumentException] {
        Dedup.setJaccardPairs(dirty, "media_id", "whash",
          threshold = 0.1, maxHashFreq = 0)
      }
      // distinct inputs pass under the valve
      assert(Dedup.setJaccardAcross(clean, clean, "media_id", "whash",
        threshold = 0.1, maxHashFreq = 0).count() === 1L)
    } finally spark.conf.unset("spark.graft.debug.assertDistinct")
    // valve off (default): the contract violation is the caller's —
    // the kernel must not add a corpus-sized aggregation to check it
    assert(Dedup.setJaccardAcross(dirty, clean, "media_id", "whash",
      threshold = 0.1, maxHashFreq = 0).count() === 1L)
  }

  test("soundtrack near-dup: extracted soundtracks pair with standalone recordings, trim-robust both directions") {
    val spark = this.spark
    // videos 1..6 carry soundtracks pid = id + 5000000; recordings:
    // id 101/102 are videos 1/2's soundtracks trimmed by 3 and 0
    // frames; id 103 is unrelated
    val videos = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(1L, 2L, 3L, 4L, 5L, 6L).map(id =>
        org.apache.spark.sql.Row(id, VideoHash.fixtureMp4WithAudio(id, id + 5000000L))), 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.BinaryType))))
    val recordings = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(101L, AudioHash.fixtureWavTrimmed(5000001L, 3)),
        org.apache.spark.sql.Row(102L, AudioHash.fixtureWavTrimmed(5000002L, 0)),
        org.apache.spark.sql.Row(103L, AudioHash.fixtureWavTrimmed(9999999L, 0))), 2),
      videos.schema)
    val got = AudioHash.soundtrackNearDupPairs(videos, recordings)
      .orderBy(col("video_id")).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 101L), (2L, 102L)))
    // trimmed by 3 whole frames → J = (64-3)/64; untrimmed → identical sets
    assert(math.abs(got(0).getDouble(3) - math.rint(61.0 / 64.0 * 1e6) / 1e6) < 1e-9)
    assert(math.abs(got(1).getDouble(3) - 1.0) < 1e-9)
  }

  test("corrupt containers: near-Int.MaxValue box/chunk sizes yield None, never a UDF crash") {
    // video: after one valid box, a size of 0x7FFFFFFC makes pos + size
    // wrap negative in Int — the old check passed it and copyOfRange
    // threw, failing the whole job on one bad payload
    val vid = java.nio.ByteBuffer.allocate(16)
    vid.putInt(8); vid.put("ftyp".getBytes("US-ASCII"))
    vid.putInt(0x7FFFFFFC); vid.put("mdat".getBytes("US-ASCII"))
    assert(VideoHash.frameDHashes(vid.array()) === None,
      "corrupt mdat size must reject, not throw")
    // audio: same wrap in the RIFF chunk walk (pos + 8 + size)
    val wav = java.nio.ByteBuffer.allocate(48).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wav.put("RIFF".getBytes("US-ASCII")); wav.putInt(40)
    wav.put("WAVE".getBytes("US-ASCII"))
    wav.put("junk".getBytes("US-ASCII")); wav.putInt(0x7FFFFFF0)
    assert(AudioHash.envelopeHash64(wav.array()) === None,
      "corrupt RIFF chunk size must yield a null fingerprint, not throw")
  }

  test("decompression-bomb PNG: gigapixel header rejected before any raster is allocated") {
    // a REAL PNG header (valid CRCs) declaring 100k x 100k = 10 Gpx
    // from ~60 bytes of payload — the old path handed it to
    // ImageIO.read, which allocates the raster the header promises
    def pngHeader(w: Int, h: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
      def chunk(typ: String, data: Array[Byte]): Unit = {
        out.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array())
        val td = typ.getBytes("US-ASCII") ++ data
        out.write(td)
        val crc = new java.util.zip.CRC32(); crc.update(td)
        out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
      }
      chunk("IHDR", java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
        .put(8.toByte).put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array())
      chunk("IEND", Array.empty[Byte])
      out.toByteArray
    }
    assert(ImageHash.dHash64(pngHeader(100000, 100000)) === None,
      "10 Gpx header must be rejected from the header, not decoded")
    // a legitimate large-ish header under the cap still routes to decode
    // (truncated payload -> decode fails -> None, but no bomb rejection
    // is involved; the fixture round-trip test pins the happy path)
    assert(ImageHash.MaxPixels > 8000L * 8000L, "cap must clear real photos")
  }

  test("Motion-JPEG mdat: real encoded frames hash through the still-image dHash path") {
    // three fixture patterns, JPEG-encoded (lossy — expectations come
    // from hashing the SAME jpeg bytes as stills, not from arithmetic)
    val jpegs = Seq(11L, 22L, 33L).map { pid =>
      val img = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 8; x <- 0 until 9)
        img.getRaster.setSample(x, y, 0, ImageHash.fixtureGray(pid, x, y, false))
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", buf)
      buf.toByteArray
    }
    val mjpeg = Multimodal.mp4Bytes(jpegs.reduce(_ ++ _), 120L, 9, 8)
    val expected = jpegs.map(b => ImageHash.dHash64(b).get)
    assert(VideoHash.frameDHashes(mjpeg) === Some(expected),
      "MJPEG frames must hash exactly as their stills do")
    // raw-plane twin: embed each frame's DECODED gray plane as a raw
    // 9x8 plane — the two layouts must land on identical hashes
    val rawPayload = jpegs.flatMap { b =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      ImageHash.grayPlane(img).map(_.toByte)
    }.toArray
    assert(VideoHash.frameDHashes(Multimodal.mp4Bytes(rawPayload, 120L, 9, 8))
      === Some(expected), "raw-plane twin must hash identically to its MJPEG")
  }

  test("MJPEG split is marker-aware: FF D9 inside a COM segment must not split the frame") {
    // a naive byte scan for the EOI pair splits mid-segment whenever a
    // table/comment contains those two bytes; the segment walk skips
    // length-prefixed segments
    def jpeg(pid: Long): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 8; x <- 0 until 9)
        img.getRaster.setSample(x, y, 0, ImageHash.fixtureGray(pid, x, y, false))
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", buf)
      buf.toByteArray
    }
    def withComment(j: Array[Byte], payload: Array[Byte]): Array[Byte] = {
      val len = payload.length + 2
      j.take(2) ++ Array(0xFF.toByte, 0xFE.toByte,
        ((len >> 8) & 0xFF).toByte, (len & 0xFF).toByte) ++ payload ++ j.drop(2)
    }
    val poisoned = withComment(jpeg(44L),
      Array(0xFF.toByte, 0xD9.toByte, 'x'.toByte)) // EOI bytes inside COM
    val clean = jpeg(55L)
    // the doctored frame still decodes as a still (ImageIO tolerates COM)
    val expected = Seq(ImageHash.dHash64(poisoned).get, ImageHash.dHash64(clean).get)
    assert(VideoHash.frameDHashes(Multimodal.mp4Bytes(poisoned ++ clean, 80L, 9, 8))
      === Some(expected),
      "a COM segment containing FF D9 must not truncate the frame stream")
  }

  test("MJPEG walk resyncs after inter-frame padding: a bad region loses only itself") {
    def jpeg(pid: Long): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 8; x <- 0 until 9)
        img.getRaster.setSample(x, y, 0, ImageHash.fixtureGray(pid, x, y, false))
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", buf)
      buf.toByteArray
    }
    val (j1, j2) = (jpeg(11L), jpeg(22L))
    // zero padding between frames (even-offset muxer style): the walk
    // must resync at the next SOI, not abort the remaining stream
    val padded = j1 ++ Array.fill(8)(0.toByte) ++ j2
    assert(VideoHash.frameDHashes(Multimodal.mp4Bytes(padded, 80L, 9, 8)) ===
      Some(Seq(ImageHash.dHash64(j1).get, ImageHash.dHash64(j2).get)),
      "padding between frames must cost nothing downstream")
  }

  test("resize ceiling is independent of the dHash bomb ceiling and rejection means passthrough") {
    import spark.implicits._
    val png = ImageHash.fixturePng(123L) // 9x8 = 72 px
    val media = Seq((1L, "image", png)).toDF("media_id", "kind", "bytes")
    // a ceiling below the image's pixel count: passthrough, not resized
    val tiny = Multimodal.resizeImages(media, 4, 4, maxPixels = 50L).collect()(0)
    assert(!tiny.getBoolean(5) && tiny.getAs[Array[Byte]]("bytes").sameElements(png),
      "over-ceiling image must pass through with original bytes")
    // the default resize ceiling admits it (and is wider than dHash's)
    val ok = Multimodal.resizeImages(media, 4, 4).collect()(0)
    assert(ok.getBoolean(5), "default ceiling must admit the image")
    assert(Multimodal.ResizeMaxPixels > ImageHash.MaxPixels)
  }

  test("video near-dup: one-scene-replaced copies found at Jaccard 15/17, distinct videos filtered") {
    val ids = (1L to 200L).map(_ * 23L)
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.map(id => org.apache.spark.sql.Row(id, VideoHash.fixtureMp4(id))) ++
          ids.filter(_ % 3 == 0).map(id => org.apache.spark.sql.Row(
            id + 1000000000L, VideoHash.fixtureMp4(id, perturb = true))), 8),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.BinaryType, nullable = true))))
    val pairs = VideoHash.nearDuplicates(media, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val found = pairs.map(p => (p._1, p._2)).toSet
    val planted = ids.filter(_ % 3 == 0)
    planted.foreach { id =>
      assert(found.contains((id, id + 1000000000L)), s"planted copy of $id not found")
    }
    assert(pairs.length === planted.size, s"only planted pairs survive 0.8: ${pairs.length}")
    assert(pairs.forall(p => p._3 === 15L && p._4 === 0.882353))
  }

  test("MediaDedup facade: one call over a mixed frame finds planted dups in every modality, labeled by kind") {
    val rows =
      (1L to 40L).map(i => (i, "image", ImageHash.fixturePng(i * 31L))) ++
        Seq((1001L, "image", ImageHash.fixturePng(10 * 31L, perturb = true))) ++
        (1L to 40L).map(i => (100L + i, "audio", AudioHash.fixtureWav(i * 37L))) ++
        Seq((1002L, "audio", AudioHash.fixtureWav(10 * 37L, perturb = true))) ++
        (1L to 20L).map(i => (200L + i, "video", VideoHash.fixtureMp4(i * 23L))) ++
        Seq((1003L, "video", VideoHash.fixtureMp4(10 * 23L, perturb = true))) ++
        Seq((1004L, "image", "junk".getBytes)) // undecodable: no pairs, no crash
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, k, b) =>
        org.apache.spark.sql.Row(id, k, b) }, 8),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("kind",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.BinaryType, nullable = true))))
    val pairs = MediaDedup.nearDuplicates(media).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(pairs.toSet === Set(
      ("image", 10L, 1001L, "hamming"), // media_id 10 carries pattern 310
      ("audio", 110L, 1002L, "hamming"),
      ("video", 210L, 1003L, "jaccard")),
      s"exactly the three planted cross-modal dups, got ${pairs.mkString(", ")}")
  }

  test("MediaDedup facade scans the media frame ONCE for all three modalities") {
    // an RDD-backed source counts every row materialization: the
    // per-modality facade cost three full scans of the media bytes
    // (one filtered scan per kind); the single-projection facade must
    // evaluate each row exactly once
    val acc = spark.sparkContext.longAccumulator("mediaRowEvals")
    val rdd = spark.sparkContext.parallelize(1L to 60L, 6).map { id =>
      acc.add(1)
      val (kind, bytes) = (id % 3) match {
        case 0L => ("image", ImageHash.fixturePng(id))
        case 1L => ("audio", AudioHash.fixtureWav(id))
        case _  => ("video", VideoHash.fixtureMp4(id))
      }
      org.apache.spark.sql.Row(id, kind, bytes)
    }
    val media = spark.createDataFrame(rdd,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("kind",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.BinaryType, nullable = true))))
    MediaDedup.nearDuplicates(media).collect()
    assert(acc.value === 60L,
      s"media frame must be scanned once (60 rows), got ${acc.value} row evaluations")
  }

  test("MediaDedup facade emits image-video rows from the same single scan") {
    // stills 5001/5002 are frames 3 of videos 301/302; still 5003 is
    // unrelated — the facade must surface exactly the planted cross
    // -modality pairs, identical to the standalone imageVideoPairs
    // screen, while the scan-once accumulator contract (previous
    // test) keeps holding
    val vids = Seq(301L, 302L, 303L)
    val rows =
      vids.map(v => (v, "video", VideoHash.fixtureMp4(v))) ++ Seq(
        (5001L, "image", ImageHash.fixturePng(301L * 131L + 3L)),
        (5002L, "image", ImageHash.fixturePng(302L * 131L + 3L, perturb = true)),
        (5003L, "image", ImageHash.fixturePng(77L)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("kind",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("bytes",
        org.apache.spark.sql.types.BinaryType, nullable = true)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, k, b) =>
        org.apache.spark.sql.Row(id, k, b) }, 4), schema)
    val facade = MediaDedup.nearDuplicates(media)
      .filter(col("kind") === "image-video")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(4))).toSet
    val standalone = MediaDedup.imageVideoPairs(
        media.filter(col("kind") === "image").select(col("media_id"), col("bytes")),
        media.filter(col("kind") === "video").select(col("media_id"), col("bytes")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toDouble)).toSet
    assert(facade === standalone,
      s"facade image-video rows must equal the standalone screen: $facade vs $standalone")
    assert(facade.map(p => (p._1, p._2)) === Set((5001L, 301L), (5002L, 302L)))
  }

  test("imageVideoPairs: stills planted as (edited) video frames found across modalities") {
    // videos 1000..1049 carry frames at pattern ids vid*131 + f;
    // planted stills are exact or one-pixel-perturbed copies of a
    // chosen frame; background stills (pattern ids 1..80, disjoint
    // from every frame pattern) must match nothing
    val vids = (1000L until 1050L)
    val videos = spark.createDataFrame(
      spark.sparkContext.parallelize(vids.map(v =>
        org.apache.spark.sql.Row(v, VideoHash.fixtureMp4(v))), 4),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.BinaryType, nullable = true))))
    val exact = vids.filter(_ % 5 == 0).map(v =>       // still IS frame 3
      (v * 10L + 1L, ImageHash.fixturePng(v * 131L + 3L)))
    val edited = vids.filter(_ % 5 == 1).map(v =>      // lightly edited frame 7
      (v * 10L + 2L, ImageHash.fixturePng(v * 131L + 7L, perturb = true)))
    val background = (1L to 80L).map(i => (i, ImageHash.fixturePng(i)))
    val images = spark.createDataFrame(
      spark.sparkContext.parallelize((exact ++ edited ++ background).map {
        case (id, png) => org.apache.spark.sql.Row(id, png) }, 4),
      videos.schema)
    val pairs = MediaDedup.imageVideoPairs(images, videos).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getLong(3))).toMap
    vids.filter(_ % 5 == 0).foreach { v =>
      val hit = pairs.get((v * 10L + 1L, v))
      assert(hit.exists(_._1 == 0), s"exact still of video $v frame 3 not found: $hit")
    }
    vids.filter(_ % 5 == 1).foreach { v =>
      val hit = pairs.get((v * 10L + 2L, v))
      // a perturbed pixel flips at most 2 comparisons — and may flip 0
      // when it lands in the last column with an unchanged ordering
      assert(hit.exists(_._1 <= 2),
        s"edited still of video $v frame 7 not found within 2 bits: $hit")
    }
    assert(pairs.keySet.map(_._1).forall(_ > 1000L),
      s"background stills must match no video: ${pairs.keySet.filter(_._1 <= 1000L)}")
    assert(pairs.size === vids.count(_ % 5 == 0) + vids.count(_ % 5 == 1),
      s"exactly the planted pairs: ${pairs.size}")
  }

  test("image near-dup: planted perturbed copies found within Hamming 3, distinct images not") {
    val ids = (1L to 400L).map(_ * 31L)
    val base = ids.map(id => (id, ImageHash.fixturePng(id)))
    // every 10th image gets a lightly-edited copy (one perturbed pixel
    // -> at most 2 dHash bits differ)
    val dupIds = ids.filter(_ % 10 == 0)
    val dups = dupIds.map(id => (id + 1000000000L, ImageHash.fixturePng(id, perturb = true)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize((base ++ dups).map {
        case (id, png) => org.apache.spark.sql.Row(id, png)
      }, 8), ImageHash.dhashSchema.copy(fields = Array(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.BinaryType, nullable = true))))
    val pairs = ImageHash.nearDuplicates(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val found = pairs.map(p => (p._1, p._2)).toSet
    dupIds.foreach { id =>
      assert(found.contains((id, id + 1000000000L)),
        s"planted copy of $id not found (pairs: ${pairs.length})")
    }
    assert(pairs.forall(_._3 <= 3))
    // no pair between two distinct base images (patterns ~32 bits apart)
    assert(pairs.forall { case (a, b, _) => b - a == 1000000000L },
      s"unexpected cross-image pair among ${pairs.mkString(", ")}")
    // undecodable payloads drop out instead of failing the pass
    val withJunk = media.unionByName(Seq((999L, "junk".getBytes)).toDF("media_id", "bytes"))
    assert(ImageHash.nearDuplicates(withJunk).count() === pairs.length)
  }

  test("injectable codec: the whole perceptual family yields identical results through a fake non-RIFF/non-BMFF codec") {
    import graft.ops.{ContainerCodec, MediaCodec}
    val fake = FakeMediaCodec
    // re-wrap each default fixture's decoded CONTENT in the fake
    // format — same pixels/PCM, alien container
    def fakeImage(png: Array[Byte]): Array[Byte] =
      fake.encodeImage(ContainerCodec.imagePixels(png).get)
    def fakeAudio(wav: Array[Byte]): Array[Byte] = {
      val (s, r) = AudioHash.pcmSamplesWithRate(wav).get
      fake.encodeAudio(s, r)
    }
    def fakeVideo(mp4: Array[Byte]): Array[Byte] =
      fake.encodeVideo(ContainerCodec.videoFrames(mp4).get,
        ContainerCodec.soundtrackPcm(mp4))
    // the fake format really is alien to the default codec, and the
    // fake codec really rejects the default containers — no silent
    // pass-through could fake the equivalences below
    assert(ContainerCodec.imagePixels(fakeImage(ImageHash.fixturePng(1L))).isEmpty)
    assert(fake.audioPcm(AudioHash.fixtureWavTrimmed(1L, 0)).isEmpty)
    assert(fake.videoFrames(VideoHash.fixtureMp4(1L)).isEmpty)

    def pairSet(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet

    // IMAGES: 6 bases + 3 perturbed copies (near-dup pairs)
    val pngs = (1L to 6L).map(id => (id, ImageHash.fixturePng(id))) ++
      (1L to 3L).map(id => (id + 10L, ImageHash.fixturePng(id, perturb = true)))
    val dImg = ImageHash.nearDuplicates(pngs.toDF("media_id", "bytes"))
    val fImg = ImageHash.nearDuplicates(
      pngs.map { case (id, b) => (id, fakeImage(b)) }.toDF("media_id", "bytes"),
      codec = fake)
    assert(pairSet(dImg).nonEmpty && pairSet(dImg) === pairSet(fImg))

    // AUDIO whole-file + WINDOWED (trim-robust) forms
    val wavs = (1L to 4L).map(id => (id, AudioHash.fixtureWavTrimmed(id, 0))) ++
      Seq((21L, AudioHash.fixtureWavTrimmed(1L, 3)),
        (22L, AudioHash.fixtureWavTrimmed(2L, 0)))
    val fWavs = wavs.map { case (id, b) => (id, fakeAudio(b)) }
    val dAud = AudioHash.nearDuplicates(wavs.toDF("media_id", "bytes"))
    val fAud = AudioHash.nearDuplicates(fWavs.toDF("media_id", "bytes"),
      codec = fake)
    assert(pairSet(dAud).nonEmpty && pairSet(dAud) === pairSet(fAud))
    val dWin = AudioHash.nearDuplicatesWindowed(wavs.toDF("media_id", "bytes"))
    val fWin = AudioHash.nearDuplicatesWindowed(fWavs.toDF("media_id", "bytes"),
      codec = fake)
    assert(pairSet(dWin).nonEmpty && pairSet(dWin) === pairSet(fWin))

    // VIDEO frame-set Jaccard + SCENES + KEYFRAMES
    val mp4s = (1L to 4L).map(id => (id, VideoHash.fixtureMp4(id))) ++
      Seq((11L, VideoHash.fixtureMp4(1L, perturb = true)))
    val fMp4s = mp4s.map { case (id, b) => (id, fakeVideo(b)) }
    val dVid = VideoHash.nearDuplicates(mp4s.toDF("media_id", "bytes"))
    val fVid = VideoHash.nearDuplicates(fMp4s.toDF("media_id", "bytes"),
      codec = fake)
    assert(pairSet(dVid).nonEmpty && pairSet(dVid) === pairSet(fVid))
    val scenes = (1L to 4L).map(id => (id, VideoHash.fixtureSceneMp4(id)))
    val dScn = VideoHash.sceneSegments(scenes.toDF("media_id", "bytes"))
    val fScn = VideoHash.sceneSegments(
      scenes.map { case (id, b) => (id, fakeVideo(b)) }.toDF("media_id", "bytes"),
      codec = fake)
    assert(pairSet(dScn).nonEmpty && pairSet(dScn) === pairSet(fScn))
    val dKf = VideoHash.keyframeSet(scenes.toDF("media_id", "bytes"))
    val fKf = VideoHash.keyframeSet(
      scenes.map { case (id, b) => (id, fakeVideo(b)) }.toDF("media_id", "bytes"),
      codec = fake)
    assert(pairSet(dKf).nonEmpty && pairSet(dKf) === pairSet(fKf))

    // SOUNDTRACK <-> recording pairing (track extraction is the codec's)
    val avs = (1L to 3L).map(id =>
      (id, VideoHash.fixtureMp4WithAudio(id, id + 5000000L)))
    val recs = Seq((101L, AudioHash.fixtureWavTrimmed(5000001L, 3)),
      (103L, AudioHash.fixtureWavTrimmed(9999999L, 0)))
    val dSt = AudioHash.soundtrackNearDupPairs(
      avs.toDF("media_id", "bytes"), recs.toDF("media_id", "bytes"))
    val fSt = AudioHash.soundtrackNearDupPairs(
      avs.map { case (id, b) => (id, fakeVideo(b)) }.toDF("media_id", "bytes"),
      recs.map { case (id, b) => (id, fakeAudio(b)) }.toDF("media_id", "bytes"),
      codec = fake)
    assert(pairSet(dSt).nonEmpty && pairSet(dSt) === pairSet(fSt))

    // the single-scan FACADE, one injected codec across all modalities
    def facade(img: Seq[(Long, Array[Byte])], aud: Seq[(Long, Array[Byte])],
               vid: Seq[(Long, Array[Byte])], codec: MediaCodec) =
      MediaDedup.nearDuplicates(
        (img.map { case (i, b) => (i, "image", b) } ++
          aud.map { case (i, b) => (i, "audio", b) } ++
          vid.map { case (i, b) => (i, "video", b) })
          .toDF("media_id", "kind", "bytes"),
        codec = codec)
    val dAll = facade(pngs, wavs, mp4s, MediaCodec.Default)
    val fAll = facade(pngs.map { case (id, b) => (id, fakeImage(b)) },
      fWavs, fMp4s, fake)
    assert(pairSet(dAll).nonEmpty && pairSet(dAll) === pairSet(fAll))
  }
}

/** A deliberately NON-RIFF / non-ISO-BMFF / non-ImageIO media format
  * ("GF*1" big-endian blocks) + its [[MediaCodec]] — the equivalence
  * harness proving the perceptual operators depend on decoded CONTENT
  * only, never on the default containers: re-wrap the same pixels/PCM
  * in this format, inject the codec, get identical results. This is
  * the shape a production H.264/AAC codec drops into. */
object FakeMediaCodec extends graft.ops.MediaCodec {
  import graft.ops.MediaCodec.GrayFrame
  private val I = "GFI1".getBytes("US-ASCII")
  private val V = "GFV1".getBytes("US-ASCII")
  private val A = "GFA1".getBytes("US-ASCII")
  private def bb(b: Array[Byte]) =
    java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.BIG_ENDIAN)
  private def hasMagic(b: Array[Byte], m: Array[Byte]) =
    b != null && b.length >= 4 && b(0) == m(0) && b(1) == m(1) &&
      b(2) == m(2) && b(3) == m(3)

  def encodeImage(f: GrayFrame): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(12 + f.width * f.height)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    out.put(I).putInt(f.width).putInt(f.height)
    f.pixels.take(f.width * f.height).foreach(p => out.put(p.toByte))
    out.array()
  }
  def encodeAudio(samples: Array[Short], rate: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(12 + 2 * samples.length)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    out.put(A).putInt(rate).putInt(samples.length)
    samples.foreach(out.putShort)
    out.array()
  }
  def encodeVideo(frames: Seq[GrayFrame],
                  track: Option[(Array[Short], Int)] = None): Array[Byte] = {
    val audio = track.map { case (s, r) => encodeAudio(s, r) }
    val sz = 8 + frames.map(f => 8 + f.width * f.height).sum +
      audio.map(_.length).getOrElse(0)
    val out = java.nio.ByteBuffer.allocate(sz)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    out.put(V).putInt(frames.length)
    frames.foreach { f =>
      out.putInt(f.width).putInt(f.height)
      f.pixels.take(f.width * f.height).foreach(p => out.put(p.toByte))
    }
    audio.foreach(out.put)
    out.array()
  }

  def imagePixels(bytes: Array[Byte]): Option[GrayFrame] =
    if (!hasMagic(bytes, I)) None
    else try {
      val b = bb(bytes)
      val (w, h) = (b.getInt(4), b.getInt(8))
      Some(GrayFrame(
        (0 until w * h).map(i => bytes(12 + i) & 0xFF).toArray, w, h))
    } catch { case _: Exception => None }

  private def videoParts(bytes: Array[Byte]): Option[(Seq[GrayFrame], Int)] =
    if (!hasMagic(bytes, V)) None
    else try {
      val b = bb(bytes)
      val n = b.getInt(4)
      var pos = 8
      val frames = (0 until n).map { _ =>
        val (w, h) = (b.getInt(pos), b.getInt(pos + 4))
        val f = GrayFrame(
          (0 until w * h).map(i => bytes(pos + 8 + i) & 0xFF).toArray, w, h)
        pos += 8 + w * h
        f
      }
      Some((frames, pos))
    } catch { case _: Exception => None }

  def videoFrames(bytes: Array[Byte]): Option[Seq[GrayFrame]] =
    videoParts(bytes).map(_._1)

  def audioPcm(bytes: Array[Byte]): Option[(Array[Short], Int)] =
    if (!hasMagic(bytes, A)) None
    else try {
      val b = bb(bytes)
      val (rate, n) = (b.getInt(4), b.getInt(8))
      Some(((0 until n).map(i => b.getShort(12 + 2 * i)).toArray, rate))
    } catch { case _: Exception => None }

  def soundtrackPcm(bytes: Array[Byte]): Option[(Array[Short], Int)] =
    videoParts(bytes).flatMap { case (_, end) =>
      audioPcm(java.util.Arrays.copyOfRange(bytes, end, bytes.length))
    }
}

class RelevanceSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.ops.Relevance

  private val corpus = Seq(
    (1L, "spark join window spark spark"),
    (2L, "spark table scan filter sort"),
    (3L, "join join window merge batch"),
    (4L, "data column value row table"),
    (5L, "window window window window group")).toDF("doc_id", "text")

  test("termCounts: raw frequencies, partitioning-invariant") {
    val tc = Relevance.termCounts(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tc((1L, "spark")) === 3L)
    assert(tc((3L, "join")) === 2L)
    val again = Relevance.termCounts(corpus.repartition(7), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tc === again)
  }

  test("tfIdf: rare terms outscore common ones; topK capped; ranks contiguous") {
    val out = Relevance.tfIdf(corpus, "doc_id", "text", topK = 2).collect()
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc.values.forall(_.length <= 2))
    byDoc.values.foreach { rows =>
      assert(rows.map(_.getLong(4)).sorted.toSeq === (1L to rows.length))
    }
    // doc 2: "table" appears in 2 docs, "scan"/"filter"/"sort" in 1 —
    // equal-tf rarer terms must outrank it
    val doc2 = out.filter(_.getLong(0) == 2L).map(_.getString(1)).toSet
    assert(!doc2.contains("table"), s"df=2 'table' cannot beat df=1 terms: $doc2")
    assert(!doc2.contains("spark"), "df=2 'spark' with tf=1 cannot rank top-2")
  }

  test("bm25: query-term frequency and doc length drive the ranking") {
    val ranked = Relevance.bm25(corpus, "doc_id", "text",
        Seq("spark", "join", "window"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val ranks = ranked.map(t => t._1 -> t._3).toMap
    // docs 1 (spark×3 + join + window) and 5 (window×4) carry the most
    // query mass; doc 4 has none and must be absent
    assert(!ranks.contains(4L))
    assert(ranks(1L) === 1L, s"doc 1 matches all three query terms: $ranked")
    assert(ranked.map(_._2).toSeq === ranked.map(_._2).sorted.reverse.toSeq)
    val again = Relevance.bm25(corpus.repartition(5), "doc_id", "text",
        Seq("spark", "join", "window"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(ranked.toSeq === again.toSeq, "scores independent of partitioning")
    // pivot columns are index-named: a term containing '.' (legal —
    // the tokenizer splits on whitespace only) must not break col()'s
    // nested-field parsing, and duplicate terms must not collide
    val dotted = Relevance.bm25(
      Seq((1L, "see example.com now"), (2L, "no match here"))
        .toDF("doc_id", "text"),
      "doc_id", "text", Seq("example.com", "example.com"), topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(dotted.length === 1 && dotted.head._1 === 1L)
    assert(dotted.head._2 > 0.0, "duplicate terms sum per occurrence")
  }

  test("bigramLmScore: in-domain text scores lower than gibberish; pure function") {
    import spark.implicits._
    val lm = (1 to 50).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // in-domain
      (2L, "zap qux vex wub nim klo parg trel snib juv"),  // unseen bigrams
      (3L, "single"),                                       // no bigrams
      (4L, ""),                                             // ZERO tokens
      (5L, "   \t  ")                                       // whitespace-only
    ).toDF("doc_id", "text")
    val out = Relevance.bigramLmScore(docs, lm, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.getAs[java.lang.Double]("lm_score"))))).toMap
    assert(out(1L)._2.get < out(2L)._2.get,
      s"reference-like text must out-score gibberish, got $out")
    // absence is not silence: bigram-less docs appear with a NULL
    // score (the docstring contract — an inner-join composition
    // would otherwise silently lose them from the corpus)
    assert(out(3L) === ((0L, None)), "a doc with no bigrams scores null")
    assert(out(4L) === ((0L, None)) && out(5L) === ((0L, None)),
      "zero-token docs score null too, not crash the slice (negative length)")
    assert(out(1L)._1 === 8L, "9 tokens -> 8 bigrams")
    val again = Relevance.bigramLmScore(docs.repartition(5), lm.repartition(3),
        "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.getAs[java.lang.Double]("lm_score"))))).toMap
    assert(out === again, "pico-unit integer sums make the score partition-exact")
  }

  test("bm25TermScores: saturation — tf doubling less than doubles the score") {
    val docs = Seq(
      (1L, "term filler filler filler filler filler filler filler"),
      (2L, "term term filler filler filler filler filler filler"),
      (3L, "term term term term filler filler filler filler")).toDF("doc_id", "text")
    val sc = Relevance.bm25TermScores(docs, "doc_id", "text", Seq("term"))
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(sc(2L) > sc(1L) && sc(3L) > sc(2L), "more hits, higher score")
    assert(sc(2L) - sc(1L) > sc(3L) - sc(2L), "diminishing returns (k1 saturation)")
  }

  test("postingSizeStats: hand-checked Elias-gamma bits, gamma beats fixed-width on dense postings") {
    // 6 docs all holding "hot": block 0 (blockBits=4 -> base 0), ids
    // 0..5, gaps [0,1,1,1,1,1] -> gamma(gap+1): g(1)=1 bit, g(2)=3 bits
    val docs = (0L until 6L).map(i => (i, "hot cold" + i)).toDF("doc_id", "text")
    val out = Relevance.postingSizeStats(docs, "doc_id", "text",
        blockBits = 4, minDf = 6L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.length === 1 && out.head._1 === "hot", "minDf gates rare terms")
    val (_, nBlocks, df, elias, fixed, ratio) = out.head
    assert(nBlocks === 1L && df === 6L)
    assert(elias === 1L + 5L * 3L, s"1 + 5*3 bits, got $elias")
    assert(fixed === 6L * 64L)
    assert(ratio === BigDecimal(java.math.BigDecimal.valueOf(elias.toDouble / fixed))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      "dense postings compress ~24x (ratio rounds to 6dp)")
  }

  test("postingSizeStats: blocks split ids, gamma bits follow block-relative gaps") {
    // ids 0 and 16 with blockBits=4: two blocks, each first-gap 0 ->
    // gamma(1) = 1 bit per block
    val docs = Seq((0L, "x"), (16L, "x")).toDF("doc_id", "text")
    val r = Relevance.postingSizeStats(docs, "doc_id", "text",
      blockBits = 4, minDf = 1L).head
    assert(r.getLong(1) === 2L && r.getLong(2) === 2L && r.getLong(3) === 2L)
  }
}
