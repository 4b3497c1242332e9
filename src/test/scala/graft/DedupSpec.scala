package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Dispatch, Similarity, SpanDedup}

class DedupSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("exact dedup keeps min id per content hash") {
    val docs = Seq((1L, "aa bb"), (2L, "aa bb"), (3L, "cc"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs, $"doc_id", $"text")
      .orderBy($"keep_id").collect()
    assert(out.length === 2)
    assert(out(0).getAs[Long]("keep_id") === 1L)
    assert(out(0).getAs[Long]("dup_count") === 2L)
  }

  test("normalized dedup is case/punct/whitespace-insensitive") {
    val docs = Seq((1L, "Hello,  World!"), (2L, "hello world"), (3L, "bye"))
      .toDF("doc_id", "text")
    val out = Dedup.exactNormalized(docs, $"doc_id", $"text").collect()
    assert(out.length === 2)
    assert(out.map(_.getAs[Long]("dup_count")).sorted.toSeq === Seq(1L, 2L))
  }

  test("shingles: n-gram count and short-text fallback") {
    val df = Seq((1L, "a b c d e"), (2L, "a b")).toDF("id", "t")
    val sh = df.select($"id", Dedup.shingles($"t", 3).as("sh"))
      .orderBy($"id").collect()
    assert(sh(0).getSeq[String](1) === Seq("a b c", "b c d", "c d e"))
    assert(sh(1).getSeq[String](1) === Seq("a b"))
  }

  test("minhash+LSH finds exactly the exact-Jaccard pairs on the corpus") {
    val docs = Tables.documents(spark, sf)
    val truth = Dedup.jaccardPairs(docs, $"doc_id", $"text",
        block = lit(1), threshold = 0.5)
      .select($"id_a", $"id_b").orderBy($"id_a", $"id_b").collect().toSeq
    val lsh = Dedup.minhashPairs(docs, $"doc_id", $"text", threshold = 0.5)
      .select($"id_a", $"id_b").orderBy($"id_a", $"id_b").collect().toSeq
    assert(truth.nonEmpty)            // the synthetic corpus plants near-dups
    assert(lsh === truth)
  }

  test("cross pairs equal the exact cross-join truth on the corpus split") {
    val docs = Tables.documents(spark, sf)
    val evalSet = docs.where($"doc_id" < 50)
    val corpus = docs.where($"doc_id" >= 50)
    val got = Dedup.minhashCrossPairs(corpus, evalSet, $"doc_id", $"text",
        threshold = 0.5)
      .select($"id_a", $"id_b").orderBy($"id_a", $"id_b").collect().toSeq
    // truth: exact Jaccard over the full eval×corpus cross join
    val shE = evalSet.select($"doc_id".as("id_a"),
      Dedup.shingles($"text", 3).as("sh_a"))
    val shC = corpus.select($"doc_id".as("id_b"),
      Dedup.shingles($"text", 3).as("sh_b"))
    val truth = shE.crossJoin(shC)
      .where(Dedup.jaccard($"sh_a", $"sh_b") >= 0.5)
      .select($"id_a", $"id_b").orderBy($"id_a", $"id_b").collect().toSeq
    assert(truth.nonEmpty)            // the synthetic corpus plants near-dups
    assert(got === truth)
  }

  test("text-group collapse: verbatim-dup corpus expands to all true pairs") {
    // base corpus + 2 extra verbatim copies of every doc, re-keyed
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val amplified = (0 until 3).map(r =>
      docs.withColumn("doc_id", $"doc_id" + lit(r * 1000000L)))
      .reduce(_ unionByName _)
    val got = Dedup.minhashPairs(amplified, $"doc_id", $"text", 0.5)
      .select($"id_a", $"id_b", $"jac")
      .orderBy($"id_a", $"id_b").collect().toSeq
    // truth: naive all-pairs Jaccard, independent of any collapse machinery
    val sh = amplified.select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
    val truth = sh.select($"doc_id".as("id_a"), $"sh".as("sh_a"))
      .crossJoin(sh.select($"doc_id".as("id_b"), $"sh".as("sh_b")))
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b", Dedup.jaccard($"sh_a", $"sh_b").as("jac"))
      .where($"jac" >= 0.5)
      .select($"id_a", $"id_b", $"jac")
      .orderBy($"id_a", $"id_b").collect().toSeq
    assert(got === truth)
    // the (also-collapsed) exact blocked formulation agrees with the naive one
    val blocked = Dedup.jaccardPairs(amplified, $"doc_id", $"text",
        block = lit(1), threshold = 0.5)
      .select($"id_a", $"id_b", $"jac")
      .orderBy($"id_a", $"id_b").collect().toSeq
    assert(blocked === truth)
    // each original doc now pairs with its 2 verbatim copies at jac = 1
    val nDocs = docs.count()
    assert(got.count(_.getDouble(2) == 1.0) >= nDocs * 3)
    val sim = Dedup.simhashNearDup(amplified, $"doc_id", $"text", 0.5)
      .select($"id_a", $"id_b", $"jac")
      .orderBy($"id_a", $"id_b").collect().toSeq
    assert(sim === truth)
  }

  test("minhashEdges components are bit-identical to minhashPairs components") {
    // dup-heavy corpus: 4 verbatim copies of every doc, re-keyed — the
    // shape where the full pair list goes quadratic in the copy count but
    // the star+rep-pair edge set stays linear
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val amplified = (0 until 4).map(r =>
      docs.withColumn("doc_id", $"doc_id" + lit(r * 1000000L)))
      .reduce(_ unionByName _)
    val ids = amplified.select($"doc_id".as("id"))
    val viaPairs = Dedup.clusters(ids,
        Dedup.minhashPairs(amplified, $"doc_id", $"text", 0.5))
      .orderBy($"id").collect().toSeq
    val edges = Dedup.minhashEdges(amplified, $"doc_id", $"text", 0.5)
    val viaEdges = Dedup.clusters(ids, edges)
      .orderBy($"id").collect().toSeq
    assert(viaEdges === viaPairs)
    // and the edge set really is sparse: every verbatim copy contributes
    // ONE star edge, never a clique — so edges grow linearly in copies
    val nPairs = Dedup.minhashPairs(amplified, $"doc_id", $"text", 0.5)
      .count()
    assert(edges.count() < nPairs,
      s"edge set (${edges.count()}) not sparser than pair list ($nPairs)")
    // duplicate-free corpus: the adaptive probe passes raw pairs through
    val viaEdgesBase = Dedup.clusters(docs.select($"doc_id".as("id")),
        Dedup.minhashEdges(docs, $"doc_id", $"text", 0.5))
      .orderBy($"id").collect().toSeq
    val viaPairsBase = Dedup.clusters(docs.select($"doc_id".as("id")),
        Dedup.minhashPairs(docs, $"doc_id", $"text", 0.5))
      .orderBy($"id").collect().toSeq
    assert(viaEdgesBase === viaPairsBase)
  }

  test("levenshteinEdges and containmentEdges: components bit-identical " +
      "to their pair lists, edge sets linear on a dup-heavy corpus") {
    // same dup-heavy shape as the minhashEdges test: 4 verbatim copies
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"lang")
    val amplified = (0 until 4).map(r =>
      docs.withColumn("doc_id", $"doc_id" + lit(r * 1000000L)))
      .reduce(_ unionByName _)
    val ids = amplified.select($"doc_id".as("id"))

    val levPairs = Dedup.levenshteinPairs(amplified, $"doc_id", $"text",
      block = $"lang", maxDist = 60)
    val levEdges = Dedup.levenshteinEdges(amplified, $"doc_id", $"text",
      block = $"lang", maxDist = 60)
    val viaLevPairs = Dedup.clusters(ids, levPairs)
      .orderBy($"id").collect().toSeq
    val viaLevEdges = Dedup.clusters(ids, levEdges)
      .orderBy($"id").collect().toSeq
    assert(viaLevEdges === viaLevPairs)
    assert(levEdges.count() < levPairs.count(),
      "levenshtein edge set not sparser than the pair list")

    val conPairs = Dedup.containmentPairs(amplified, $"doc_id", $"text",
      block = $"lang", threshold = 0.8)
    val conEdges = Dedup.containmentEdges(amplified, $"doc_id", $"text",
      block = $"lang", threshold = 0.8)
    val viaConPairs = Dedup.clusters(ids, conPairs)
      .orderBy($"id").collect().toSeq
    val viaConEdges = Dedup.clusters(ids, conEdges)
      .orderBy($"id").collect().toSeq
    assert(viaConEdges === viaConPairs)
    assert(conEdges.count() < conPairs.count(),
      "containment edge set not sparser than the pair list")

    // duplicate-free corpus: the adaptive probe passes raw pairs through
    val baseIds = docs.select($"doc_id".as("id"))
    assert(Dedup.clusters(baseIds,
        Dedup.levenshteinEdges(docs, $"doc_id", $"text", $"lang", 60))
        .orderBy($"id").collect().toSeq ===
      Dedup.clusters(baseIds,
        Dedup.levenshteinPairs(docs, $"doc_id", $"text", $"lang", 60))
        .orderBy($"id").collect().toSeq)
  }

  test("spanDedup: planted shared spans found, window counts exact, " +
      "short docs zero") {
    import spark.implicits._
    val span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"one two three $span four five"),   // shares the 10-word span
      (2L, s"$span completely different tail words here now"),
      (3L, "totally unrelated text with enough words to form windows ok"),
      (4L, "short doc")                          // < 8 words: no windows
    ).toDF("doc_id", "text")
    val out = graft.operators.SpanDedup
      .spanStats(docs, $"doc_id", $"text", n = 8)
      .orderBy($"doc_id").collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 1: 15 words -> 8 windows; the 10-word shared span contributes
    // 3 shared 8-windows (offsets 0..2 within the span)
    assert(byId(1L)._1 === 8L)
    assert(byId(1L)._2 === 3L)
    // doc 2: 16 words -> 9 windows, same 3 shared
    assert(byId(2L)._1 === 9L)
    assert(byId(2L)._2 === 3L)
    assert(byId(3L)._2 === 0L)
    assert(byId(4L) === ((0L, 0L, 0.0)))
    assert(byId(1L)._3 === 3.0 / 8.0)
  }

  // naive single-machine truth for the span family: normalized rolling
  // n-word windows per doc, exact distinct-doc counting — the reference
  // both SpanDedup paths (raw and verbatim-collapsed) must reproduce
  private def naiveWindows(text: String, n: Int): Seq[String] = {
    val w = text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      .split(" ").filter(_.nonEmpty).toSeq
    if (w.length < n) Nil else w.sliding(n).map(_.mkString(" ")).toSeq
  }

  private def naiveSpan(corpus: Seq[(Long, String)], n: Int)
      : Map[Long, (Long, Long, Double)] = {
    val wins = corpus.map { case (d, t) => d -> naiveWindows(t, n) }.toMap
    val docsOf = wins.toSeq.flatMap { case (d, ws) => ws.distinct.map(_ -> d) }
      .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).distinct.size }
    corpus.map { case (d, _) =>
      val ws = wins(d)
      val dup = ws.count(w => docsOf(w) >= 2)
      d -> ((ws.size.toLong, dup.toLong,
        if (ws.nonEmpty) dup.toDouble / ws.size else 0.0))
    }.toMap
  }

  private def naiveNovelty(corpus: Seq[(Long, String)], n: Int)
      : Map[Long, (Long, Long, Double)] = {
    val wins = corpus.map { case (d, t) => d -> naiveWindows(t, n) }.toMap
    val firstOf = wins.toSeq.flatMap { case (d, ws) => ws.distinct.map(_ -> d) }
      .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).min }
    corpus.map { case (d, _) =>
      val ws = wins(d)
      val nov = ws.count(w => firstOf(w) == d)
      d -> ((ws.size.toLong, nov.toLong,
        if (ws.nonEmpty) nov.toDouble / ws.size else 1.0))
    }.toMap
  }

  // the corpus that exercises every collapsed-path case at once:
  // verbatim groups (1,2) and (5,6), a singleton sharing a span with a
  // group (3), an isolated singleton (4), an in-doc-repeated window that
  // must NOT count as duplicated (7: nd = 1), and a short doc inside a
  // verbatim group (8,9: n_windows = 0, novelty 1.0 for both)
  private val spanCorpus = Seq(
    1L -> "a b c d e f g h i j",
    2L -> "a b c d e f g h i j",
    3L -> "x y z a b c d e w v",
    4L -> "p q r s t u v w unique text here",
    5L -> "m n o a b c d q r s",
    6L -> "m n o a b c d q r s",
    7L -> "k1 k2 k3 k4 pad k1 k2 k3 k4",
    8L -> "tiny one",
    9L -> "tiny one")

  test("spanStats collapsed path (verbatim groups) equals the naive " +
      "truth; raw path agrees on the dup-free projection") {
    import spark.implicits._
    val n = 4
    val got = graft.operators.SpanDedup
      .spanStats(spanCorpus.toDF("doc_id", "text"), $"doc_id", $"text", n)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === naiveSpan(spanCorpus, n))
    // dup-free sub-corpus (one member per verbatim group): the adaptive
    // probe dispatches the RAW path, which must match the same truth
    val free = spanCorpus.filterNot(p => Set(2L, 6L, 9L)(p._1))
    val gotFree = graft.operators.SpanDedup
      .spanStats(free.toDF("doc_id", "text"), $"doc_id", $"text", n)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(gotFree === naiveSpan(free, n))
  }

  // naive census truth: every window instance (in-doc repeats included),
  // distinct-doc + instance counts per span, threshold + total-order cut
  private def naiveCensus(corpus: Seq[(Long, String)], n: Int,
      minDocs: Int, k: Int): Seq[(String, Long, Long)] = {
    val inst = corpus.flatMap { case (d, t) =>
      naiveWindows(t, n).map(w => (w, d)) }
    inst.groupBy(_._1).toSeq.map { case (w, xs) =>
      (w, xs.map(_._2).distinct.size.toLong, xs.size.toLong) }
      .filter(_._2 >= minDocs)
      .sortBy { case (w, nd, ni) => (-nd, -ni, w) }
      .take(k)
  }

  test("spanCensus equals the naive span truth, ordered, on both the " +
      "collapsed and dup-free paths; the k cut is deterministic") {
    import spark.implicits._
    val n = 4
    def run(c: Seq[(Long, String)], k: Int) = graft.operators.SpanDedup
      .spanCensus(c.toDF("doc_id", "text"), $"doc_id", $"text", n,
        minDocs = 2, k = k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // collapsed path (verbatim groups present): weights must recover
    // per-doc counts; doc 7's in-doc-repeated window (nd=1) must be cut
    assert(run(spanCorpus, 100) === naiveCensus(spanCorpus, n, 2, 100))
    // dup-free projection dispatches the raw path — same truth
    val free = spanCorpus.filterNot(p => Set(2L, 6L, 9L)(p._1))
    assert(run(free, 100) === naiveCensus(free, n, 2, 100))
    // the top-k cut is a prefix of the same total order
    assert(run(spanCorpus, 3) === naiveCensus(spanCorpus, n, 2, 3))
  }

  test("sourceOverlap matrix equals the naive per-source set truth; " +
      "in-source duplicates don't inflate, disjoint sources don't appear") {
    import spark.implicits._
    val n = 4
    val shared = "alpha beta gamma delta epsilon"
    // ONE literal feeds both the DataFrame under test and the naive
    // truth — divergent copies would silently test the wrong corpus
    val rows = Seq(
      (1L, "web", s"one two three $shared four five six"),
      (2L, "web", s"one two three $shared four five six"), // verbatim dup
      (3L, "books", s"$shared totally different ending here now"),
      (4L, "books", "independent books text with enough words to window"),
      (5L, "code", "def main prints hello world and returns zero status"))
    def run(c: Seq[(Long, String, String)]) = graft.operators.SpanDedup
      .sourceOverlap(c.toDF("doc_id", "source", "text"),
        $"source", $"text", n)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    // naive: per-source distinct window sets, ordered pairs with overlap
    def naive(c: Seq[(Long, String, String)]) = {
      val sets = c.groupBy(_._2).map { case (s2, xs) =>
        s2 -> xs.flatMap(x => naiveWindows(x._3, n)).toSet }
      sets.keys.toSeq.sorted.combinations(2).toSeq.collect {
        case Seq(a, b) if (sets(a) & sets(b)).nonEmpty =>
          val sh = (sets(a) & sets(b)).size.toLong
          (a, b, sets(a).size.toLong, sets(b).size.toLong, sh,
            sh.toDouble / math.min(sets(a).size, sets(b).size))
      }
    }
    // rows 1-2 are a verbatim (src, text) group, so this corpus takes
    // the r18 collapse branch (one representative per group windows)
    val got = run(rows)
    assert(got === naive(rows))
    // the verbatim in-source dup adds no spans; code shares nothing
    assert(got.map(p => (p._1, p._2)) === Seq(("books", "web")))
    // dropping the dup makes the corpus (src, text)-distinct, so the
    // dispatch takes the raw branch — same truth (the spanCensus
    // both-paths pattern)
    val free = rows.filterNot(_._1 == 2L)
    assert(run(free) === naive(free))
  }

  test("noveltyStats collapsed path equals the naive first-occurrence " +
      "truth on both corpora") {
    import spark.implicits._
    val n = 4
    val got = graft.operators.SpanDedup
      .noveltyStats(spanCorpus.toDF("doc_id", "text"), $"doc_id", $"text", n)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === naiveNovelty(spanCorpus, n))
    val free = spanCorpus.filterNot(p => Set(2L, 6L, 9L)(p._1))
    val gotFree = graft.operators.SpanDedup
      .noveltyStats(free.toDF("doc_id", "text"), $"doc_id", $"text", n)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(gotFree === naiveNovelty(free, n))
  }

  test("operator caches are released: cache manager empty after dedup queries") {
    // the r3 verdict's headline leak: operator-internal .cache() pinned
    // shingle/band/affinity tables for the session lifetime. Every cache
    // now goes through Caching.withCached (unpersist in finally), so after
    // any registered dedup/ANN query completes, the session-level cache
    // manager must hold nothing. (localCheckpoint blocks are result-sized
    // and GC-managed — they do not register with the cache manager.)
    Seq("dedup_minhash", "dedup_simhash", "dedup_embedding_lsh", "ann_ivf")
      .foreach { q =>
        SparkEntry.queries(q)(spark, sf)
          .write.format("noop").mode("overwrite").save()
        assert(spark.sharedState.cacheManager.isEmpty,
          s"cache manager not empty after $q")
      }
    // the queries above are dup-free, so no collapse branch builds its
    // members cache there; a 3x verbatim-replicated corpus sends every
    // operator below down its collapse branch (asserted via the probe)
    def replicate(df: DataFrame, id: String): DataFrame = {
      val stride = df.agg(max(col(id))).head().getLong(0) + 1
      (0 until 3).map(k => df.withColumn(id, col(id) + k * stride))
        .reduce(_ unionByName _)
    }
    val docs = replicate(Tables.documents(spark, sf), "doc_id")
    val vecs = replicate(Tables.embeddings(spark, sf), "vec_id")
    assert(Dispatch.collapse("docs_x3", docs, Seq($"text"), Dispatch.margin))
    assert(Dispatch.collapse("vectors_x3", vecs, Seq($"embedding"),
      Dispatch.margin))
    Seq[(String, () => DataFrame)](
      "minhashEdges" -> (() =>
        Dedup.minhashEdges(docs, $"doc_id", $"text", 0.5)),
      "cosinePairs" -> (() =>
        Similarity.cosinePairs(vecs, $"vec_id", $"embedding", 0.46)),
      "lshCosineEdges" -> (() =>
        Similarity.lshCosineEdges(vecs, $"vec_id", $"embedding", 0.46)),
      "spanStats" -> (() => SpanDedup.spanStats(docs, $"doc_id", $"text", 8))
    ).foreach { case (name, op) =>
      op().write.format("noop").mode("overwrite").save()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"cache manager not empty after $name on the 3x corpus")
    }
  }

  test("dispatch decision: empty and dup-free inputs stay raw, duplication " +
      "at the margin collapses") {
    Seq(Dispatch.margin, Queries.lmScoreMargin).foreach { m =>
      assert(!Dispatch.worthIt(0L, 0L, m), s"margin $m")
      assert(!Dispatch.worthIt(1000L, 1000L, m), s"margin $m")
      val d = 400L
      val atMargin = math.ceil(m * d).toLong
      assert(Dispatch.worthIt(atMargin, d, m), s"margin $m")
      assert(!Dispatch.worthIt(atMargin - 1, d, m), s"margin $m")
      assert(Dispatch.worthIt(3 * d, d, m), s"margin $m")
    }
    assert(Dispatch.margin === 1.1)
    assert(Queries.lmScoreMargin === 2.0)
  }

  test("clusters: both strategy paths close transitive chains identically") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    // chain 1-2-3-4 (diameter 3) + isolated 5 and 9
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 9L -> 9L)
    // driver union-find fast path (default: edge set under the cap)
    val fast = Dedup.clusters(ids, pairs).orderBy($"id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === want)
    // distributed min-label propagation (force with a zero edge cap)
    val dist = Dedup.clusters(ids, pairs, driverEdgeLimit = 0L)
      .orderBy($"id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === want)
  }

  test("clusters: distributed pointer-doubling closes a 40-node chain " +
    "within the default round budget") {
    // r19: plain min-label propagation moves the min one hop per round,
    // so a diameter-39 chain under the default maxIter=10 would stop
    // UNCONVERGED with wrong far-end roots; the pointer-doubling
    // shortcut (root' = root(root)) covers 2^k hops after k rounds and
    // must close the whole chain to the global min
    val n = 40L
    val ids = (1L to n).toSeq.toDF("id")
    val pairs = (1L until n).map(i => (i, i + 1L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(ids, pairs, driverEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to n).map(_ -> 1L).toMap)
    // a budget too small to close the chain is an error, never roots
    // that are not yet the component minimum
    val e = intercept[IllegalStateException](
      Dedup.clusters(ids, pairs, maxIter = 2, driverEdgeLimit = 0L))
    Seq("maxIter=2", "SPARK_GRAFT_CLUSTERS_SHORTCUT_FROM",
      "SPARK_GRAFT_CLUSTERS_NO_SHORTCUT")
      .foreach(k => assert(e.getMessage.contains(k), e.getMessage))
  }

  test("clusters: Long.MinValue id works on both strategy paths") {
    // Long.MinValue doubles as the driver table's empty sentinel — the r5
    // advice case: it must behave like any other id (and, being the global
    // minimum, become its component's root), not throw
    val mn = Long.MinValue
    val ids = Seq(mn, 7L, 8L, 42L).toDF("id")
    val pairs = Seq((mn, 8L), (8L, 7L)).toDF("id_a", "id_b")
    val want = Map(mn -> mn, 7L -> mn, 8L -> mn, 42L -> 42L)
    Seq(1L << 21, 0L).foreach { cap =>
      val got = Dedup.clusters(ids, pairs, driverEdgeLimit = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"driverEdgeLimit=$cap")
    }
  }

  test("bounded levenshtein kernel: known values, budget sentinel, unicode bytes") {
    import graft.functions.LevenshteinFunctions.boundedLevenshtein
    val cases = Seq(
      ("kitten", "sitting", 3, 3L), ("abc", "abc", 5, 0L),
      ("", "ab", 5, 2L), ("abc", "abd", 0, -1L), // over budget -> -1
      ("abcdefgh", "xbcdefgi", 1, -1L),
      // byte-level UTF-8 semantics (the oracle engine's): 'ä' is 2 bytes
      ("a", "ä", 5, 2L), ("你好", "你坏", 5, 2L))
    cases.foreach { case (a, b, d, want) =>
      val got = Seq((a, b)).toDF("a", "b")
        .select(boundedLevenshtein($"a", $"b", d).cast("long")).head().getLong(0)
      assert(got === want, s"lev($a, $b, $d)")
    }
    // on pure-ASCII text the kernel agrees with Spark's codepoint builtin
    val docs = Tables.documents(spark, sf).where($"lang" === "en")
      .limit(40).select($"doc_id", $"text")
    val pairs = docs.select($"doc_id".as("ia"), $"text".as("ta"))
      .crossJoin(docs.select($"doc_id".as("ib"), $"text".as("tb")))
      .where($"ia" < $"ib")
    val diff = pairs.select(
        boundedLevenshtein($"ta", $"tb", 100).cast("long").as("k"),
        levenshtein($"ta", $"tb", 100).cast("long").as("s"))
      .where($"k" =!= $"s").count()
    assert(diff === 0)
  }

  test("levenshtein length banding equals the naive blocked all-pairs truth") {
    val docs = Tables.documents(spark, sf)
    val banded = Dedup.levenshteinPairs(docs, $"doc_id", $"text",
        block = $"lang", maxDist = 60)
      .select($"id_a", $"id_b", $"dist")
      .orderBy($"id_a", $"id_b").collect().toSeq
    // naive truth: per-lang all-pairs with the same bounded-DP verify, no
    // banding and no collapse machinery
    val d = docs.select($"doc_id", $"lang", $"text")
    val naive = d.select($"doc_id".as("id_a"), $"lang", $"text".as("t_a"))
      .join(d.select($"doc_id".as("id_b"), $"lang", $"text".as("t_b")), "lang")
      .where($"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        graft.functions.LevenshteinFunctions
          .boundedLevenshtein($"t_a", $"t_b", 60).cast("long").as("dist"))
      .where($"dist" >= 0)
      .orderBy($"id_a", $"id_b").collect().toSeq
    assert(banded.nonEmpty)
    assert(banded === naive)
  }

  test("simhash recall budget: every true J>=0.5 pair sits within hamming 15") {
    // the dedup_simhash oracle equates LSH output with the exact-Jaccard
    // truth; that equation is DATA-dependent — it holds iff every true
    // pair's fingerprints differ by <= 15 bits (the structural multiprobe
    // budget). This assertion measures the corpus so an oracle mismatch
    // on future data diagnoses as a recall-budget breach, not a query bug.
    val docs = Tables.documents(spark, sf)
    val truth = Dedup.jaccardPairs(docs, $"doc_id", $"text",
        block = lit(1), threshold = 0.5)
      .select($"id_a", $"id_b")
    val sh = Dedup.simhashTable(docs, $"doc_id", $"text")
    val maxHam = truth
      .join(sh.select($"id".as("id_a"), $"sh64".as("h_a")), "id_a")
      .join(sh.select($"id".as("id_b"), $"sh64".as("h_b")), "id_b")
      .select(bit_count($"h_a".bitwiseXOR($"h_b")).as("ham"))
      .agg(max($"ham")).head().getInt(0)
    assert(maxHam <= 15, s"true-pair hamming $maxHam exceeds the multiprobe budget")
  }

  test("simhash: duplicate docs collide, near-dups within small hamming") {
    val docs = Seq((1L, "the quick brown fox jumps over a lazy dog tonight"),
      (2L, "the quick brown fox jumps over a lazy dog tonight"),
      (3L, "completely different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, $"doc_id", $"text", maxDist = 3)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(pairs.head.getAs[Long]("hamming") === 0L)
  }
}
