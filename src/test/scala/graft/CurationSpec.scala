package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{Chunking, Compaction, Dedup, Sampling, TextAnalysis, TrainExport}

/** Corpus-curation operators: incremental dedup, changelog compaction,
  * deterministic sampling, token-window chunking.
  */
class CurationSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("incremental dedup keeps only content absent from the corpus") {
    val corpus = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "text")
    val incoming = Seq((10L, "bb"), (11L, "cc"), (12L, "cc"), (13L, "dd"))
      .toDF("doc_id", "text")
    val out = Dedup.incremental(incoming, corpus, $"doc_id", $"text")
      .orderBy($"keep_id").collect()
    // "bb" already in corpus; "cc" batch-dup keeps 11; "dd" new
    assert(out.map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("dup_count")))
      .toSeq === Seq((11L, 2L), (13L, 1L)))
  }

  test("bloom-pruned incremental dedup equals the plain anti-join") {
    import graft.operators.BloomPrune
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val corpus = docs.where(pmod($"doc_id", lit(2)) === 0)
    val incoming = docs.where(pmod($"doc_id", lit(2)) === 1)
    val plain = Dedup.incremental(incoming, corpus, $"doc_id", $"text")
      .orderBy($"fp").collect().toSeq
    val pruned = BloomPrune.incrementalPruned(incoming, corpus,
        $"doc_id", $"text", expectedCorpus = Some(10000L))
      .orderBy($"fp").collect().toSeq
    assert(pruned === plain)
    // no false negatives: every corpus fp passes its own filter
    val fps = corpus.select(md5($"text").as("fp"))
    val bf = BloomPrune.buildFilter(fps, $"fp", 10000L)
    assert(fps.where(!BloomPrune.mightContain(bf, $"fp")).count() === 0L)
    // empty corpus (null sketch): nothing may be dropped — first-batch case
    val emptyCorpus = corpus.limit(0)
    val firstBatch = BloomPrune.incrementalPruned(incoming, emptyCorpus,
      $"doc_id", $"text")
    val plainFirst = Dedup.incremental(incoming, emptyCorpus,
      $"doc_id", $"text")
    assert(firstBatch.orderBy($"fp").collect().toSeq ===
      plainFirst.orderBy($"fp").collect().toSeq)
    assert(firstBatch.count() > 0)
  }

  test("bloom sizing derives from the corpus and falls back when oversized") {
    import graft.operators.BloomPrune
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val corpus = docs.where(pmod($"doc_id", lit(2)) === 0)
    val incoming = docs.where(pmod($"doc_id", lit(2)) === 1)
    val plain = Dedup.incremental(incoming, corpus, $"doc_id", $"text")
      .orderBy($"fp").collect().toSeq
    // auto-sized: corpus.count() upper-bounds distinct fingerprints
    val auto = BloomPrune.incrementalPruned(incoming, corpus,
      $"doc_id", $"text")
    assert(auto.queryExecution.analyzed.toString.contains("might_contain"))
    assert(auto.orderBy($"fp").collect().toSeq === plain)
    // a sketch that would exceed the driver budget (10B keys into 1 MB)
    // must take the plain anti-join fallback: identical rows, no probe
    val fb = BloomPrune.incrementalPruned(incoming, corpus,
      $"doc_id", $"text", expectedCorpus = Some(10000000000L),
      maxSketchBytes = 1L << 20)
    assert(!fb.queryExecution.analyzed.toString.contains("might_contain"))
    assert(fb.orderBy($"fp").collect().toSeq === plain)
  }

  test("latestByKey equals the window row_number formulation") {
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts").as("t_us"), $"event_id", $"value")
    val viaAgg = Compaction.latestByKey(ev, $"user_id",
        struct($"t_us", $"event_id"),
        Seq("last_event_id" -> $"event_id", "last_value" -> $"value"))
      .withColumnRenamed("key", "user_id")
      .orderBy($"user_id").collect().toSeq
    val w = Window.partitionBy($"user_id").orderBy($"t_us".desc, $"event_id".desc)
    val viaWindow = ev.withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .select($"user_id", $"event_id".as("last_event_id"),
        $"value".as("last_value"))
      .orderBy($"user_id").collect().toSeq
    assert(viaAgg === viaWindow)
  }

  test("hash sampling is deterministic and stratum-ratio shaped") {
    val docs = Tables.documents(spark, sf)
    val s1 = Sampling.stratifiedHashSample(docs, $"text", $"lang",
      Seq("en" -> 8), default = 4).select($"doc_id").collect().toSeq
    val s2 = Sampling.stratifiedHashSample(docs, $"text", $"lang",
      Seq("en" -> 8), default = 4).select($"doc_id").collect().toSeq
    assert(s1 === s2)
    // a 16/16 cutoff keeps everything; 0 keeps nothing
    assert(Sampling.hashSample(docs, $"text", lit(16)).count() === docs.count())
    assert(Sampling.hashSample(docs, $"text", lit(0)).count() === 0L)
  }

  test("packByBudget equals the global-window formulation, any partitioning") {
    val docs = Tables.documents(spark, sf)
    val chunks = Chunking.byWords(docs, $"doc_id", $"text", chunkWords = 50)
    def run(df: org.apache.spark.sql.DataFrame) =
      Chunking.packByBudget(df, Seq("id", "chunk_idx"), $"n_words", 512L)
        .select($"id", $"chunk_idx", $"pack_id")
        .orderBy($"id", $"chunk_idx").collect().toSeq
    val base = run(chunks)
    // partition-boundary independence: 1 and 7 partitions give identical packs
    assert(run(chunks.repartition(7)) === base)
    assert(run(chunks.coalesce(1)) === base)
    // single global window spec
    val w = Window.orderBy($"id", $"chunk_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    val spec = chunks.withColumn("pack_id",
        call_function("div", coalesce(sum($"n_words").over(w), lit(0L)), lit(512L)))
      .select($"id", $"chunk_idx", $"pack_id")
      .orderBy($"id", $"chunk_idx").collect().toSeq
    assert(base === spec)
    // packs are contiguous starting at 0
    val packIds = base.map(_.getLong(2)).distinct
    assert(packIds === (packIds.min to packIds.max))
    assert(packIds.head === 0L)
  }

  test("shuffleShard: seeded permutation, exact shard balance, any " +
      "partitioning") {
    val docs = Tables.documents(spark, sf).select($"doc_id")
    def run(df: org.apache.spark.sql.DataFrame) =
      TrainExport.shuffleShard(df, "doc_id", seed = 23L, nShards = 16)
        .select($"doc_id", $"shuffle_pos", $"shard")
        .orderBy($"doc_id").collect().toSeq
    val base = run(docs)
    val n = base.length
    // shuffle_pos is a permutation of 0..n-1
    assert(base.map(_.getLong(1)).sorted === (0L until n.toLong))
    // round-robin shards: sizes differ by at most 1, all 16 present
    val sizes = base.groupBy(_.getLong(2)).view.mapValues(_.size).toMap
    assert(sizes.keySet === (0L until 16L).toSet)
    assert(sizes.values.max - sizes.values.min <= 1)
    // shard is determined by position (round-robin), so a shard's members
    // are spread across the whole shuffled order, not clustered
    base.foreach(r => assert(r.getLong(2) === r.getLong(1) % 16))
    // partition-boundary independence + determinism across reruns
    assert(run(docs.repartition(7)) === base)
    assert(run(docs.coalesce(1)) === base)
    // the order really is shuffled: the identity order would be a
    // astronomically-unlikely fixed point of the seeded hash
    assert(base.map(_.getLong(1)) !== (0L until n.toLong))
    // an input column the operator would overwrite is rejected by name
    val e = intercept[IllegalArgumentException] {
      TrainExport.shuffleShard(docs.withColumn("_pid", lit(1)), "doc_id",
        seed = 23L, nShards = 16)
    }
    assert(e.getMessage.contains("_pid"), e.getMessage)
  }

  test("temperatureMixture: integer apportionment sums to N, flattens " +
      "the source skew, caps at source size") {
    val docs = Tables.documents(spark, sf)
    val out = Sampling.temperatureMixture(docs, "source", "doc_id",
      md5($"text"), totalN = 300L)
    val base = out.orderBy($"doc_id").collect().toSeq
    assert(base.length === 300) // quotas sum exactly to N (no source exhausted)
    // determinism across partitionings
    val re = Sampling.temperatureMixture(docs.repartition(7), "source",
      "doc_id", md5($"text"), totalN = 300L).orderBy($"doc_id").collect().toSeq
    assert(re === base)
    // temperature flattening: a 9x bigger source gets ~3x (sqrt) the
    // quota, not 9x — and a tiny source is upsample-capped at its size
    val skewed = ((1 to 900).map(i => (i.toLong, s"t$i", "big")) ++
      (1 to 100).map(i => (1000L + i, s"u$i", "mid")) ++
      Seq((2001L, "v", "tiny"))).toDF("doc_id", "text", "source")
    val got = Sampling.temperatureMixture(skewed, "source", "doc_id",
        md5($"text"), totalN = 40L)
      .groupBy($"source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // weights: isqrt(900)=30, isqrt(100)=10, isqrt(1)=1 → 40*(30/41)≈29,
    // 40*(10/41)≈9, 40*(1/41)≈0 with largest-remainder topping up
    assert(got("big").toDouble / got("mid") < 4.0) // ~3x, NOT 9x
    assert(got("big") + got("mid") + got.getOrElse("tiny", 0L) === 40L)
    assert(got.getOrElse("tiny", 0L) <= 1L) // can never exceed its size
  }

  test("blockSlice: blocks tile the token stream exactly, docs tile " +
      "their own token ranges, any partitioning") {
    val docs = Tables.documents(spark, sf).select($"doc_id",
      graft.functions.BpeFunctions.bpeTokenCount($"text").as("n_tok"))
    def run(df: org.apache.spark.sql.DataFrame) =
      Chunking.blockSlice(df, "doc_id", $"n_tok", blockTokens = 512L)
        .orderBy($"block_id", $"doc_id").collect().toSeq
    val base = run(docs)
    val total = docs.where($"n_tok" > 0).agg(sum($"n_tok")).head().getLong(0)
    // every block holds exactly 512 tokens except the last partial one
    val perBlock = base.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(3)).sum).toMap
    val lastBlock = perBlock.keys.max
    assert(perBlock.keySet === (0L to lastBlock).toSet)
    perBlock.foreach { case (b, n) =>
      if (b < lastBlock) assert(n === 512L, s"block $b")
      else assert(n === total - 512L * lastBlock)
    }
    // each doc's slices tile [0, n_tok) contiguously in block order
    val byDoc = base.groupBy(_.getLong(1))
    val nTok = docs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byDoc.foreach { case (d, rows) =>
      val sorted = rows.sortBy(_.getLong(0))
      val starts = sorted.map(_.getLong(2))
      val lens = sorted.map(_.getLong(3))
      assert(starts.head === 0L)
      assert(starts.zip(lens).map { case (s0, l) => s0 + l }.dropRight(1)
        === starts.tail, s"doc $d slices not contiguous")
      assert(starts.last + lens.last === nTok(d), s"doc $d not fully tiled")
    }
    // zero-token docs contribute nothing; partitioning never matters
    assert(byDoc.keySet === nTok.filter(_._2 > 0).keySet)
    assert(run(docs.repartition(7)) === base)
    assert(run(docs.coalesce(1)) === base)
  }

  test("chunking covers the document exactly, in order, with no shuffle") {
    val docs = Seq((1L, ("w " * 120).trim), (2L, "a b c"), (3L, ""))
      .toDF("doc_id", "text")
    val out = Chunking.byWords(docs, $"doc_id", $"text", chunkWords = 50)
    val rows = out.orderBy($"id", $"chunk_idx").collect()
    // 120 words -> 3 chunks (50/50/20); 3 words -> 1; empty -> 1
    assert(rows.map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_words")))
      .toSeq === Seq((1L, 50L), (1L, 50L), (1L, 20L), (2L, 3L), (3L, 1L)))
    // chunks reassemble to the normalized text
    val reassembled = out.groupBy($"id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"chunk_idx", $"chunk_text"))),
        s => s.getField("chunk_text")), " ").as("t"))
      .orderBy($"id").collect().map(_.getString(1)).toSeq
    val expected = docs.orderBy($"doc_id")
      .select(TextAnalysis.normalize($"text")).collect().map(_.getString(0)).toSeq
    assert(reassembled === expected)
    // narrow plan: no exchange anywhere
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }
}
