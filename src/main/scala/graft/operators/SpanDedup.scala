package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-document duplicated-SPAN detection — the word-window
  * approximation of exact-substring training-data dedup (the
  * suffix-array ExactSubstr pass): rolling `n`-word windows at EVERY word
  * offset (stride 1 — contrast the aligned stride-10 segmentation of
  * line-level dedup), hashed to 16 bytes; a window is duplicated when it
  * occurs in ≥ 2 distinct documents.
  *
  * Recall is structural: any shared span of ≥ n words contains a shared
  * n-window at every offset inside it, so span-level duplication is never
  * missed, only quantized to window granularity.
  *
  * Scale shape (single-pass since r18): the window explode is narrow
  * (≈ words-per-doc rows, each a 16-byte hash + ids — the text itself
  * never rides the shuffle) and is shuffled ONCE on the hash key; on the
  * reduce side a (hash, doc) aggregate collapses instances, a window
  * aggregate over the same h-partitioning counts distinct docs (or takes
  * the min doc) per hash with zero further exchange, and one slim
  * groupBy(doc) folds the verdicts — every stage linear in corpus size,
  * nothing quadratic, no driver state, and exactly ONE window-build map
  * stage by construction. (The pre-r18 shape fed the frame to two
  * consumers — count_distinct + join back — and relied on ReuseExchange
  * to fold their twin exchanges; it never did, because the outer
  * n_windows join infers isnotnull(doc_id) into only the probe-side
  * copy, breaking canonical equality. See graft.ReuseProbe.)
  *
  * Verbatim-dup collapse (r16): web-scale corpora are dominated by
  * verbatim copies, and stride-1 windows multiply that redundancy by
  * words-per-doc — a corpus with duplication factor g explodes g× the
  * windows it has distinct text for (the 300× decade dir: 450M window
  * instances over 1.5M distinct-text windows). Both entry points
  * therefore group documents by a 128-bit content key first (the
  * [[graft.operators.Dedup]] `overTextGroups` discipline, adapted from
  * pair expansion to per-doc stats) and run the window machinery over
  * DISTINCT texts only; per-doc results are recovered exactly from
  * group size / group min-id (see the equivalence arguments on each
  * method). A duplication-free corpus skips the collapse entirely — the
  * [[Dispatch]] probe on a slim (doc_id, 128-bit key) frame decides, the
  * AQE-style runtime-statistic dispatch used across the dedup family.
  *
  * The window key is TWO xxhash64 halves — h1 = xxhash64(ws) and h2 =
  * xxhash64(1L, ws), where the constant FIRST child perturbs the fold
  * seed BEFORE the string is hashed, so the halves are effectively
  * independent 64-bit hashes of ws (the reverse order xxhash64(ws, 1L)
  * would make h2 a deterministic function of h1 — Spark folds children
  * sequentially with the running hash as the next seed — collapsing the
  * pair to 64-bit resistance, expected collisions ~5e-3 at 450M
  * windows). The independent pair gives genuine 128-bit behavior
  * (collision P ≈ 5e-21 at 450M windows — the md5 contract) rather than
  * the md5 HEX STRING an earlier form shuffled: the string key was
  * 40+ B/row through both hash exchanges and their sorts, ~2.5× the
  * bytes of the integer pair, and key hashing and equality were
  * byte-loops instead of long compares (r15; the output columns carry
  * no hash, so the DuckDB md5 oracle replays unchanged).
  */
object SpanDedup {

  /** 128-bit window key from the materialized window string (two
    * effectively independent xxhash64 halves — see the object doc).
    */
  private def winKey(ws: Column): Column =
    struct(xxhash64(ws).as("h1"), xxhash64(lit(1L), ws).as("h2"))

  /** A/B escape hatch for scale probes: the pinned decade dirs are
    * amplified by verbatim replication, so the collapsed path measures
    * the (tiny) distinct-text corpus there — setting
    * SPARK_GRAFT_SPAN_NO_COLLAPSE=1 forces the raw full-window-shuffle
    * path so BASELINE keeps an honest number for the unique-window
    * worst case. Results are identical either way (the equivalence
    * arguments below); production always dispatches on the measured
    * counts.
    */
  private def collapseDisabled: Boolean =
    sys.env.get("SPARK_GRAFT_SPAN_NO_COLLAPSE").exists(_.trim == "1")

  /** (key, h) window-instance frame: one row per rolling `n`-word window
    * of `words`, keyed by whatever identity column the caller groups on
    * (doc_id on the raw path, the content-group key on the collapsed
    * path). The window string materializes ONCE per instance (map-side
    * only, dropped before any shuffle) and both hash halves read it —
    * hashing inside the transform lambda would re-evaluate the
    * array_join per half (measured 1.3× on the whole query).
    *
    * The output is REPARTITIONED on `h` so the whole reduce side — the
    * (h, key) instance-count aggregate AND the per-hash window aggregate
    * above it — satisfies its distribution from this one exchange and
    * plans zero further shuffles (ClusteredDistribution(h, key) and
    * ClusteredDistribution(h) are both satisfied by HashPartitioning(h)).
    * Without it the planner would exchange on (h, key) for the
    * aggregate and then AGAIN on (h) for the window. The repartition
    * also keeps count/min aggregation off the map side: stride-1
    * windows of distinct docs barely repeat within a scan task, so a
    * pre-shuffle partial aggregate rebuilds a corpus-sized per-task
    * hash map to shrink the shuffle ~0.6% (the r17 forensics find).
    */
  private def windows(df: DataFrame, key: Seq[String], words: Column,
      nWords: Column, n: Int, keepText: Boolean = false): DataFrame = {
    val exploded = df.where(nWords >= n)
      .select(key.map(col) :+
        explode(transform(sequence(lit(0), (nWords - n).cast("int")),
          i => array_join(slice(words, i + 1, lit(n)), " "))).as("ws"): _*)
    // keepText threads the window STRING through the exchange for the
    // consumers that must output it (the census family) — one shared
    // build expression, so a fix to the slice arithmetic or the
    // repartition discipline can never reach one caller and miss another
    val out = key.map(col) ++ (if (keepText) Seq(col("ws")) else Nil) :+
      winKey(col("ws")).as("h")
    exploded.select(out: _*).repartition(col("h"))
  }

  /** (doc_id, gk, nt) with a 128-bit integer content key over the
    * NORMALIZED text (windows are a function of the normalized text, so
    * normalization-equal docs are interchangeable for span purposes —
    * a strictly coarser, therefore strictly more collapsing, key than
    * the raw-text fingerprint). Constant-first second half, as winKey.
    */
  private def keyed(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), TextAnalysis.normalize(text).as("nt"))
      .select(col("doc_id"), col("nt"),
        struct(xxhash64(col("nt")).as("g1"),
          xxhash64(lit(2L), col("nt")).as("g2")).as("gk"))

  /** One row per distinct text: (gk, gsize, min_doc, w, nwl). The full
    * text rides exactly one shuffle (min-combined map-side; members of a
    * group carry identical nt by the 128-bit key contract, so min picks
    * THE text), after which everything downstream is distinct-text-sized.
    */
  private def repGroups(k: DataFrame): DataFrame =
    k.groupBy(col("gk"))
      .agg(count(lit(1)).as("gsize"), min(col("doc_id")).as("min_doc"),
        min(col("nt")).as("nt"))
      .select(col("gk"), col("gsize"), col("min_doc"),
        split(col("nt"), " ").as("w"))
      .withColumn("nwl", size(col("w")).cast("long"))

  /** Per-document duplicated-span statistics: `n_windows` (rolling
    * `n`-word windows in the normalized text), `n_dup` (how many of them
    * also occur in another document), `dup_frac` (int/int double; 0.0
    * for docs shorter than `n` words).
    *
    * Collapsed-path equivalence (exact, not approximate): for a doc d in
    * content group g,
    *   - n_windows(d) depends only on g's text;
    *   - gsize(g) ≥ 2 ⟹ every window instance of d also occurs in the
    *     other verbatim copy — a distinct doc — so n_dup = n_windows;
    *   - gsize(g) = 1 ⟹ an instance with hash h is duplicated iff h
    *     occurs in some OTHER document ⟺ h occurs in some other
    *     DISTINCT TEXT (another group: a different text is necessarily a
    *     different doc, and h occurring only within d's own text leaves
    *     the distinct-doc count at 1 however many times it repeats
    *     in-text). So the shared set for singleton groups is exactly
    *     {h : #distinct groups containing h ≥ 2}, computed over
    *     distinct-text windows only.
    */
  def spanStats(docs: DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    require(n >= 2, s"window must be >= 2 words, got $n")
    val k = keyed(docs, id, text)
    if (collapseDisabled) return rawSpanStats(k, n)
    val members = k.select(col("doc_id"), col("gk")).cache()
    try {
      // adaptive: a corpus with no verbatim dups needs no collapse — the
      // Dispatch probe over the slim cached key frame decides (xxhash64
      // folds the 128-bit key struct to the sketch input), and the
      // dup-free path skips the group machinery entirely
      if (!Dispatch.collapse("span_stats", members, Seq(col("gk")),
          Dispatch.margin)) return rawSpanStats(k, n)
      val reps = repGroups(k)
      val winsG = windows(reps, Seq("gk"), col("w"), col("nwl"), n)
      // same single-pass window shape as rawSpanStats (one consumer, one
      // window-build exchange by construction — see the note there)
      val dupG = winsG.groupBy(col("h"), col("gk"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("ngr", count(lit(1)).over(Window.partitionBy(col("h"))))
        .where(col("ngr") >= 2)
        .groupBy(col("gk")).agg(sum(col("cnt")).as("n_dup_g"))
      val gstats = reps
        .select(col("gk"), col("gsize"),
          greatest(col("nwl") - (n - 1), lit(0L)).as("n_windows"))
        .join(dupG, Seq("gk"), "left")
      val out = members.join(gstats, "gk")
        .select(col("doc_id"), col("n_windows"),
          when(col("gsize") >= 2, col("n_windows"))
            .otherwise(coalesce(col("n_dup_g"), lit(0L))).as("n_dup"))
        .select(col("doc_id"), col("n_windows"), col("n_dup"),
          when(col("n_windows") > 0L,
            col("n_dup").cast("double") / col("n_windows").cast("double"))
            .otherwise(lit(0.0)).as("dup_frac"))
      // eager: the cached members frame must survive until every consumer
      // above has actually run (the overTextGroups checkpoint discipline)
      out.localCheckpoint(true)
    } finally members.unpersist(false)
  }

  /** The pre-collapse shape, retained verbatim as the duplication-free
    * fast path (one window explode over the corpus, one hash groupBy,
    * one co-partitioned join back — linear, no group machinery).
    */
  private def rawSpanStats(k: DataFrame, n: Int): DataFrame = {
    val base = k.select(col("doc_id"), split(col("nt"), " ").as("w"))
      .withColumn("nw", size(col("w")).cast("long"))
    val wins = windows(base, Seq("doc_id"), col("w"), col("nw"), n)
    // single-pass shape (r18): per-(h, doc) instance counts, then the
    // distinct-doc count of each hash as a WINDOW aggregate over the
    // already-h-partitioned frame — n_dup(d) = Σ cnt over d's rows whose
    // hash lands in ≥ 2 docs. Equivalent to the former count_distinct +
    // join-back (each instance row of a shared hash counted once), but
    // the window frame now has exactly ONE consumer, so the window-build
    // map stage and its ~5.2 GB exchange run once BY CONSTRUCTION. The
    // former two-consumer plan could never reuse its twin exchanges: the
    // outer n_windows left join infers isnotnull(doc_id) into the join
    // probe's copy of the build but not the aggregate's (doc_id there
    // only feeds count_distinct, which infers no constraint), so the two
    // subtrees stopped canonicalizing equal and both ReuseExchange and
    // AQE's stage cache missed — measured twice-run ~4,000 s-CPU build
    // stages at the 1000× decade (graft.ReuseProbe; BASELINE r18).
    val dup = wins.groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("h"))))
      .where(col("nd") >= 2)
      .groupBy(col("doc_id")).agg(sum(col("cnt")).as("n_dup"))
    base
      .select(col("doc_id"),
        greatest(col("nw") - (n - 1), lit(0L)).as("n_windows"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col("n_windows") > 0L,
          coalesce(col("n_dup"), lit(0L)).cast("double") /
            col("n_windows").cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Per-document n-gram NOVELTY — the corpus-order mirror of
    * [[spanStats]]: a window instance is novel when its hash FIRST
    * appears (min doc_id over the corpus) in this document, so novelty
    * = fraction of the doc's windows introducing never-before-seen
    * n-grams — the memorization-risk / contribution signal behind
    * "does this source still add new text, or restate the corpus?"
    * (every instance inside the introducing doc counts novel; repeats
    * in LATER docs do not — the L37 first-occurrence discipline on
    * spans instead of tokens). Docs shorter than `n` words report
    * novelty 1.0 (nothing restated). Same linear shape as spanStats:
    * one hash groupBy (min doc), one co-partitioned join back.
    *
    * Collapsed-path equivalence (exact): first_doc(h) = min doc_id over
    * docs containing h = min over groups containing h of that group's
    * min member (every member of a group contains exactly the same
    * window multiset). For doc d in group g:
    *   - d ≠ min_doc(g): some other doc in g holds the same text with a
    *     smaller id, so first_doc(h) < d for every window of d — zero
    *     novel instances;
    *   - d = min_doc(g): an instance with hash h is novel iff
    *     first_doc(h) = min_doc(g), a per-group count over distinct-text
    *     windows.
    */
  def noveltyStats(docs: DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    require(n >= 2, s"window must be >= 2 words, got $n")
    val k = keyed(docs, id, text)
    if (collapseDisabled) return rawNoveltyStats(k, n)
    val members = k.select(col("doc_id"), col("gk")).cache()
    try {
      // same probe as spanStats
      if (!Dispatch.collapse("novelty_stats", members, Seq(col("gk")),
          Dispatch.margin)) return rawNoveltyStats(k, n)
      val reps = repGroups(k)
      val winsG = windows(reps, Seq("gk", "min_doc"), col("w"), col("nwl"), n)
      // single-pass window shape (see rawSpanStats): first_doc(h) as a
      // window min over the h-partitioned frame, instance counts carried
      // through the per-(h, gk) cnt — min_doc is functionally dependent
      // on gk, so grouping by both only threads it through
      val novelG = winsG.groupBy(col("h"), col("gk"), col("min_doc"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("first_doc",
          min(col("min_doc")).over(Window.partitionBy(col("h"))))
        .groupBy(col("gk"))
        .agg(sum(when(col("min_doc") === col("first_doc"), col("cnt"))
          .otherwise(0L)).as("n_novel_g"))
      val gstats = reps
        .select(col("gk"), col("min_doc"),
          greatest(col("nwl") - (n - 1), lit(0L)).as("n_windows"))
        .join(novelG, Seq("gk"), "left")
      val out = members.join(gstats, "gk")
        .select(col("doc_id"), col("n_windows"),
          when(col("doc_id") === col("min_doc"),
            coalesce(col("n_novel_g"), lit(0L))).otherwise(lit(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_windows"), col("n_novel"),
          when(col("n_windows") > 0L,
            col("n_novel").cast("double") / col("n_windows").cast("double"))
            .otherwise(lit(1.0)).as("novelty"))
      out.localCheckpoint(true)
    } finally members.unpersist(false)
  }

  /** Corpus-level duplicated-SPAN census — the actionable consumer of the
    * span family: [[spanStats]] says how much of each DOC is duplicated;
    * this says WHICH spans (boilerplate headers, nav chrome, license
    * blocks, templated disclaimers) carry the duplication, so a curation
    * pass knows what to strip. One row per distinct `n`-word window
    * occurring in ≥ `minDocs` distinct documents: the span text, its
    * distinct-doc count, and its total instance count, heaviest first —
    * `(n_docs DESC, n_instances DESC, span)` is a TOTAL order (the span
    * IS the group identity), so the top-`k` cut is deterministic and the
    * DuckDB oracle reproduces it row for row.
    *
    * Scale shape: same single window-build pass as [[spanStats]] (the
    * r18 one-build discipline), but the census must OUTPUT the span
    * text, so each instance carries its window string through the ONE
    * `h` exchange and `min(ws)` recovers the representative per hash
    * (exact under the 128-bit key contract — all strings in an h-group
    * ARE the span) — re-exploding the corpus in a second recovery pass
    * would double the dominant window-build CPU (746 s/rep at the 1000×
    * decade) to save shuffle bytes on a stage that never spills. Both
    * aggregate levels and the final threshold filter ride the one
    * HashPartitioning(h); the ordered cut plans TakeOrderedAndProject
    * (per-partition top-k, no global sort shuffle).
    *
    * Verbatim-dup collapse (same adaptive dispatch as [[spanStats]]):
    * for doc groups by content key, n_docs(h) = Σ_{g : h ∈ windows(g)}
    * gsize(g) — members of a group are distinct docs carrying identical
    * window multisets — and n_instances(h) = Σ_g gsize(g)·inst_g(h),
    * both exact.
    */
  def spanCensus(docs: DataFrame, id: Column, text: Column, n: Int,
      minDocs: Int, k: Int): DataFrame = {
    require(n >= 2, s"window must be >= 2 words, got $n")
    require(minDocs >= 2, s"census threshold must be >= 2 docs, got $minDocs")
    require(k >= 1, s"census cut must keep >= 1 row, got $k")
    val kk = keyed(docs, id, text)
    val useRaw = collapseDisabled ||
      !Dispatch.collapse("span_census", kk, Seq(col("gk")), Dispatch.margin)
    // (src, weight, w, nwl): one row per doc (raw; weight 1) or per
    // distinct text (collapsed; weight = group size). src is doc_id on
    // the raw path — under SPARK_GRAFT_SPAN_NO_COLLAPSE the corpus may
    // still hold verbatim copies, and keying instances by gk there would
    // merge two docs' instances under one weight-1 row.
    val frame =
      if (useRaw)
        kk.select(col("doc_id").as("src"), lit(1L).as("weight"),
            split(col("nt"), " ").as("w"))
          .withColumn("nwl", size(col("w")).cast("long"))
      else
        repGroups(kk).select(col("gk").as("src"), col("gsize").as("weight"),
          col("w"), col("nwl"))
    val wins = windows(frame, Seq("src", "weight"), col("w"), col("nwl"),
      n, keepText = true)
    wins
      .groupBy(col("h"), col("src"), col("weight"))
      .agg(count(lit(1)).as("inst"), min(col("ws")).as("wsr"))
      .groupBy(col("h"))
      .agg(sum(col("weight")).as("n_docs"),
        sum(col("weight") * col("inst")).as("n_instances"),
        min(col("wsr")).as("span"))
      .where(col("n_docs") >= minDocs)
      .select(col("span"), col("n_docs"), col("n_instances"))
      .orderBy(col("n_docs").desc, col("n_instances").desc, col("span"))
      .limit(k)
  }

  /** Cross-SOURCE span-overlap matrix — corpus provenance forensics:
    * for every source pair (a < b), how many distinct `n`-word spans
    * occur in BOTH (mirrored content, shared boilerplate, one crawl
    * embedded in another), plus each source's distinct-span total and
    * the overlap coefficient shared/min(|a|,|b|) — the
    * dataset-composition report run before mixing subcorpora (the L47
    * table says how much to draw from each source; this says how much
    * of that is the SAME text).
    *
    * Scale shape: one window build (instances keyed by source, doc
    * identity irrelevant — presence is all that matters), one
    * `repartition(h)` exchange; the (h, source) distinct collapse and
    * the per-hash source-set both ride that one partitioning, and the
    * per-source totals fall out of the matrix's own diagonal (see the
    * body note) rather than a second pass. The per-hash set is bounded
    * by |sources| — a DIMENSION, not the corpus — so the pair explode
    * is ≤ |S|² per hash and the matrix at most |S|² rows.
    *
    * Verbatim-dup collapse (r18, same adaptive dispatch as
    * [[spanStats]]): duplicate docs inside one source vanish in the
    * (h, source) distinct anyway — but only AFTER paying the window
    * build for every copy, and mirrored corpora (the operator's use
    * case) are exactly the dup-heavy ones. Every member of a
    * (src, content-key) group contributes the identical window set,
    * so one representative per group yields the identical (h, src)
    * distinct frame — exact, not approximate — and the corpus is
    * collapsed to distinct (source, text) pairs before the explode
    * when the [[Dispatch]] probe finds duplication. Cross-source copies
    * survive by construction (the collapse key includes the source).
    */
  def sourceOverlap(docs: DataFrame, source: Column, text: Column,
      n: Int): DataFrame = {
    require(n >= 2, s"window must be >= 2 words, got $n")
    // the dispatch probes duplication on the RAW (source, text) pair —
    // no normalize pass, so a dup-free corpus pays only a hash-agg scan
    // (~free next to the window build). Conservative: raw-distinct ≥
    // normalized-distinct, so a corpus whose only duplicates are
    // normalize-equal-but-raw-different takes the (always-correct) raw
    // branch and merely forgoes the collapse.
    val collapse = !collapseDisabled && Dispatch.collapse("source_overlap",
      docs, Seq(source, text), Dispatch.margin)
    val normed = docs
      .select(source.as("src"), TextAnalysis.normalize(text).as("nt"))
    val texts =
      if (collapse)
        // min picks THE text: group members carry identical nt by the
        // 128-bit key contract (the repGroups argument; collision
        // P ≈ n²/2¹²⁹ — the explicit budget note lives at lmScore's
        // keyed frame, ADVICE r18)
        normed
          .select(col("src"), col("nt"),
            struct(xxhash64(col("nt")).as("g1"),
              xxhash64(lit(2L), col("nt")).as("g2")).as("gk"))
          .groupBy(col("src"), col("gk"))
          .agg(min(col("nt")).as("nt"))
      else normed
    val base = texts
      .select(col("src"), split(col("nt"), " ").as("w"))
      .withColumn("nwl", size(col("w")).cast("long"))
    val wins = windows(base, Seq("src"), col("w"), col("nwl"), n)
    // ONE heavy chain (the span-family single-consumer discipline): the
    // per-hash sorted source set explodes to ordered pairs INCLUDING the
    // self-pair (slice from i+1 keeps x itself), so the |S|^2 matrix
    // carries its own diagonal — (a, a)'s count IS source a's
    // distinct-span total. Deriving totals from a second consumer of the
    // distinct frame would re-plan the whole window build (the exact
    // twin-exchange shape the r18 fold removed); instead the
    // dimension-sized matrix is checkpointed and both outputs read it.
    val m = wins
      .select(col("h"), col("src")).distinct()
      .groupBy(col("h"))
      .agg(sort_array(collect_set(col("src"))).as("ss"))
      .select(explode(flatten(transform(col("ss"), (x, i) =>
        transform(slice(col("ss"), i + lit(1), size(col("ss"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val totals = m.where(col("src_a") === col("src_b"))
      .select(col("src_a").as("s"), col("cnt").as("n_spans"))
    m.where(col("src_a") < col("src_b"))
      .withColumnRenamed("cnt", "shared_spans")
      .join(broadcast(totals.select(col("s").as("src_a"),
        col("n_spans").as("spans_a"))), "src_a")
      .join(broadcast(totals.select(col("s").as("src_b"),
        col("n_spans").as("spans_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("spans_a"), col("spans_b"),
        col("shared_spans"),
        (col("shared_spans").cast("double") /
          least(col("spans_a"), col("spans_b")).cast("double"))
          .as("overlap"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Duplication-free fast path of [[noveltyStats]] (pre-collapse shape,
    * retained verbatim).
    */
  private def rawNoveltyStats(k: DataFrame, n: Int): DataFrame = {
    val base = k.select(col("doc_id"), split(col("nt"), " ").as("w"))
      .withColumn("nw", size(col("w")).cast("long"))
    val wins = windows(base, Seq("doc_id"), col("w"), col("nw"), n)
    // single-pass window shape (see rawSpanStats for the twin-exchange
    // root cause this removes)
    val novel = wins.groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("doc_id") === col("first_doc"), col("cnt"))
        .otherwise(0L)).as("n_novel"))
    base
      .select(col("doc_id"),
        greatest(col("nw") - (n - 1), lit(0L)).as("n_windows"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_windows") > 0L,
          coalesce(col("n_novel"), lit(0L)).cast("double") /
            col("n_windows").cast("double"))
          .otherwise(lit(1.0)).as("novelty"))
  }
}
