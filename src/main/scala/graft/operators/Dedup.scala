package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY §2 L1-L5), all designed so the shuffled
  * rows are tiny (hashes/ids, never documents) and candidate generation is
  * bucket-local — at 100 TB nothing here is an all-pairs join.
  *
  * Determinism: every hash is either md5 (replayable in the DuckDB oracle) or
  * Spark's xxhash64 with its fixed seed (stable across JVMs/executors), and
  * MinHash "permutations" are fixed odd-multiplier affine maps over the token
  * hash — no RNG anywhere.
  */
object Dedup {

  // ---------------------------------------------------------------- exact --

  /** Exact dedup: group by content hash, keep the smallest id. The projection
    * (hash, id) happens before the shuffle, so shuffle rows are ~50 B
    * regardless of document size.
    */
  def exact(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(md5(text).as("fp"), id.as("id"))
      .groupBy(col("fp"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup after canonical normalization (case/punct/ws-insensitive). */
  def exactNormalized(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(TextAnalysis.fingerprint(text).as("fp"), id.as("id"))
      .groupBy(col("fp"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Incremental dedup: deduplicate an incoming batch against an existing
    * corpus — the shape of every recurring crawl/ingest. Both sides reduce
    * to 16-byte content hashes BEFORE the anti-join, so at 100 TB the
    * shuffle moves ~50 B/row no matter how large the documents are, and the
    * corpus side is a pre-computable fingerprint table (at real scale: kept
    * as a bucketed table or bloom-filter pushdown so only the incoming side
    * shuffles).
    *
    * Output: one row per *new* content (not present in corpus), with the
    * smallest incoming id and the within-batch duplicate count.
    */
  def incremental(incoming: DataFrame, corpus: DataFrame,
      id: Column, text: Column): DataFrame = {
    val corpusFps = corpus.select(md5(text).as("fp")).distinct()
    incoming.select(md5(text).as("fp"), id.as("id"))
      .join(corpusFps, Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("dup_count"))
  }

  // ------------------------------------------------------------- shingles --

  /** Distinct word n-gram shingles of the normalized text — native one-pass
    * kernel ([[graft.functions.WordShingles]]); the lambda-composed
    * formulation was the profiled hotspot of the whole dedup pipeline.
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.TextFunctions.wordShingles(TextAnalysis.normalize(text), n)

  /** Whether any of [[shingles]]`(text, n)` is in the broadcast `grams` set
    * (false for null text), without building the shingle array.
    */
  def sharesShingle(text: Column, n: Int,
      grams: org.apache.spark.broadcast.Broadcast[
        java.util.Set[org.apache.spark.unsafe.types.UTF8String]]): Column =
    graft.functions.TextFunctions.ngramHit(TextAnalysis.normalize(text), n, grams)

  /** Exact Jaccard similarity of two shingle-array columns — int/int double,
    * so bit-identical across engines.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - size(array_intersect(a, b))).cast("double")
  }

  /** Exact n-gram-Jaccard near-dup pairs via a *blocked* self-join: only
    * pairs sharing a block key are compared. At test scale the block is a
    * metadata column; at 100 TB the LSH variant below replaces blocking.
    * Output: (id_a, id_b, jac) with id_a < id_b, jac ≥ threshold.
    */
  def jaccardPairs(docs: DataFrame, id: Column, text: Column, block: Column,
      threshold: Double, n: Int = 3): DataFrame =
    overTextGroups(docs, id, text, extras = Seq("blk" -> block))(reps =>
      jaccardPairsRaw(reps, col("id"), col("text"), col("blk"), threshold, n))

  private def jaccardPairsRaw(docs: DataFrame, id: Column, text: Column,
      block: Column, threshold: Double, n: Int): DataFrame = {
    // four consumers (candidate a/b sides + verify a/b sides): cache once,
    // scoped to this call (Caching.withCached unpersists on return)
    val s = docs.select(id.as("id"), block.as("blk"), shingles(text, n).as("sh"))
    Caching.withCached(s) {
      val a = s.select(col("id").as("id_a"), col("blk"))
      val b = s.select(col("id").as("id_b"), col("blk"))
      val candidates = a.join(b, Seq("blk")).where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      verifyJaccard(candidates, s.select(col("id"), col("sh")), threshold)
    }
  }

  /** Overlap-coefficient near-dup pairs (Szymkiewicz–Simpson:
    * |A∩B| / min(|A|, |B|)) within a block — catches NESTING that Jaccard
    * misses: a short document quoted wholesale inside a long one scores
    * containment ≈ 1 while its Jaccard stays near |A|/|B|. Same blocked
    * candidate discipline and verbatim-dup collapse as [[jaccardPairs]]
    * (intra-group pairs score exactly 1.0); the score is an int/int
    * IEEE division, bit-identical across engines. No size prefilter
    * applies — containment admits ANY size ratio, which is the point.
    */
  def containmentPairs(docs: DataFrame, id: Column, text: Column,
      block: Column, threshold: Double, n: Int = 3): DataFrame =
    overTextGroups(docs, id, text, extras = Seq("blk" -> block),
      scoreCol = "containment")(reps =>
      containmentPairsRaw(reps, threshold, n))

  /** Candidates are SLIM (blk, id) rows — the shingle arrays never ride
    * the blocked self-join (r15: the array-payload formulation was
    * join-strategy roulette — identical rep-side data measured 6 s under
    * a broadcast plan, 20-26 s under shuffled-hash, 31-42 s under SMJ
    * depending on which strategy the statistics happened to pick, with
    * the sorter dragging the arrays in the SMJ case). Verification
    * re-joins xxhash64'd sorted arrays BY ID (plain hash equi-joins, the
    * arrays move exactly once per side) and scores with the codegen'd
    * merge-walk overlap kernel — the verifyJaccard discipline; identical
    * int/int score, collision contract P ≈ 5e-15/pair as there. The
    * shuffle_hash hint keeps the slim candidate join off SMJ: blk is a
    * handful of corpus-hot language keys.
    */
  private def containmentPairsRaw(docs: DataFrame, threshold: Double,
      n: Int): DataFrame = {
    val s = docs.select(col("id"), col("blk"),
      shingles(col("text"), n).as("sh"))
    Caching.withCached(s) {
      val a = s.select(col("blk"), col("id").as("id_a"))
      val b = s.select(col("blk"), col("id").as("id_b"))
      val candidates = a.hint("shuffle_hash").join(b, Seq("blk"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      val hashed = s.select(col("id"),
        array_sort(transform(col("sh"), x => xxhash64(x))).as("shh"))
      candidates
        .join(hashed.select(col("id").as("id_a"), col("shh").as("sh_a")),
          "id_a")
        .join(hashed.select(col("id").as("id_b"), col("shh").as("sh_b")),
          "id_b")
        .select(col("id_a"), col("id_b"),
          graft.functions.JaccardFunctions
            .sortedOverlap(col("sh_a"), col("sh_b")).as("containment"))
        .where(col("containment") >= threshold)
    }
  }

  // ------------------------------------------------- text-group collapse --

  /** Run an LSH pair generator over distinct normalized contents only,
    * then expand results back through the duplicate groups.
    *
    * Verbatim duplicates are the dominant redundancy of web-scale corpora,
    * and they are poison for hamming-ball LSH: every copy collides with
    * every copy, so candidate enumeration grows quadratically in the
    * duplication factor (measured: simhash 515 s on a 10×-replicated
    * corpus vs ~7 s collapsed). Since shingles — and therefore Jaccard —
    * depend only on the normalized text, members of an identical-content
    * group are interchangeable: pair generation runs on one representative
    * per group, cross-group pairs expand members × members with the
    * representative pair's score, and intra-group pairs have Jaccard
    * exactly 1 (edit distance exactly 0 — `scoreCol`/`intraScore`
    * parameterize the score contract per generator). The expanded output
    * is identical to running the generator on the raw corpus.
    */
  private def overTextGroups(docs: DataFrame, id: Column, text: Column,
      extras: Seq[(String, Column)] = Nil, scoreCol: String = "jac",
      intraScore: Column = lit(1.0))(
      pairsOfReps: DataFrame => DataFrame): DataFrame =
    textGroups("text_groups_pairs", docs, id, text, extras)(pairsOfReps) { g =>
      g.expand(pairsOfReps(g.reps), scoreCol).unionByName(g.intraPairs
        .select(col("id_a"), col("id_b"), intraScore.as(scoreCol)))
    }

  /** The dispatch shared by [[overTextGroups]] and
    * [[edgesOverTextGroups]]: probe, then run `raw` over the
    * (id, text, extras…) rows or `collapsed` over their content groups.
    *
    * The group key is the content fingerprint plus any blocking columns
    * the pair generator keys on — identical texts in different blocks
    * must NOT collapse together, or block semantics would leak. The probe
    * reads RAW (text, extras) duplication instead: no normalize+md5 pass
    * on a dup-free corpus just to pick the branch. That is conservative —
    * raw-distinct ≥ fingerprint-distinct, so a corpus whose only
    * duplicates are normalize-equal-but-raw-different takes the
    * (always-correct) raw branch and merely forgoes the collapse.
    */
  private def textGroups(op: String, docs: DataFrame, id: Column,
      text: Column, extras: Seq[(String, Column)])(
      raw: DataFrame => DataFrame)(
      collapsed: Dispatch.Groups => DataFrame): DataFrame = {
    val named = extras.map { case (n, c) => c.as(n) }
    val rows = docs.select(id.as("id") +: text.as("text") +: named: _*)
    if (!Dispatch.collapse(op, docs, text +: extras.map(_._2),
        Dispatch.margin)) return raw(rows)
    val fpCol = TextAnalysis.fingerprint(text)
    val gk = if (extras.isEmpty) fpCol else struct(fpCol.as("fp") +: named: _*)
    Dispatch.overGroups(rows, docs.select(gk.as("gk"), id.as("id")))(collapsed)
  }

  // -------------------------------------------------------------- minhash --

  /** MinHash+LSH near-dup pairs, exact-verified:
    * shingles → explode → xxhash64 → groupBy(id) k-slot signature →
    * band keys (xxhash64 of each band's slots) → explode bands (b tiny
    * rows/doc) → shuffle on (band, key) → bucket-local candidate id pairs →
    * re-join shingle arrays → exact-Jaccard verification.
    * With the standard (bands, rows) S-curve the verified output equals the
    * exact-threshold truth with probability ~1 − (1 − t^r)^b; callers pick
    * parameters so the miss probability at their threshold is negligible
    * (16×4 at t ≥ 0.9 ⇒ < 1e-7).
    *
    * Output: (id_a, id_b, jac) — same contract as [[jaccardPairs]], so the
    * DuckDB oracle for the exact computation doubles as the oracle here.
    */
  def minhashPairs(docs: DataFrame, id: Column, text: Column,
      threshold: Double, n: Int = 3, k: Int = 64,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    overTextGroups(docs, id, text)(reps =>
      minhashPairsRaw(reps, col("id"), col("text"), threshold, n, k,
        bands, rowsPerBand))

  /** Connectivity-sufficient near-dup EDGE set for component assignment
    * ([[clusters]]): the SAME reachability as [[minhashPairs]]'s full
    * pair list — identical components, bit-identical min-label roots —
    * but verbatim-duplicate groups contribute STAR edges (min-id rep →
    * each other member) and cross-group candidates ONE edge per REP
    * pair, never the member×member expansion the pair-LISTING contract
    * requires. |edges| = n_duplicates + |rep pairs| instead of Σ g²/2:
    * on a corpus where every document has g verbatim copies that is a
    * g-fold reduction (measured: the 100×-replicated bench corpus emits
    * ~25M clique edges but ~0.5M star edges), which keeps cluster
    * assignment LINEAR in corpus size however duplicated the crawl is —
    * the shape that matters at 100 TB, where duplication is the norm.
    *
    * Equivalence argument (why [[clusters]] output cannot differ): every
    * member reaches its rep through its star edge, and any clique edge
    * (ma, mb) of the full graph maps to the path ma—rep_a—rep_b—mb here
    * (rep pairs survive verification exactly because Jaccard is a
    * function of the TEXT, shared by the whole group). Same connected
    * components ⇒ same min-reachable labels.
    */
  def minhashEdges(docs: DataFrame, id: Column, text: Column,
      threshold: Double, n: Int = 3, k: Int = 64,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    edgesOverTextGroups(docs, id, text)(reps =>
      minhashPairsRaw(reps, col("id"), col("text"),
        threshold, n, k, bands, rowsPerBand)
        .select(col("id_a"), col("id_b")))

  /** The star-edge counterpart of [[levenshteinPairs]] — the SAME
    * reachability as the full edit-distance pair list (identical
    * components under [[clusters]]) with |edges| linear in the corpus
    * however duplicated it is: verbatim-duplicate groups contribute
    * star edges and cross-group candidates one edge per REP pair. The
    * [[minhashEdges]] equivalence argument carries over verbatim —
    * distance is a function of the (collapsed) text and the block
    * columns ride the group key, so a rep pair survives the ≤ maxDist
    * verification exactly when every member pair would.
    */
  def levenshteinEdges(docs: DataFrame, id: Column, text: Column,
      block: Column, maxDist: Int): DataFrame =
    edgesOverTextGroups(docs, id, text, extras = Seq("blk" -> block))(reps =>
      levenshteinPairsRaw(reps, maxDist).select(col("id_a"), col("id_b")))

  /** Star-edge counterpart of [[containmentPairs]] (overlap coefficient
    * ≥ threshold) — same connectivity-sufficient contract as
    * [[levenshteinEdges]]: containment is a function of the shingle
    * sets, which depend only on the normalized text shared by a
    * verbatim group, so rep-pair survival is group-uniform.
    */
  def containmentEdges(docs: DataFrame, id: Column, text: Column,
      block: Column, threshold: Double, n: Int = 3): DataFrame =
    edgesOverTextGroups(docs, id, text, extras = Seq("blk" -> block))(reps =>
      containmentPairsRaw(reps, threshold, n)
        .select(col("id_a"), col("id_b")))

  /** The edge-set analogue of [[overTextGroups]] (see [[minhashEdges]]
    * for the equivalence argument): run a pair generator over one
    * representative per verbatim-content group, then append STAR edges
    * (group rep → each other member) instead of expanding the member ×
    * member cliques — connectivity-sufficient for component assignment,
    * |edges| = n_duplicates + |rep pairs| instead of Σ g²/2. Extras ride
    * the group key exactly as in [[overTextGroups]], so identical texts
    * in different blocks never collapse together.
    */
  private def edgesOverTextGroups(docs: DataFrame, id: Column, text: Column,
      extras: Seq[(String, Column)] = Nil)(
      edgesOfReps: DataFrame => DataFrame): DataFrame =
    textGroups("text_groups_edges", docs, id, text, extras)(edgesOfReps) { g =>
      edgesOfReps(g.reps).unionByName(
        g.stars.select(col("rid").as("id_a"), col("id").as("id_b")))
    }

  /** LSH band keys off a k-slot signature array column: band b's key is the
    * xxhash64 of (b, slots[b*r .. b*r+r-1]) — the band index folds into the
    * hash so keys from different bands can share one (band_idx, band_key)
    * join without cross-band collisions mattering.
    */
  private def bandKeyCols(sig: Column, bands: Int,
      rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { b =>
      val slots = (0 until rowsPerBand).map(r =>
        element_at(sig, b * rowsPerBand + r + 1))
      xxhash64((lit(b.toLong) +: slots): _*)
    }

  private def minhashPairsRaw(docs: DataFrame, id: Column, text: Column,
      threshold: Double, n: Int, k: Int,
      bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands * rowsPerBand <= k, "bands*rowsPerBand must be <= k")
    // the shingle table feeds banding AND both sides of the verify join —
    // cache it so the shingle/signature pipeline runs once, not four times;
    // withCached unpersists both frames once the verified pairs have
    // materialized
    val shingled = docs.select(id.as("id"), shingles(text, n).as("sh"))
    // band keys straight off the signature array (no k-wide column fan-out:
    // a 64-column projection on both sides of a self-join costs seconds of
    // codegen alone), and the banded frame — b tiny rows per doc — cached
    // so the self-join reads one InMemoryRelation instead of re-deriving
    // the signature pipeline per side
    val sigArr = shingled.select(col("id"),
      graft.functions.MinhashFunctions.minhashSlots(col("sh"), k).as("sig"))
    val banded = sigArr.select(col("id"),
      posexplode(array(bandKeyCols(col("sig"), bands, rowsPerBand): _*))
        .as(Seq("band_idx", "band_key")))
    Caching.withCached(shingled, banded) {
      val candidates = banded.as("a")
        .join(banded.as("b"), Seq("band_idx", "band_key"))
        .where(col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      verifyJaccard(candidates, shingled, threshold)
    }
  }

  /** Cross-corpus MinHash+LSH near-dup pairs — the decontamination kernel:
    * every (eval, corpus) pair whose shingle Jaccard clears the threshold,
    * computed WITHOUT ever generating a corpus×corpus candidate. The eval
    * side is tiny by premise (a benchmark suite vs a training corpus), so
    * its band table and hashed shingle arrays broadcast; the corpus side is
    * two narrow scans — band keys joined against the broadcast eval bands,
    * then shingle arrays pruned by the broadcast candidate list for exact
    * verification. No corpus-sized shuffle anywhere: at 100 TB this costs
    * ~two corpus scans (one under `withCached` locally), where running the
    * self-join dedup kernel and filtering to crossing pairs would pay the
    * full train×train candidate-verification bill for answers it throws
    * away.
    *
    * Recall contract: a true pair at Jaccard j surfaces with probability
    * 1 − (1 − j^r)^b — *probabilistic*, like every LSH pass. The default
    * here is (32 bands × 2 rows), tuned for the decontamination regime
    * (threshold ≈ 0.5): miss probability ≤ 1e-4 at j = 0.5 and < 1e-7 at
    * j ≥ 0.6, vs the dedup default (16 × 4) whose miss rate at j = 0.5 is
    * ~0.36 — decontamination wants recall at a *lower* threshold than
    * near-dup dedup, so it gets more, narrower bands. False candidates
    * only cost verification work; the exact-Jaccard verify keeps the
    * output threshold-exact. Verbatim duplicates on the corpus side cost
    * one candidate each (linear — the dup² blow-up `overTextGroups` guards
    * against is a self-join phenomenon and cannot occur here).
    *
    * Output: (id_a = eval id, id_b = corpus id, jac ≥ threshold).
    */
  def minhashCrossPairs(corpus: DataFrame, evalSet: DataFrame, id: Column,
      text: Column, threshold: Double, n: Int = 3, k: Int = 64,
      bands: Int = 32, rowsPerBand: Int = 2): DataFrame = {
    val corpusSh = corpus.select(id.as("id_b"), shingles(text, n).as("sh"))
    Caching.withCached(corpusSh) {
      minhashCrossPairsPlan(corpusSh, evalSet, id, text, threshold, n, k,
        bands, rowsPerBand)
    }
  }

  /** The un-checkpointed cross-pair plan over a prepared corpus shingle
    * frame — package-visible so PlanSpec can assert the join shape (the
    * public entry checkpoints through [[Caching.withCached]], which hides
    * the joins behind a Scan ExistingRDD in the executed plan).
    */
  private[graft] def minhashCrossPairsPlan(corpusSh: DataFrame,
      evalSet: DataFrame, id: Column, text: Column, threshold: Double,
      n: Int, k: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands * rowsPerBand <= k, "bands*rowsPerBand must be <= k")
    val hashSh = (sh: Column) => array_sort(transform(sh, s => xxhash64(s)))
    // eval side: shingles → signature → band keys, all broadcast-sized
    val evalSh = evalSet.select(id.as("id_a"), shingles(text, n).as("sh"))
    val evalSig = evalSh.select(col("id_a"),
      graft.functions.MinhashFunctions.minhashSlots(col("sh"), k).as("sig"))
    val evalBanded = evalSig.select(col("id_a"),
      posexplode(array(bandKeyCols(col("sig"), bands, rowsPerBand): _*))
        .as(Seq("band_idx", "band_key")))
    val evalHashed = evalSh.select(col("id_a"), hashSh(col("sh")).as("sh_a"),
      size(col("sh")).as("na"))
    val corpusSig = corpusSh.select(col("id_b"),
      graft.functions.MinhashFunctions.minhashSlots(col("sh"), k).as("sig"))
    val corpusBanded = corpusSig.select(col("id_b"),
      posexplode(array(bandKeyCols(col("sig"), bands, rowsPerBand): _*))
        .as(Seq("band_idx", "band_key")))
    // broadcast hash join: the corpus band stream never shuffles; the
    // distinct dedupes only surviving candidates (contamination-sized)
    val candidates = corpusBanded
      .join(broadcast(evalBanded), Seq("band_idx", "band_key"))
      .select(col("id_a"), col("id_b")).distinct()
    // exact verification: candidate ids (small by premise) broadcast
    // back over the corpus shingle scan, eval arrays broadcast too — the
    // same size prefilter + sorted-hash Jaccard as verifyJaccard
    val corpusHashed = corpusSh.select(col("id_b"),
      hashSh(col("sh")).as("sh_b"), size(col("sh")).as("nb"))
    corpusHashed.join(broadcast(candidates), "id_b")
      .join(broadcast(evalHashed), "id_a")
      .where(least(col("na"), col("nb")) * lit(1.0 + threshold) >=
        lit(threshold) * (col("na") + col("nb")) - 0.5)
      .select(col("id_a"), col("id_b"),
        graft.functions.JaccardFunctions
          .sortedJaccard(col("sh_a"), col("sh_b")).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** Exact-Jaccard verification of candidate id pairs against the shingle
    * table. Set operations run on xxhash64'd shingles (long arrays) — far
    * cheaper than string intersection, identical sizes barring a within-pair
    * 64-bit collision (P ≈ 5e-15 per pair). Pairs whose sizes already rule
    * out the threshold (Jaccard bound: min(n_a,n_b)·(1+θ) ≥ θ·(n_a+n_b))
    * are skipped before any intersection; the 0.5 slack keeps the float
    * prefilter a strict superset of the exact predicate.
    */
  private def verifyJaccard(candidates: DataFrame, shingled: DataFrame,
      threshold: Double): DataFrame = {
    val hashed = shingled.select(col("id"),
      array_sort(transform(col("sh"), s => xxhash64(s))).as("shh"),
      size(col("sh")).as("n"))
    val shA = hashed.select(col("id").as("id_a"), col("shh").as("sh_a"),
      col("n").as("na"))
    val shB = hashed.select(col("id").as("id_b"), col("shh").as("sh_b"),
      col("n").as("nb"))
    candidates.join(shA, "id_a").join(shB, "id_b")
      .where(least(col("na"), col("nb")) * lit(1.0 + threshold) >=
        lit(threshold) * (col("na") + col("nb")) - 0.5)
      .select(col("id_a"), col("id_b"),
        graft.functions.JaccardFunctions
          .sortedJaccard(col("sh_a"), col("sh_b")).as("jac"))
      .where(col("jac") >= threshold)
  }

  // --------------------------------------------------------- edit distance --

  /** Edit-distance near-dup pairs (edit distance ≤ maxDist) within a
    * block, never all-pairs: candidate generation is LENGTH-BANDED, and
    * the recall guarantee is *structural* — dist(a,b) ≥ |len(a) − len(b)|,
    * so every true pair has length difference ≤ maxDist, and with band
    * width maxDist+1 the probe side's ≤3 neighbor bands provably cover
    * every such pair. The index side emits one band per doc (so each
    * unordered pair collides exactly once — no distinct pass);
    * verification is the native bit-parallel Myers/Hyyrö kernel
    * ([[graft.functions.BoundedLevenshtein]]): O(⌈len/64⌉·len) word ops
    * per pair — full DP columns, 64 cells per word — with an early abandon
    * that bails ~maxDist columns in on pairs that can no longer return
    * under budget (the common case after length banding); byte-level UTF-8
    * semantics chosen to match the oracle engine exactly (Spark's built-in
    * counts codepoints and silently disagrees cross-engine on non-ASCII
    * text). Verbatim
    * duplicates collapse through [[overTextGroups]] (identical texts have
    * distance 0 to each other and equal distance to everything else), so
    * a dup-heavy corpus never re-verifies its copies.
    *
    * Output: (id_a, id_b, dist) with id_a < id_b, dist ≤ maxDist.
    */
  def levenshteinPairs(docs: DataFrame, id: Column, text: Column,
      block: Column, maxDist: Int): DataFrame =
    overTextGroups(docs, id, text, extras = Seq("blk" -> block),
      scoreCol = "dist", intraScore = lit(0L))(reps =>
      levenshteinPairsRaw(reps, maxDist))

  private def levenshteinPairsRaw(docs: DataFrame, maxDist: Int): DataFrame = {
    val bandW = (maxDist + 1).toLong
    def bandOf(c: Column) = call_function("div", c, lit(bandW))
    // byte lengths, not char lengths — the distance is byte-level
    val d = docs.select(col("id"), col("blk"), col("text"),
      call_function("octet_length", col("text")).cast("long").as("len"))
    val idx = d.select(col("id").as("id_b"), col("blk"),
      col("text").as("t_b"), col("len").as("len_b"),
      bandOf(col("len")).as("band"))
    val probe = d.select(col("id").as("id_a"), col("blk"),
      col("text").as("t_a"), col("len").as("len_a"),
      explode(sequence(
        greatest(lit(0L), bandOf(col("len") - lit(maxDist.toLong))),
        bandOf(col("len") + lit(maxDist.toLong)))).as("band"))
    // length bands can be corpus-hot (doc lengths cluster): a shuffled hash
    // join streams probes against per-partition maps with every predicate
    // (incl. the length prefilter) evaluated at probe time, instead of an
    // SMJ buffering mega key-groups
    probe.hint("shuffle_hash").join(idx,
        probe("blk") === idx("blk") && probe("band") === idx("band")
          && col("id_a") < col("id_b")
          && abs(col("len_a") - col("len_b")) <= maxDist)
      .select(col("id_a"), col("id_b"),
        graft.functions.LevenshteinFunctions
          .boundedLevenshtein(col("t_a"), col("t_b"), maxDist)
          .cast("long").as("dist"))
      // materialization barrier: predicate pushdown would otherwise
      // substitute the dist alias below the projection and evaluate the
      // DP twice per pair (measured 2x); the checkpointed frame is
      // candidate-pair-sized (~tens of MB per million candidates)
      .localCheckpoint(true)
      .where(col("dist") >= 0) // the kernel returns -1 past the budget
  }

  // -------------------------------------------------------------- simhash --

  /** 64-bit SimHash per doc via the native one-pass kernel
    * ([[graft.functions.SimHash64]]): token xxhash64 → per-bit majority,
    * all inside one narrow codegen'd expression — no explode, no shuffle,
    * no 64-column aggregation buffer. At 100 TB the fingerprint stage is a
    * pure map over the scan.
    *
    * Output: (id, sh64).
    */
  def simhashTable(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("id"),
      graft.functions.SimhashFunctions
        .simhash64(TextAnalysis.normalize(text)).as("sh64"))

  /** SimHash candidate pairs with hamming distance ≤ maxDist.
    *
    * Candidate generation is banded + multiprobed (Manku-style): the 64-bit
    * simhash splits into 8 byte chunks; the index side emits each chunk
    * exactly, the probe side emits the chunk plus all 8 one-bit flips. By
    * pigeonhole, a pair at hamming d ≤ 15 has some chunk where the two
    * fingerprints differ in ≤ 1 bit, so the flip probe hits — recall is
    * *structural* for maxDist ≤ 15, not tuned. The join stays bucket-local
    * ((band, chunk-key) shuffle), never all-pairs.
    */
  def simhashPairs(docs: DataFrame, id: Column, text: Column,
      maxDist: Int = 15): DataFrame = {
    val s = simhashTable(docs, id, text)
    Caching.withCached(s)(simhashCandidates(s, maxDist))
  }

  /** Candidate pairs from a precomputed (id, sh64) table. The caller is
    * responsible for caching `s` — both join sides derive from the simhash
    * subtree, and an uncached frame would inline that pipeline twice (which
    * also bloats optimizer time quadratically).
    */
  private def simhashCandidates(s: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist <= 15, "banding guarantees recall only for maxDist <= 15")
    val bands = 8
    val chunkOf = (b: Int) =>
      shiftright(col("sh64"), b * 8).bitwiseAND(lit(0xFFL))
    val indexSide = s.select(col("id"), col("sh64"),
      posexplode(array((0 until bands).map(chunkOf): _*))
        .as(Seq("q_idx", "q_key")))
    // probe side: the chunk itself plus every 1-bit variant of it
    val probeSide = s.select(col("id"), col("sh64"),
      inline(array((0 until bands).flatMap { b =>
        (chunkOf(b) +: (0 until 8).map(j =>
          chunkOf(b).bitwiseXOR(lit(1L << j))))
          .map(k => struct(lit(b).cast("int").as("q_idx"), k.as("q_key")))
      }: _*)))
    val aSide = indexSide.select(col("q_idx"), col("q_key"),
      col("id").as("id_a"), col("sh64").as("h_a"))
    val bSide = probeSide.select(col("q_idx"), col("q_key"),
      col("id").as("id_b"), col("sh64").as("h_b"))
    // A pair within the hamming budget can collide in several bands (and,
    // when its chunks are equal, via the exact key in each). Emitting it
    // only from its *canonical* band — the lowest band where the two
    // chunks differ by ≤ 1 bit — makes every pair surface exactly once,
    // so no distinct pass over the (large) match stream is needed.
    val x = col("h_a").bitwiseXOR(col("h_b"))
    def chunkPop(b: Int): Column =
      bit_count(shiftright(x, b * 8).bitwiseAND(lit(0xFFL)))
    val canonicalBand = (0 until bands).foldRight(lit(bands): Column) {
      (b, els) => when(chunkPop(b) <= 1, lit(b)).otherwise(els)
    }
    // clustered corpora make some chunk values corpus-hot; a sort-merge
    // join would buffer each mega key-group and grind it on one core.
    // A shuffled hash join streams probes against a per-partition hashmap
    // and evaluates all predicates during the probe, so nothing wider
    // than the qualifying pairs ever materializes.
    aSide.hint("shuffle_hash").join(bSide,
        aSide("q_idx") === bSide("q_idx") && aSide("q_key") === bSide("q_key")
          && col("id_a") < col("id_b")
          && bit_count(x) <= maxDist
          && canonicalBand === aSide("q_idx"))
      .select(col("id_a"), col("id_b"), bit_count(x).as("hamming"))
  }

  /** SimHash-LSH near-dup dedup, exact-verified: simhash candidates
    * (hamming ≤ maxDist, structural recall — see [[simhashPairs]]) →
    * exact-Jaccard verification ≥ threshold. Same output contract as
    * [[minhashPairs]], so the exact-threshold truth is the oracle whenever
    * every true pair sits within the hamming budget (measured: max true-pair
    * hamming 5/9/12 at sf0.01/0.001/0.1 vs budget 15).
    */
  def simhashNearDup(docs: DataFrame, id: Column, text: Column,
      threshold: Double, maxDist: Int = 15, n: Int = 3): DataFrame =
    overTextGroups(docs, id, text) { reps =>
      val shingled = reps.select(col("id"), shingles(col("text"), n).as("sh"))
      val sh64 = simhashTable(reps, col("id"), col("text"))
      Caching.withCached(shingled, sh64) {
        val candidates = simhashCandidates(sh64, maxDist)
          .select(col("id_a"), col("id_b"))
        verifyJaccard(candidates, shingled, threshold)
      }
    }

  // ------------------------------------------------------------- clusters --

  /** Integral-id contract for [[clusters]]: ids are widened to long for
    * both strategy paths (the driver union-find keys primitive arrays on
    * them), so string/decimal ids — which `cast("long")` would silently
    * null out — are rejected up front instead of producing wrong roots.
    */
  private def requireIntegralIds(df: DataFrame, cols: Seq[String],
      what: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    cols.foreach { c =>
      val dt = df.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"Dedup.clusters requires integral (byte/short/int/long) $what id " +
          s"columns — got ${dt.simpleString} for '$c'. Map non-numeric ids " +
          "to a dense long surrogate (e.g. xxhash64 or zipWithIndex) first.")
    }
  }

  /** Primitive open-addressing union-find over long ids: linear probing at
    * load ≤ 0.5, union-by-min so each tree root IS the component minimum.
    * Flat long arrays — no boxing — so driver memory is exactly
    * 16 B × tableSize, tableSize = next power of two ≥ 2 × nodes.
    *
    * `Long.MinValue` is the table's empty sentinel; a real id with that
    * value is tracked in a side flag instead (it is the global minimum, so
    * it is always its own root and never needs a parent slot) — the driver
    * path accepts the full long domain, same as the distributed path.
    */
  private final class LongUnionFind(expectedNodes: Int) {
    private val cap = {
      var c = 64
      while (c < expectedNodes * 2 && c > 0) c <<= 1
      require(c > 0, s"union-find table overflow for $expectedNodes nodes")
      c
    }
    private val mask = cap - 1
    private val EMPTY = java.lang.Long.MIN_VALUE
    private var minSeen = false
    private var used = 0
    private val keys = {
      val a = new Array[Long](cap); java.util.Arrays.fill(a, EMPTY); a
    }
    private val par = new Array[Long](cap)
    private def slot(k: Long): Int = {
      var h = k * -7046029254386353131L // Stafford mix 13 multiplier
      h ^= (h >>> 32)
      var i = (h & mask).toInt
      while (keys(i) != EMPTY && keys(i) != k) i = (i + 1) & mask
      i
    }
    private def insert(k: Long): Unit = {
      if (k == EMPTY) { if (!minSeen) { minSeen = true; used += 1 } }
      else {
        val i = slot(k)
        if (keys(i) == EMPTY) {
          // guards the linear probe against a mis-sized table (callers size
          // cap ≥ 2 × max distinct nodes, so this never fires there; a full
          // table would otherwise spin slot() forever)
          require((used + 1) * 2 <= cap,
            s"union-find table full: $used nodes in $cap slots")
          keys(i) = k; par(i) = k; used += 1
        }
      }
    }
    /** Inserted node count (including a Long.MinValue node). */
    def size: Int = used
    def find(k: Long): Long = {
      if (k == EMPTY) return EMPTY // global minimum: always its own root
      var r = k
      while (r != EMPTY && { val i = slot(r); par(i) != r }) r = par(slot(r))
      var c = k // path compression: repoint the walked chain at the root
      while (c != r) { val i = slot(c); val n = par(i); par(i) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      insert(a); insert(b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // EMPTY (= Long.MinValue) is the global minimum, so it is only ever
        // the surviving root — slot() is never taken on it here
        if (ra < rb) par(slot(rb)) = ra else par(slot(ra)) = rb
      }
    }
    /** (id, root) for every inserted node. */
    def mapping(): Iterator[(Long, Long)] =
      (if (minSeen) Iterator((EMPTY, EMPTY)) else Iterator.empty) ++
        (0 until cap).iterator.filter(keys(_) != EMPTY)
          .map(i => (keys(i), find(keys(i))))
  }

  /** Connected components over near-dup pairs: every doc gets the minimum
    * id reachable through the pair graph (`root`), so "keep one per
    * cluster" = `where id = root`. Ids must be integral (see
    * [[requireIntegralIds]]) — they are widened to long internally.
    *
    * Size-adaptive strategy (the same runtime-statistic dispatch AQE uses
    * for broadcast joins): the EDGE set is near-dup-sized, not
    * corpus-sized, so when it fits under `driverEdgeLimit` an exact
    * union-find on the driver replaces the iterative job — every
    * label-propagation round otherwise costs a fixed join+agg+checkpoint
    * cycle regardless of graph size. Driver cost at the default 2M-edge
    * cap, honestly accounted: edges stream through `toLocalIterator` (one
    * partition of rows resident at a time, never the full boxed edge
    * list), and the union-find is flat primitive arrays — ≤4M nodes →
    * 8M-slot table → 128 MB peak; the (id, root) mapping leaves as two
    * primitive long arrays (16 B/node) broadcast to a distributed frame,
    * never a boxed row seq. Above the cap: iterative min-label propagation, two shuffles
    * per round, rounds = graph diameter (near-dup clusters are shallow;
    * `maxIter` bounds pathological chains, and a loop still unconverged
    * at `maxIter` throws). Both paths produce the identical min-reachable
    * labeling.
    */
  def clusters(ids: DataFrame, pairs: DataFrame, maxIter: Int = 10,
      driverEdgeLimit: Long = 1L << 21): DataFrame = {
    val spark = ids.sparkSession
    requireIntegralIds(pairs, Seq("id_a", "id_b"), "pair")
    requireIntegralIds(ids, Seq("id"), "node")
    val edgePairs = pairs
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .localCheckpoint()
    val edgeCount = edgePairs.count()
    // the open-addressing table seats at most Int.MaxValue/4 nodes; a
    // driverEdgeLimit raised beyond what the table can hold falls through
    // to the distributed path instead of silently clamping the table size
    // under the node count (which would spin the linear probe forever)
    val maxDriverEdges = math.min(driverEdgeLimit, Int.MaxValue / 8L)
    System.err.println(s"[clusters] edges=$edgeCount -> " +
      (if (edgeCount <= maxDriverEdges) "driver union-find"
       else "distributed min-label"))
    if (edgeCount <= maxDriverEdges) {
      val uf = new LongUnionFind(expectedNodes = (edgeCount * 2L).toInt)
      val it = edgePairs.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        uf.union(row.getLong(0), row.getLong(1))
      }
      // the (id, root) mapping leaves the driver as two primitive long
      // arrays broadcast to a range-mapPartitions frame — 16 B/node flat,
      // never a boxed Row/Tuple seq (the r5 ~200 MB transient spike)
      val n = uf.size
      val idArr = new Array[Long](n)
      val rootArr = new Array[Long](n)
      var i = 0
      val mit = uf.mapping()
      while (mit.hasNext) {
        val (id, root) = mit.next()
        idArr(i) = id; rootArr(i) = root; i += 1
      }
      val bc = spark.sparkContext.broadcast((idArr, rootArr))
      import spark.implicits._
      val mapping = spark.range(n).mapPartitions { rows =>
        val (ia, ra) = bc.value
        rows.map { j => (ia(j.toInt), ra(j.toInt)) }
      }.toDF("id", "root")
      return ids.join(broadcast(mapping), Seq("id"), "left")
        .select(col("id"), coalesce(col("root"), col("id")).as("root"))
    }
    // undirected edge list, both directions; localCheckpoint truncates the
    // per-iteration lineage (otherwise every round replans the whole
    // history) and materializes the reused frame
    val edges = edgePairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edgePairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    // only nodes that touch an edge can ever change label — iterate over
    // that (near-dup-sized) subgraph and union the untouched majority back
    // at the end. At 100 TB the iteration frames are |dup pairs|-sized, not
    // corpus-sized.
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("root")).localCheckpoint()
    // min-label propagation decreases sum(root) monotonically; an unchanged
    // sum means a fixpoint — a single-agg convergence probe, no self-join
    def rootSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("root")), lit(0L))).head().getLong(0)
    var prevSum = rootSum(labels)
    var iter = 0
    var converged = false
    // r19 (VERDICT r18 task 7): ADAPTIVE pointer-doubling shortcut —
    // root' = root(root) appended to a propagation round, covering
    // distance ~2^k after k shortcut rounds so deep chains collapse in
    // O(log d) barriers instead of d. Measured at the 1000× decade
    // (5.0M edges, the first scale where this path fires): the
    // UNCONDITIONAL shortcut cut rounds 7 → 4 but COST wall (best-rep
    // 51.0 → 67.7 s) — near-dup graphs are shallow, and each shortcut
    // round's extra self-join + checkpoint outweighs three saved
    // rounds. So the shortcut engages only from round `ShortcutFrom`
    // on: real corpora (diameter ≲ 5) never pay it, while a
    // pathological deep chain — which plain propagation would leave
    // unconverged at maxIter, an error — still closes within the round
    // budget (reach ≈ ShortcutFrom · 2^(maxIter−ShortcutFrom), ~96 hops
    // at the defaults vs 10 plain). Exactness: every intermediate root
    // is the min over SOME reachable subset (propagation extends it one
    // hop, the shortcut unions it with the root's own subset — still
    // reachable); the fixpoint is the component min either way, and the
    // rootSum convergence probe is unchanged.
    var shortcuts = 0
    while (iter < maxIter && !converged) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("root"))
      val propagated = labels.unionByName(viaNeighbors)
        .groupBy(col("id")).agg(min(col("root")).as("root"))
        .localCheckpoint()
      labels =
        if (iter < ShortcutFrom) propagated
        else {
          shortcuts += 1
          propagated
            // root' = root(root): the left join keys the (checkpointed)
            // round result by its own root column; roots are always label
            // ids (min over existing roots), coalesce is belt-and-braces
            .join(propagated.select(col("id").as("sc_id"),
              col("root").as("sc_root")),
              propagated("root") === col("sc_id"), "left")
            .select(propagated("id"),
              coalesce(col("sc_root"), propagated("root")).as("root"))
            .localCheckpoint()
        }
      val s = rootSum(labels)
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    System.err.println(s"[clusters] distributed min-label path: $iter " +
      s"round(s) ($shortcuts shortcut), converged=$converged")
    // an unconverged loop holds roots that are not yet the component
    // minimum: fail rather than return them
    if (!converged)
      throw new IllegalStateException(s"clusters: min-label propagation " +
        s"did not converge within maxIter=$maxIter rounds ($shortcuts " +
        s"shortcut, engaged from round $ShortcutFrom) — raise maxIter")
    // untouched nodes are their own root
    ids.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("root"))
  }

  /** The propagation round from which [[clusters]] appends the
    * pointer-doubling shortcut (see the measured rationale in its loop).
    */
  private val ShortcutFrom = 6

  // ---------------------------------------------------- embedding near-dup --

  /** Embedding-cosine near-dup pairs ≥ threshold. Exact (blocked only by the
    * similarity join in [[Similarity]]); see `Similarity.cosinePairs`.
    */
  def embeddingPairs(vectors: DataFrame, id: Column, vec: Column,
      threshold: Double): DataFrame =
    Similarity.cosinePairs(vectors, id, vec, threshold)
}
