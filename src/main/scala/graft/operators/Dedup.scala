package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Document deduplication for the training-data pipeline (SURVEY.md §2).
  *
  * Scale shape (100 TB): no operator here is all-pairs. Candidate
  * generation is always a co-partitioned equi-self-join on a small
  * blocking key (LSH band bucket, SimHash band, lang×length block);
  * exact verification runs only inside buckets. Skewed buckets (a
  * degenerate common signature) are AQE skew-join territory — the join
  * keys are (band_idx, band_val) so hot buckets split cleanly.
  */
object Dedup {

  /** The text hash every distinct-text collapse keys on — one
    * definition so every rep/member split in the engine (and every
    * oracle's `md5(text)`) agrees byte-for-byte. */
  def withTextHash(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("h", md5(col(textCol).cast("binary")))

  // ---- MinHash + LSH -------------------------------------------------

  val NumHashes = 128
  val Bands = 32 // 32 bands × 4 rows

  /** Candidate pairs (id_a < id_b) whose MinHash signatures collide in
    * ≥1 band, with exact word-set Jaccard verification ≥ `threshold`.
    *
    * Exact duplicates are collapsed FIRST (md5(text) groups): banding,
    * the bucket self-join, and Jaccard verification run once per
    * distinct text, and member pairs are expanded afterwards. On the
    * duplicate-heavy corpora this operator exists for, the band join
    * would otherwise pay c² inflated rows per c-sized identical group
    * in every one of the 32 bands; collapsed, join cost follows
    * distinct texts and expansion is bounded by the output pair count
    * (the semantic floor). Shuffle discipline unchanged: the band join
    * moves (id, band_val) only; word sets re-enter for the verified
    * representative pairs via equi-joins. */
  /** Reps per band bucket above which the bucket is DROPPED from
    * candidate generation — the one 100 TB quadratic left in dedup
    * without it: a pathological hot band value (boilerplate cores
    * that pin every minimum of a band's 4 hashes) emits C(c, 2)
    * within-bucket pairs, and unlike exact duplicates these do NOT
    * collapse first. The cap bounds any bucket's pair yield at
    * C(cap, 2) ≈ 8.4M — one spilled-but-finite task, never a job
    * killer — at the cost of missing near-dups whose ONLY agreeing
    * band is the hot one (a pair that similar almost surely agrees on
    * another, colder band: the 32×4 banding gives a τ-similar pair
    * 1−(1−τ⁴)³² ≈ 0.87 at τ = 0.6 per-band independence, so the
    * marginal recall loss of one band is small). Same family as
    * text_winnow's df cap and q_recs_itemitem's basket cap: DORMANT
    * at gate scale (the sf corpora's hottest band bucket is ≪ 4096,
    * so every oracle hash is unchanged), load-bearing at 100 TB;
    * the planted-hot-band spec proves the bound. */
  private[graft] val BandBucketCap = 4096L

  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, bandCap: Long = BandBucketCap): DataFrame = {
    val base = withTextHash(docs.select(col(idCol).as("id"),
        col(textCol).as("text"), words(col(textCol)).as("w")), "text")
      .drop("text")
      .filter(size(col("w")) >= 3)
    val reps = base.dropDuplicates("h")
    val bands0 = reps
      .withColumn("band_val",
        explode(graft.functions.DedupExpressions.minhashBands(col("w"), NumHashes, Bands)))
      .select(col("id"), col("band_val"))
    // skew census + cap: the over-cap band-value set is tiny by
    // construction (≤ rows/cap values), so it broadcasts and the cap
    // is one map-side-combined agg plus an anti probe — no new
    // shuffle of the band table
    val hot = bands0.groupBy("band_val")
      .agg(count(lit(1)).as("bc")).where(col("bc") > bandCap)
      .select("band_val")
    val bands = bands0.join(broadcast(hot), Seq("band_val"), "left_anti")
    val candRep = bands.as("a")
      .join(bands.as("b"),
        col("a.band_val") === col("b.band_val") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val repPairs = verifyJaccard(candRep, reps.select(col("id"), col("w")), threshold)
    val members = base.select(col("h"), col("id"))
    val repsH = reps.select(col("id").as("rid"), col("h").as("rh"))
    // identical texts: Jaccard exactly 1 — a text-hash self-join emits
    // each member pair once
    val within = members.as("x")
      .join(members.as("y"), col("x.h") === col("y.h") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(1.0).as("jaccard"))
    // verified representative pairs inherit their Jaccard across all
    // members of both texts
    val across = repPairs.as("p")
      .join(repsH.as("ra"), col("p.id_a") === col("ra.rid"))
      .join(members.as("ma"), col("ra.rh") === col("ma.h"))
      .join(repsH.as("rb"), col("p.id_b") === col("rb.rid"))
      .join(members.as("mb"), col("rb.rh") === col("mb.h"))
      .select(least(col("ma.id"), col("mb.id")).as("id_a"),
        greatest(col("ma.id"), col("mb.id")).as("id_b"), col("p.jaccard"))
    within.unionByName(across)
  }

  /** LSH index-quality evaluation (round 11) — "measure, don't
    * guess" applied to the dedup index itself: at the REP level (one
    * per distinct text; pair counts are member-independent), compare
    * the MinHash 32×4 banding's CANDIDATE pair set against the exact
    * ground truth (all rep pairs with unigram word-hash Jaccard ≥
    * threshold) and report banding precision (verified / candidates —
    * wasted verify work) and recall (truth found / truth — dups the
    * index misses). Truth is COMPLETE without an all-pairs scan:
    * Jaccard ≥ 0.5 forces |A|/|B| ∈ [0.5, 2], so binary-magnitude
    * buckets (exact integer bit-length of the distinct-set size —
    * float log2 at a power-of-two boundary could mis-bucket) with
    * neighbor-probe expansion cover every qualifying pair, the
    * 1-D form of the dbscan grid block. The oracle brute-forces
    * truth (blocking completeness is therefore ITSELF hash-gated) and
    * replays the banding. Output: one row of exact counts + the two
    * ratios. */
  def lshEval(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    require(threshold >= 0.5,
      s"size buckets probe one neighbor — complete only for t >= 0.5, got $threshold")
    val base = withTextHash(docs.select(col(idCol).as("id"),
        col(textCol).as("text"), words(col(textCol)).as("w")), "text")
      .drop("text")
      .filter(size(col("w")) >= 3)
    // min-id representative (arg_min semantics): members of a text-hash
    // group share the text, so w is identical across candidates, but
    // the rep ID is part of the contract the oracle pins
    // spread BEFORE the checkpoint (r17): the rep table is byte-small,
    // so AQE leaves the agg output on 1-2 partitions and every
    // downstream CPU-heavy stage (128-hash banding, the broadcast
    // truth probe's sorted-set intersections) inherits that width
    // through the checkpoint scan — measured 8.2 s on 2 of 32 cores
    // for the truth probe at sf0.1. One byte-light exchange buys full
    // parallelism for all three consumers (guide §2: shuffle the
    // 8-byte ids, not the work).
    val reps = base.groupBy("h")
      .agg(min("id").as("id"), min_by(col("w"), col("id")).as("w"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("id"))
      .localCheckpoint(true) // read 3×
    val bands = reps.withColumn("band_val",
        explode(graft.functions.DedupExpressions
          .minhashBands(col("w"), NumHashes, Bands)))
      .select(col("id"), col("band_val"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_val") === col("b.band_val") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .localCheckpoint(true) // counted AND verified below
    // Truth pairs FUSED into one broadcast-probe join (round 13): the
    // prior form materialized the ~quadratic within-bucket pair set,
    // dedup-shuffled it, then shuffle-joined the word sets back twice —
    // three exchanges of a pair-count-sized table for an eval whose
    // truth side is inherently quadratic on a length-concentrated
    // corpus. Here the rep (wd, n, bk) table is BROADCAST (reps are
    // distinct texts — eval-scale by contract; the 100 TB eval is the
    // sampled twin below) and each rep streams through its own bucket
    // + the upper neighbor, with the canonical-pair condition and the
    // exact Jaccard filter applied inside the probe: nothing pair-sized
    // is ever exchanged or materialized. Coverage is unchanged — same
    // bucket (once, via id <) plus adjacent magnitudes (once, lower
    // probes up) — so completeness for t ≥ 0.5 carries over verbatim.
    val wd = reps.select(col("id"),
        graft.functions.DedupExpressions.ngramHashSet(col("w"), 1).as("wd"))
      .withColumn("n", size(col("wd")))
      .withColumn("bk", length(conv(size(col("wd")), 10, 2)).cast("long"))
      .localCheckpoint(true) // probe AND build sides below
    val probes = wd.select(col("id").as("ia"), col("wd").as("wa"),
        col("n").as("na"), col("bk").as("abk"))
      .withColumn("pbk", explode(array(col("abk"), col("abk") + lit(1L))))
    val interT = graft.functions.DedupExpressions
      .sortedLongIntersectSize(col("wa"), col("wb"))
    val truth = probes.join(
        broadcast(wd.select(col("id").as("ib"), col("wd").as("wb"),
          col("n").as("nb"), col("bk").as("bbk"))),
        col("pbk") === col("bbk") &&
          (col("abk") =!= col("bbk") || col("ia") < col("ib")))
      .filter(round(interT / (col("na") + col("nb") - interT), 4)
        >= threshold)
    val repW = reps.select(col("id"), col("w"))
    val tp = verifyJaccard(cand, repW, threshold)
    reps.agg(count(lit(1)).as("n_reps"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
      .crossJoin(broadcast(tp.agg(count(lit(1)).as("n_tp"))))
      .select(col("n_reps"), col("n_truth"), col("n_cand"), col("n_tp"),
        when(col("n_cand") > 0,
          round(col("n_tp").cast("double") / col("n_cand"), 4))
          .as("band_precision"),
        when(col("n_truth") > 0,
          round(col("n_tp").cast("double") / col("n_truth"), 4))
          .as("band_recall"))
  }

  /** Sampled-truth banding evaluation — [[lshEval]]'s honest form for
    * LENGTH-CONCENTRATED corpora, where the exact key's size-bucket
    * truth join degenerates toward all-pairs (binary-magnitude
    * buckets are complete for τ ≥ 0.5 but a corpus whose doc lengths
    * concentrate puts ~everything in one bucket). Truth is brute-
    * forced only around a deterministic 1/`mod` rep sample
    * (id % mod = 0 — replayable in SQL, uncorrelated with length):
    * every truth join is sample × bucket-mates and every candidate
    * join sample-bands × all-bands, so the eval is LINEAR in the
    * corpus at any length distribution. Estimates precision/recall of
    * the banding on pairs TOUCHING the sample — an unbiased pair
    * sample under the id hash; the spec pins the estimator against
    * the exact key at gate scale. */
  def lshEvalSampled(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, mod: Int = 7): DataFrame = {
    require(threshold >= 0.5,
      s"size buckets probe one neighbor — complete only for t >= 0.5, got $threshold")
    require(mod >= 1, s"sample modulus must be >= 1, got $mod")
    val base = withTextHash(docs.select(col(idCol).as("id"),
        col(textCol).as("text"), words(col(textCol)).as("w")), "text")
      .drop("text")
      .filter(size(col("w")) >= 3)
    // min-id representative (arg_min semantics) — NOT dropDuplicates:
    // unlike lshEval's pair counts (rep-independent), the sampled
    // estimator's n_sample and every pair count depend on WHICH member
    // id represents a duplicated text through the id % mod predicate,
    // so an arbitrary-keeper collapse would be nondeterministic across
    // partitionings on corpora whose exact-dup copies straddle the
    // sample boundary (round-13 ADVICE)
    // same pre-checkpoint spread as lshEval: the sampled truth probe
    // and banding stages otherwise run at the agg output's 1-2
    // byte-coalesced partitions
    val reps = base.groupBy("h")
      .agg(min("id").as("id"), min_by(col("w"), col("id")).as("w"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("id"))
      .localCheckpoint(true)
    val inSample = pmod(col("id"), lit(mod.toLong)) === 0
    def bandsOf(df: DataFrame): DataFrame = df.withColumn("band_val",
        explode(graft.functions.DedupExpressions
          .minhashBands(col("w"), NumHashes, Bands)))
      .select(col("id"), col("band_val"))
    // banding candidates touching the sample: sample bands probe the
    // FULL band table (never the full self-join)
    val cand = bandsOf(reps.where(inSample)).as("a")
      .join(bandsOf(reps).as("b"),
        col("a.band_val") === col("b.band_val")
          && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .localCheckpoint(true)
    // truth around the sample: each sampled rep probes its own size
    // bucket AND both neighbors (covers the ratio-2 window in both
    // directions, since here the sampled side may be smaller or larger)
    val wd = reps.select(col("id"),
        graft.functions.DedupExpressions.ngramHashSet(col("w"), 1).as("wd"))
      .withColumn("bk", length(conv(size(col("wd")), 10, 2)).cast("long"))
    val probes = wd.where(inSample)
      .select(col("id").as("ia"),
        explode(array(col("bk") - 1, col("bk"), col("bk") + 1)).as("bk"))
    val candTruth = probes
      .join(wd.select(col("id").as("ib"), col("bk")), "bk")
      .where(col("ia") =!= col("ib"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val repW = reps.select(col("id"), col("w"))
    val truth = verifyJaccard(candTruth, repW, threshold)
    val tp = verifyJaccard(cand, repW, threshold)
    reps.agg(count(lit(1)).as("n_reps"),
        coalesce(sum(when(inSample, 1L)), lit(0L)).as("n_sample"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth_s"))))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand_s"))))
      .crossJoin(broadcast(tp.agg(count(lit(1)).as("n_tp_s"))))
      .select(col("n_reps"), col("n_sample"), col("n_truth_s"),
        col("n_cand_s"), col("n_tp_s"),
        when(col("n_cand_s") > 0,
          round(col("n_tp_s").cast("double") / col("n_cand_s"), 4))
          .as("precision_est"),
        when(col("n_truth_s") > 0,
          round(col("n_tp_s").cast("double") / col("n_truth_s"), 4))
          .as("recall_est"))
  }

  /** Join candidate (id_a, id_b) pairs back to per-doc distinct
    * word-hash sets and keep exact Jaccard ≥ threshold. Hash sets are
    * sorted once per doc so the per-pair intersection is a linear merge
    * over longs (native expr — several-fold cheaper than string sets). */
  private[graft] def verifyJaccard(cand: DataFrame, base: DataFrame,
      threshold: Double): DataFrame = {
    val wd = base.select(col("id"),
      graft.functions.DedupExpressions.ngramHashSet(col("w"), 1).as("wd"))
      .withColumn("n", size(col("wd")))
    val inter = graft.functions.DedupExpressions
      .sortedLongIntersectSize(col("a.wd"), col("b.wd"))
    cand
      .join(wd.as("a"), col("id_a") === col("a.id"))
      .join(wd.as("b"), col("id_b") === col("b.id"))
      .withColumn("jaccard",
        round(inter / (col("a.n") + col("b.n") - inter), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Blocked exact n-gram Jaccard with exact-duplicate collapse.
    * Expects `docs` projected to (doc_id, lang, lb, text); emits
    * (id_a < id_b, jaccard) for same-(lang, lb)-block pairs with
    * hashed n-gram-set Jaccard ≥ threshold.
    *
    * Identical (text, lang, lb) rows are collapsed to one
    * representative before the block self-join: the join then scales
    * with distinct texts per block (duplicate-heavy corpora would
    * otherwise pay c² join rows per c-sized identical group), and
    * member pairs are expanded afterwards — bounded by the output,
    * which is the semantic floor. A size-ratio prefilter prunes rep
    * pairs before the array merge (jaccard ≥ t implies min ≥ t·max;
    * 0.995 slack covers the rounded-comparison boundary). */
  def blockedNgramJaccard(docs: DataFrame, ngramN: Int, threshold: Double): DataFrame = {
    val (reps, members, repPairs) = blockedParts(docs, ngramN, threshold)
    // identical texts in the same block: jaccard is exactly 1
    val within = members.as("x")
      .join(members.as("y"),
        col("x.h") === col("y.h") && col("x.lang") === col("y.lang")
          && col("x.lb") === col("y.lb") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        lit(1.0).as("jaccard"))
    // verified representative pairs inherit their jaccard across all
    // members of both texts (same block by construction)
    val across = repPairs
      .join(members.as("ma"), col("ha") === col("ma.h")
        && col("pl") === col("ma.lang") && col("plb") === col("ma.lb"))
      .join(members.as("mb"), col("hb") === col("mb.h")
        && col("pl") === col("mb.lang") && col("plb") === col("mb.lb"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("id_a"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("id_b"),
        col("jaccard"))
    within.unionByName(across)
  }

  /** Connectivity-equivalent SPARSE pair set for duplicate-cluster
    * resolution: a star from each identical-text group to its
    * representative plus ONE edge per verified representative pair —
    * the same connected components as the full member expansion with
    * |members| + |repPairs| edges instead of Σ c² (39M → ~150k on a
    * 10× replica probe). Cluster resolution doesn't need every
    * qualifying pair, only their connectivity; use this for
    * `connectedComponents`/`applyDedup`, and the full
    * [[blockedNgramJaccard]] when the pair list itself is the answer. */
  def blockedNgramJaccardSparse(docs: DataFrame, ngramN: Int,
      threshold: Double): DataFrame = {
    val (reps, members, repPairs) = blockedParts(docs, ngramN, threshold)
    val star = members.as("m")
      .join(reps.select(col("h"), col("lang"), col("lb"),
          col("doc_id").as("rep_id")).as("r"),
        col("m.h") === col("r.h") && col("m.lang") === col("r.lang")
          && col("m.lb") === col("r.lb") && col("m.doc_id") =!= col("rep_id"))
      .select(least(col("m.doc_id"), col("rep_id")).as("id_a"),
        greatest(col("m.doc_id"), col("rep_id")).as("id_b"))
    val repEdges = repPairs
      .select(least(col("rid_a"), col("rid_b")).as("id_a"),
        greatest(col("rid_a"), col("rid_b")).as("id_b"))
    star.unionByName(repEdges)
  }

  /** Shared prep for the blocked Jaccard family: hashed n-gram sets,
    * one representative per identical (text, lang, block), and the
    * verified representative pairs.
    *
    * The n-gram hash set (per-word md5 — the expensive projection) is
    * computed AFTER the representative collapse, so hashing cost
    * follows distinct texts like the join itself; the member branch
    * carries only (h, lang, lb, doc_id). */
  private def blockedParts(docs: DataFrame, ngramN: Int, threshold: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    val hashed = withTextHash(
      docs.select(col("doc_id"), col("lang"), col("lb"), col("text")), "text")
    // explicit full-parallelism spread on the JOIN keys before the
    // expensive work (r18, the lshEval r17 lesson): the rep collapse's
    // agg output is byte-small, so AQE coalesces it to 1-3 partitions —
    // and both the per-gram hashing below and the self-join's per-pair
    // sorted-set intersections inherit that width (measured: the whole
    // pair gen ran as a 3-task stage on 32 cores). A REPARTITION_BY_NUM
    // exchange is exempt from AQE coalescing, keys (lang, lb) satisfy
    // the self-join's distribution so no further exchange is planned,
    // and exchange reuse feeds both join sides from the one shuffle.
    val np = docs.sparkSession.sparkContext.defaultParallelism
    val reps = hashed.dropDuplicates("h", "lang", "lb")
      .repartition(np, col("lang"), col("lb"))
      .withColumn("wd",
        graft.functions.DedupExpressions.ngramHashSet(words(col("text")), ngramN))
      .filter(col("wd").isNotNull)
      .withColumn("n", size(col("wd")))
      .drop("text")
    // same sub-n-words exclusion the rep side gets from wd=null, but
    // via the cheap token count — no hashing in the member branch
    val members = hashed
      .filter(size(words(col("text"))) >= ngramN)
      .select(col("h"), col("lang"), col("lb"), col("doc_id"))
    val inter = graft.functions.DedupExpressions
      .sortedLongIntersectSize(col("a.wd"), col("b.wd"))
    val repPairs = reps.as("a")
      .join(reps.as("b"),
        col("a.lang") === col("b.lang") && col("a.lb") === col("b.lb")
          && col("a.h") < col("b.h")
          // size-ratio prefilter: jaccard >= t implies min >= t*max
          // (0.995 slack covers the rounded-comparison boundary)
          && least(col("a.n"), col("b.n"))
            >= lit(0.995 * threshold) * greatest(col("a.n"), col("b.n")))
      .select(col("a.h").as("ha"), col("b.h").as("hb"),
        col("a.doc_id").as("rid_a"), col("b.doc_id").as("rid_b"),
        col("a.lang").as("pl"), col("a.lb").as("plb"),
        round(inter / (col("a.n") + col("b.n") - inter), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (reps, members, repPairs)
  }

  /** Exact word-set Jaccard similarity. */
  def wordJaccard(wa: Column, wb: Column): Column = {
    val a = array_distinct(wa)
    val b = array_distinct(wb)
    val inter = size(array_intersect(a, b))
    inter / (size(a) + size(b) - inter)
  }

  // ---- duplicate-cluster resolution ---------------------------------

  /** Connected components over near-dup pairs. The cluster id (= min
    * doc id in the component) is the canonical keeper for the group.
    *
    * Adaptive execution, mirroring AQE's broadcast fallback: the dup
    * graph after blocking is orders of magnitude smaller than the
    * corpus (pairs, not documents), so when the materialized edge
    * count fits comfortably on the driver (`localEdgeThreshold`, ~32 MB
    * at the default) it is solved with a single-pass union-find — no
    * per-round job scheduling at all. Above the threshold (a 100 TB
    * corpus can yield 10^9+ pairs) it falls back to the distributed
    * min-label loop below. */
  /** Per-round observability for the CC loops: `round` (1-based),
    * `shuffledRows` (rows entering that round's exchanges — the scale
    * cost), and `progress` (min-label: labels still changing; star:
    * edges remaining after contraction). Wired by the comparison
    * harness so §3's algorithm-selection rule carries MEASURED numbers;
    * production calls leave it None and pay nothing. */
  type CCRoundProbe = (Int, Long, Long) => Unit

  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      localEdgeThreshold: Long = 2000000L,
      onRound: Option[CCRoundProbe] = None,
      ckpt: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    val ccDebug = sys.env.contains("SPARK_GRAFT_CC_DEBUG")
    def dbg(m: String): Unit =
      if (ccDebug) System.err.println(s"[cc] $m t=${System.nanoTime() / 1e9}")
    dbg("enter")
    // materialize pair generation exactly once (it is the expensive
    // upstream: LSH banding / blocked verify). Ids are normalized to
    // long here so the local and distributed paths agree on the output
    // schema (bigint) — non-integral id columns are a caller error:
    // ANSI mode (Spark 4 default) fails the cast loudly, and the
    // null check in localUnionFind catches ANSI-off sessions where the
    // cast would otherwise corrupt ids to null.
    val edges1 = pairs.select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
      .localCheckpoint(true)
    val nEdges = edges1.count()
    dbg(s"edges materialized n=$nEdges")
    // both paths, not just the local one: a null from an ANSI-off cast
    // (or null ids in the pair set) must fail here, not silently drop
    // edges in the distributed joins. The scan is over the checkpointed
    // edge set — cheap relative to everything downstream.
    if (edges1.filter(col("src").isNull || col("dst").isNull).limit(1).count() > 0)
      throw new IllegalArgumentException(
        "connectedComponents ids must cast to long without nulls " +
          "(non-numeric id column, or null ids in the pair set)")
    val out =
      if (nEdges <= localEdgeThreshold) localUnionFind(edges1)
      else distributedMinLabel(edges1, maxIter, dbg, onRound, ckpt)
    edges1.unpersist(false)
    dbg("done")
    out
  }

  /** Driver-side union-find (path-halving + union toward the running
    * min), then root → component-min relabel. O(E α(E)); only invoked
    * when E is driver-sized. */
  private def localUnionFind(edges1: DataFrame): DataFrame = {
    val spark = edges1.sparkSession
    val es = edges1.collect().map { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        "connectedComponents ids must cast to long without nulls " +
          "(non-numeric id column, or null ids in the pair set)")
      (r.getLong(0), r.getLong(1))
    }
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      parent.putIfAbsent(x, x)
      while (parent.get(x) != x) {
        val gp = parent.get(parent.get(x))
        parent.put(x, gp) // path halving
        x = gp
      }
      x
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union toward the smaller root → root IS the min id
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val rows = parent.keySet().toArray(Array.empty[java.lang.Long])
      .map(id => (id.longValue(), find(id)))
    import spark.implicits._
    spark.createDataset(rows.toIndexedSeq)
      .toDF("doc_id", "cluster_id")
  }

  /** Distributed min-label propagation with pointer jumping. Each round
    * every node adopts the min label over itself and its neighbors, then
    * labels are shortcut through themselves (label := label's label),
    * which contracts long chains in O(log diameter) rounds. Each round
    * is bounded state: joins on (id) with partial-agg min; nothing is
    * collected except the convergence counter. localCheckpoint per
    * round truncates lineage (persist() alone grows the logical plan
    * until analyzer heap exhaustion).
    *
    * Layout (round 10, the q_pagerank idiom): edges are checkpointed
    * hash-partitioned on dst ONCE and the label table is maintained
    * hash-partitioned on id across rounds (captures run with AQE off —
    * ScaleOpsSpec proves capture + AQE-consumer reuse), so the
    * edge⋈label and label⋈neighborMin joins are co-partitioned with no
    * exchange: the bidirected edge list NEVER crosses the wire after
    * the one-time layout. Per-round exchanged volume is edge-
    * independent — two label-table exchanges (pointer-jump re-key +
    * the maintained id layout) plus the neighbor-min trickle, which
    * MEASURES at ~5V/round on 32 partitions (partials multiply with
    * the partition count; the old ≤V claim undercounted). The trade:
    * a co-partitioned join cannot be AQE-skew-split, so a hub node's
    * partition is processed whole, and the min() aggregate itself
    * stays partial/skew-immune.
    *
    * MEASURED comparison (round 11, task-metrics listener in
    * ConnectedComponentsSpec): on a redundant-pair power-law dup graph
    * this path's total shuffle (~1.05M records) LOSES to star
    * contraction (~0.65M) at both tested densities — star's round-0
    * distinct() absorbs redundancy as cheaply as the parked layout
    * does. Prefer [[connectedComponentsStar]] for raw volume; this
    * path's surviving property is bounded, FLAT per-round volume
    * (predictable round cost, no E-sized early spikes) and it is kept
    * as the default for that predictability on pathological inputs. */
  private def distributedMinLabel(edges1: DataFrame, maxIter: Int,
      dbg: String => Unit, onRound: Option[CCRoundProbe] = None,
      ckpt: CheckpointStrategy = CheckpointStrategy.Local): DataFrame = {
    val spark = edges1.sparkSession
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // the AQE-off capture runs against a PRIVATE session clone (round
    // 14 — structural scoping, not a shared-conf toggle): the input
    // edge frame is rebound through the graftbridge (planned once
    // under its own session, re-exposed as a leaf in the clone), so
    // every loop frame and the returned labels plan under the clone's
    // conf and concurrent queries cannot race the capture
    SessionScope.withAqeOff(spark) { s2 =>
      val edges0 = org.apache.spark.sql.graftbridge.SessionBridge
        .rebind(edges1, s2)
      val edges = ckpt(edges0
        .union(edges0.select(col("dst"), col("src")))
        .repartition(col("dst")))
      var labels = ckpt(edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id"))
        .repartition(col("id")))
      // per-round exchanged rows under the captured layout — an
      // ANALYTIC ESTIMATE, not a measurement: the label table moves
      // twice (pointer-jump re-key on label + the maintained id
      // layout) and the neighbor-min rows trickle into the agg as
      // map-side partials (≤ V rows post-combine; ≤ V×partitions
      // partials pre-combine) — edges never move. Flat across rounds
      // by construction. The MEASURED check lives in
      // ConnectedComponentsSpec, which wraps both CC paths in a task-
      // metrics listener and compares actual shuffle-write records;
      // this estimate only labels the probe rows. Computed only when a
      // probe asks.
      val perRoundRows = onRound.map(_ => 3 * labels.count())
      dbg("labels init")
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIter) {
        val neighborMin = edges
          .join(labels, edges("dst") === labels("id"))
          .groupBy(col("src").as("nid"))
          .agg(min("label").as("nlabel"))
        val prop = labels
          .join(neighborMin, labels("id") === col("nid"), "left")
          .select(col("id"), col("label").as("old_label"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        // pointer jumping: resolve each node's propagated label through
        // the propagated label of that label-node, contracting chains
        // exponentially (labels are monotone-decreasing node ids within
        // the component, so the composition stays in-component)
        val jump = prop.select(col("id").as("j_id"), col("label").as("j_label"))
        val next = ckpt(prop.as("p")
          .join(jump, col("p.label") === col("j_id"), "left")
          .select(col("p.id"), col("p.old_label"),
            least(col("p.label"), coalesce(col("j_label"), col("p.label"))).as("label"))
          .repartition(col("p.id")))
        // convergence count is a scan of the materialized round, not
        // another shuffle join against prior state
        changed = next.filter(col("label") =!= col("old_label")).count()
        labels = next.select("id", "label")
        iter += 1
        dbg(s"round $iter changed=$changed")
        onRound.foreach(f => f(iter, perRoundRows.get, changed))
      }
      if (changed > 0)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds " +
            s"($changed labels still changing); raise maxIter")
      // re-materialize the small final state, then free every intermediate
      // checkpoint block (they'd otherwise occupy the block manager for
      // the rest of the session)
      val result = ckpt(
        labels.select(col("id").as("doc_id"), col("label").as("cluster_id")))
      val sc = spark.sparkContext
      val ids = sc.getPersistentRDDs.keySet.toSet -- before
      val keep = if (ids.nonEmpty) ids.max else -1
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (ids.contains(id) && id != keep) rdd.unpersist(false)
      }
      result
    }
  }

  /** Connected components by alternating large-star / small-star
    * contraction — the published MapReduce CC algorithm for the
    * trillion-edge regime (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014). Same contract as
    * [[connectedComponents]]: input near-dup pairs (id_a, id_b), output
    * (doc_id, cluster_id) with cluster_id = component-min id; singleton
    * docs (no pairs) do not appear.
    *
    * Why a second distributed path: [[distributedMinLabel]] keeps a
    * label row per NODE alive through every round and ships the full
    * frontier each iteration; star contraction instead rewrites the
    * EDGE set, which shrinks geometrically as trees flatten — at 10^12
    * edges the per-round shuffle decays with the data instead of
    * staying O(V). Each round is two hash-agg + equi-join passes over
    * the current edges (no node-indexed state), so a skewed hub key is
    * ordinary AQE skew-join territory.
    *
    * Round = large-star then small-star:
    *  - large-star: over the bidirected edge list, every node u links
    *    each STRICTLY LARGER neighbor v to m(u) = min(Γ(u) ∪ {u}).
    *  - small-star: over canonical (hi > lo) edges, every hi-node u
    *    links its smaller neighbors and itself to m = min(Γ_lo(u)).
    * Both emit canonical (src > dst) edges with no self-loops, and both
    * preserve component connectivity (paper, Lemmas 1-2); the fixpoint
    * is a star per component centered at its min id. Convergence is
    * detected on the (count, order-independent checksum) of the edge
    * set — stable across one full round ⇒ fixpoint. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 25,
      onRound: Option[CCRoundProbe] = None): DataFrame = {
    val spark = pairs.sparkSession
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // canonicalize (src > dst), drop self-loops, null-check like the
    // min-label path: nulls must fail loudly, not vanish in the joins
    val raw = pairs.select(col("id_a").cast("long").as("a"),
        col("id_b").cast("long").as("b"))
      .localCheckpoint(true) // materialize expensive pair gen exactly once
    if (raw.filter(col("a").isNull || col("b").isNull).limit(1).count() > 0)
      throw new IllegalArgumentException(
        "connectedComponentsStar ids must cast to long without nulls " +
          "(non-numeric id column, or null ids in the pair set)")
    var edges = raw
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("src"),
        least(col("a"), col("b")).as("dst"))
      .distinct()
      .localCheckpoint(true)

    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = nbrs.groupBy(col("src").as("u"))
        .agg(min("dst").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // v > u >= m, so output is canonical and self-loop-free by shape
      nbrs.join(m, nbrs("src") === m("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("src").as("u")).agg(min("dst").as("mn"))
      val relinked = e.join(m, e("src") === m("u"))
        .filter(col("dst") =!= col("mn"))
        .select(col("dst").as("src"), col("mn").as("dst"))
      relinked.union(m.select(col("u").as("src"), col("mn").as("dst")))
        .distinct()
    }
    def fingerprint(e: DataFrame): (Long, Long) = {
      // bit_xor: order-independent, no ANSI overflow; the edge set is
      // DISTINCT, so xor self-cancellation cannot alias two sets that
      // differ by a duplicated edge
      val r = e.agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("chk")).head()
      (r.getLong(0), r.getLong(1))
    }

    var fp = fingerprint(edges)
    var iter = 0
    var converged = edges.isEmpty
    while (!converged && iter < maxIter) {
      val eBefore = fp._1
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nfp = fingerprint(next)
      converged = nfp == fp
      edges = next
      fp = nfp
      iter += 1
      // a star round exchanges the bidirected current edges (2E) for
      // the large-star neighbor-min agg, E for its relink join, and
      // ~E for the small-star pass — ∝ the CURRENT edge count, which
      // contraction shrinks geometrically (the whole point vs the
      // min-label loop's flat rounds)
      onRound.foreach(f => f(iter, 4 * eBefore, nfp._1))
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds " +
          s"(${fp._1} edges still present); raise maxIter")
    // fixpoint = stars centered at component mins: every non-root is a
    // src with exactly one dst (its root); roots appear only as dst
    val result = edges.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
      .union(edges.select(col("dst"), col("dst")).distinct())
      .localCheckpoint(true)
    val sc = spark.sparkContext
    val ids = sc.getPersistentRDDs.keySet.toSet -- before
    val keep = if (ids.nonEmpty) ids.max else -1
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (ids.contains(id) && id != keep) rdd.unpersist(false)
    }
    result
  }

  /** Incremental component merge — the daily dedup-state update: fold
    * NEW near-dup pairs into an EXISTING (doc_id, cluster_id) label
    * table without touching historical pairs. The label table is a
    * star summary of everything resolved so far (connectivity-
    * equivalent to the full pair history: doc—cluster edges), so
    * CC(labels-as-edges ∪ new pairs) equals CC(all pairs ever seen) —
    * the merge cost scales with |corpus| + |new pairs|, never with the
    * historical pair count. Output schema matches
    * [[connectedComponents]]. */
  def mergeComponents(labels: DataFrame, newPairs: DataFrame): DataFrame =
    connectedComponents(
      labels.select(col("doc_id").as("id_a"), col("cluster_id").as("id_b"))
        .unionByName(newPairs.select(col("id_a"), col("id_b"))))

  /** End-to-end corpus dedup: resolve near-dup pairs to clusters, keep
    * one canonical doc (min id) per cluster, pass uniques through. The
    * composite a training-data pipeline actually calls: pairs → CC →
    * anti-join of non-keepers against the corpus (one broadcast-able
    * small side: non-keepers ≈ dup count, not corpus size). */
  def applyDedup(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val nonKeepers = connectedComponents(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("_drop_id"))
    docs.join(nonKeepers, docs(idCol) === col("_drop_id"), "left_anti")
  }

  /** [[applyDedup]] with a PRIORITY keeper: within each near-dup
    * cluster the kept member maximizes `priorityCol` (ties → min id)
    * instead of being the min id — the production keeper rule when
    * cluster members differ in value (keep the longest copy, the
    * highest quality score, the preferred source; drop the rest).
    * Same sparse-pair contract as applyDedup: the keeper choice adds
    * one window over cluster MEMBERS only (rows ∝ docs appearing in
    * clusters, never the corpus — partitioned by cluster_id, so no
    * global sort), and the drop set stays broadcast-sized. */
  def applyDedupPriority(docs: DataFrame, idCol: String,
      priorityCol: String, pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = connectedComponents(pairs)
      .join(docs.select(col(idCol).as("doc_id"), col(priorityCol).as("_p")),
        "doc_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("_p").desc, col("doc_id"))
    val nonKeepers = members
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") > 1)
      .select(col("doc_id").as("_drop_id"))
    docs.join(nonKeepers, docs(idCol) === col("_drop_id"), "left_anti")
  }

  /** Incremental (ingest-time) dedup: drop incoming docs that are exact
    * or blocked-Jaccard near-duplicates of an EXISTING corpus — the
    * daily-ingestion shape, where the corpus side is orders of
    * magnitude larger than the batch. Both sides are collapsed to
    * distinct-text representatives before the block join (the corpus
    * side especially — it is assumed already dedup'd, but the incoming
    * batch may be duplicate-heavy), so join cost follows distinct
    * texts; member expansion is an equi-join on text hash. Expects both
    * frames projected to (doc_id, lang, lb, text); returns the kept
    * incoming rows.
    *
    * `broadcastIncoming` encodes the ingest contract (batch ≪ corpus):
    * the incoming representatives and the resulting drop set are
    * force-broadcast so the corpus side is only ever PROBED — scanned,
    * never shuffled. A caller deduplicating a batch too large to
    * broadcast (beyond Spark's 8 GB broadcast/driver limits) passes
    * false and the planner falls back to shuffle joins on both sides.
    *
    * `collapseCorpus` defaults to false — trusting the contract that
    * the corpus is already dedup'd keeps it a pure scan (no
    * corpus-wide aggregate exchange). Pass true for a corpus that may
    * itself be duplicate-heavy: results are identical either way
    * (drop sets are DISTINCT over hashes); the flag only moves the
    * cost between one corpus exchange and duplicate probe work. */
  def incrementalDedup(incoming: DataFrame, corpus: DataFrame,
      ngramN: Int, threshold: Double,
      broadcastIncoming: Boolean = true,
      collapseCorpus: Boolean = false): DataFrame = {
    def bc(df: DataFrame): DataFrame = if (broadcastIncoming) broadcast(df) else df
    // collapse on the cheap text hash FIRST, hash the word sets only
    // for the surviving representatives — per-word hashing cost then
    // follows distinct texts, like the join itself
    def hashedSets(df: DataFrame, collapse: Boolean) = {
      val h = withTextHash(
        df.select(col("doc_id"), col("lang"), col("lb"), col("text")), "text")
      val base = if (collapse) h.dropDuplicates("h", "lang", "lb") else h
      base.withColumn("wd",
          graft.functions.DedupExpressions.ngramHashSet(words(col("text")), ngramN))
        .withColumn("n", size(col("wd")))
        .drop("text")
    }
    val incReps = hashedSets(incoming, collapse = true)
    val corReps = hashedSets(corpus, collapse = collapseCorpus)
    // exact: any incoming text already in the corpus, regardless of
    // block. The corpus hash set is corpus-sized — never broadcast or
    // anti-join against it directly; instead probe the corpus with the
    // (small) incoming hash set, so only the intersection survives and
    // every join against the big side is a broadcast probe of its scan.
    val incH = incReps.select(col("h")).distinct()
    val exactH = corReps.select(col("h"))
      .join(bc(incH), Seq("h"), "left_semi").distinct()
    // near: representative-level blocked Jaccard against the corpus
    val inter = graft.functions.DedupExpressions
      .sortedLongIntersectSize(col("i.wd"), col("c.wd"))
    val nearH = bc(incReps.as("i"))
      .join(corReps.as("c"),
        col("i.lang") === col("c.lang") && col("i.lb") === col("c.lb")
          && col("i.wd").isNotNull && col("c.wd").isNotNull
          && least(col("i.n"), col("c.n"))
            >= lit(0.995 * threshold) * greatest(col("i.n"), col("c.n")))
      .filter(round(inter / (col("i.n") + col("c.n") - inter), 4) >= threshold)
      .select(col("i.h").as("h")).distinct()
    // drops ≤ |incoming batch's distinct texts| by construction
    incoming
      .join(bc(exactH.unionByName(nearH).distinct().as("d")),
        md5(col("text").cast("binary")) === col("d.h"), "left_anti")
  }

  // ---- SimHash -------------------------------------------------------

  /** 64-bit SimHash over word hashes: per-bit ±1 votes, sign → bit
    * (native single-pass expression, see SimHash64). */
  def simhash(ws: Column): Column =
    graft.functions.DedupExpressions.simhash64(ws)

  /** Near-dup pairs with Hamming distance ≤ 3 via 4×16-bit band blocking.
    * Complete by pigeonhole: ≤3 differing bits cannot touch all 4 bands,
    * so every qualifying pair collides in ≥1 band — unlike MinHash LSH
    * this blocking loses no recall.
    *
    * The band self-join runs over DISTINCT signatures, not documents:
    * exact-duplicate-heavy corpora (the common case at scale) would
    * otherwise flood every band bucket with c copies of the same
    * signature and pay 4·c² inflated join rows plus a dedup shuffle.
    * Collapsed, the join cost follows unique signatures; member
    * expansion afterwards is bounded by the OUTPUT pair count, which
    * is the semantic floor. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // signatures are computed once per DISTINCT text (the md5-per-word
    // bit votes are the expensive projection) and propagated to members
    // by text hash; the propagation join moves ids and hashes only.
    // The collapse itself (dropDuplicates on h) does exchange one copy
    // of each partition-distinct text — the right trade for a DEDUP
    // operator, whose expected regime is distinct ≪ total; an
    // all-distinct corpus pays that one text exchange for no hashing
    // savings.
    val hashed = withTextHash(
      docs.select(col(idCol).as("id"), col(textCol).as("text")), "text")
    val repSim = hashed.dropDuplicates("h")
      .select(col("h"), simhash(words(col("text"))).as("sim"))
    val sh = hashed.select("id", "h").join(repSim, "h").select("id", "sim")
    val sims = sh.select("sim").distinct()
    // band id and 16-bit slice packed into ONE long key (idx<<16 | val)
    val banded = sims.withColumn("band_val", explode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sim"), b * 16).bitwiseAND(lit(0xFFFFL))
          + lit(b.toLong << 16)): _*)))
      .select(col("sim"), col("band_val"))
    // signature-pair candidates (canonical sim_a < sim_b), Hamming-
    // verified before any member expansion
    val simPairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band_val") === col("b.band_val")
          && col("a.sim") < col("b.sim"))
      .select(col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .dropDuplicates("sim_a", "sim_b")
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
    // identical-signature pairs: Hamming 0 by definition — a sim-keyed
    // self-join emits each member pair exactly once
    val within = sh.as("x")
      .join(sh.as("y"), col("x.sim") === col("y.sim") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(0).cast("int").as("hamming"))
    // cross-signature expansion: every member pair inherits the
    // signature pair's Hamming distance
    val across = simPairs
      .join(sh.as("ma"), col("sim_a") === col("ma.sim"))
      .join(sh.as("mb"), col("sim_b") === col("mb.sim"))
      .select(least(col("ma.id"), col("mb.id")).as("id_a"),
        greatest(col("ma.id"), col("mb.id")).as("id_b"),
        col("hamming"))
    within.unionByName(across)
  }

  /** Asymmetric containment: for every distinct text, its best
    * container (the text maximizing |a ∩ b| / |a| over SHINGLE sets;
    * ties → min id). Catches the near-dup class length-blocked
    * Jaccard deliberately skips — a short doc wholly embedded in a
    * longer one (boilerplate wrapper, quote expansion) has low
    * Jaccard but containment ≈ 1.
    *
    * Sets are TRIGRAM SHINGLES (Broder's shingling — order-sensitive,
    * and the shingle universe is the vocabulary cubed, so document
    * frequencies spread far thinner than unigram dfs; on a
    * small-vocabulary corpus this is the difference between bounded
    * postings and a quadratic join — bigrams measured 25 s at sf0.1,
    * trigrams collapse the shared-shingle pair space another ~30×).
    * Candidates via PREFIX FILTERING
    * (the PPJoin containment-join scheme): each text indexes its
    * ⌊prefixFrac·|set|⌋+1 RAREST shingles (global df order, hash
    * tiebreak); a pair is generated iff a container holds one of the
    * contained side's prefix shingles — complete for containment ≥
    * 1 − prefixFrac, because dropping more than that fraction cannot
    * remove the whole rarest prefix. Under any Zipfian vocabulary the
    * prefix postings are the short tail; ubiquitous shingles are
    * probed but never pairwise-expanded. Verification is the exact
    * sorted-hash-set intersect. Texts under 3 words have no shingles
    * and drop out (short-text dups are dedup_exact's regime). */
  def containmentBestContainer(docs: DataFrame, idCol: String,
      textCol: String, prefixFrac: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.DedupExpressions
    import graft.functions.TextFunctions.words
    val t = docs
      .select(col(idCol).as("did"), md5(col(textCol).cast("binary")).as("h"),
        col(textCol).as("text"))
      .groupBy("h")
      .agg(min("did").as("rid"), min_by(col("text"), col("did")).as("text"))
      .select(col("rid"), col("h"),
        DedupExpressions.ngramHashSet(words(col("text")), 3).as("w"))
      .filter(size(col("w")) >= 1)
    val g = t.select(col("h"), explode(col("w")).as("gh"))
    val dfc = g.groupBy("gh").agg(count(lit(1)).as("df"))
    // tiebreak on the UNSIGNED hash order (sign bit flipped): the
    // shingle hashes are the same 64 bits in both engines, but Spark
    // holds them signed and DuckDB unsigned — a raw ORDER BY gh would
    // pick different prefixes on a df tie
    val pref = g.join(dfc, "gh")
      .join(t.select(col("h"), size(col("w")).as("len")), "h")
      .withColumn("rn", row_number().over(
        Window.partitionBy("h")
          .orderBy(col("df"), col("gh").bitwiseXOR(lit(Long.MinValue)))))
      .filter(col("rn") <= floor(col("len") * prefixFrac) + 1)
      .select(col("h").as("ha"), col("gh"))
    val cand = pref
      .join(g.select(col("h").as("hb"), col("gh")), "gh")
      .filter(col("ha") =!= col("hb"))
      .select("ha", "hb").distinct()
    val v = cand
      .join(t.select(col("h").as("ha"), col("rid").as("ra"), col("w").as("wa")), "ha")
      .join(t.select(col("h").as("hb"), col("rid").as("rb"), col("w").as("wb")), "hb")
      .select(col("ra"), col("rb"),
        round(DedupExpressions.sortedLongIntersectSize(col("wa"), col("wb"))
          / size(col("wa")), 4).as("containment"))
    v.withColumn("rk", row_number().over(
        Window.partitionBy("ra")
          .orderBy(col("containment").desc, col("rb"))))
      .filter(col("rk") === 1)
      .select(col("ra").as("doc_id"), col("rb").as("container_id"),
        col("containment"))
  }
}
