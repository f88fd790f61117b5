package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextAnalysis

/** Deduplication operators over `documents` — the training-data-pipeline
  * core (BASELINE.json north star). Five tiers:
  *
  *  - exact (hash-groupBy on normalized text)
  *  - token-set (order-insensitive exact)
  *  - n-gram Jaccard (inverted shingle index self-join, exact verify)
  *  - MinHash + banded LSH (signature → band buckets → candidate join →
  *    exact verify) — the 100 TB path: candidate generation touches only
  *    band-bucket collisions, never the n² pair space
  *  - SimHash (bitwise near-dup fingerprint; Hamming-ball matching)
  *
  * MinHash here is built on md5 (a deterministic, engine-portable hash) so
  * the whole LSH pipeline has an exact DuckDB oracle; xxhash64 would be
  * faster but unverifiable. Swap `HashFn` for production.
  *
  * Scale notes: every stage is shuffle-by-key (shingle, band, pair) with
  * map-side partial aggregation; `DfCap` bounds inverted-index skew — at
  * 100 TB ubiquitous shingles (df in the millions) would otherwise create
  * quadratic bucket blowups. Verification is restricted to candidate
  * pairs, so it is linear in candidates, not pairs.
  */
object Dedup {

  /** Shingle width for near-dup detection. */
  val ShingleN = 3

  /** Document-frequency cap for candidate generation (no-op at test SFs,
    * the safety valve at scale). */
  val DfCap = 10000

  /** Number of MinHash functions and LSH band layout (16 = 8 bands × 2). */
  val NumHashes = 16
  val Bands = 8

  /** doc_id → its distinct-shingle ARRAY, built entirely IN-ROW
    * (transform + array_distinct over the doc's own token array): ZERO
    * exchanges — the r15 shape exploded to (doc, shingle) rows, paid a
    * corpus-wide distinct() shuffle plus a doc_id repartition, and then
    * re-aggregated per doc THREE separate ways downstream (the 16-way
    * md5-min signature groupBy, the verify's collect_list set build, the
    * max-shingles count agg). Each of those is now a per-row expression
    * over this one relation (guide §2.4 remove shuffles outright / §4
    * codegen-friendly built-ins). Memory posture: a doc's array is
    * bounded by ~3× its own text column — the same row that already
    * flows through the scan — unlike the old cross-row collect_list
    * whose aggregation buffers crossed a shuffle; the per-PAIR
    * duplication hazard in verify keeps its huge-doc split unchanged.
    * Persisted + memoized per (session, dir): every near-dup pipeline
    * references it 3-4×. At 100 TB this is the "shingle index" table
    * you'd materialize to storage once per corpus. */
  def shingleArrays(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.get(spark, "dedup-shingle-arrays", dir) {
      Tables.spread(spark, Tables.load(spark, dir, "documents"))
        .withColumn("toks", TextAnalysis.tokens)
        .filter(size(col("toks")) >= ShingleN)
        .select(col("doc_id"), array_distinct(
          transform(sequence(lit(0), size(col("toks")) - ShingleN),
            i => concat_ws(" ", (0 until ShingleN).map(j => element_at(col("toks"), i + j + 1)): _*)))
          .as("ss"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** doc_id → distinct shingles, one row per (doc, shingle) — now a pure
    * explode VIEW over the persisted [[shingleArrays]] (same rows: the
    * array is exactly the doc's distinct shingle set). Only the inverted-
    * index pass ([[ngramPairStats]]) still needs the exploded shape; it
    * re-explodes from the columnar cache, which costs no shuffle. */
  def shingles(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.get(spark, "dedup-shingles", dir) {
      shingleArrays(spark, dir)
        .select(col("doc_id"), explode(col("ss")).as("s"))
    }

  /** Exact dedup: md5-groupBy, representative = min doc_id (deterministic
    * keep-first). Returns one row per distinct content. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(md5(lower(trim(col("text")))).as("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select("keep_doc_id", "n_copies")
      .orderBy("keep_doc_id")

  /** Normalization-dedup report: how much content collapses when the
    * fingerprint canonicalizes first — lowercase, every non-alphanumeric
    * run to one space, trim — vs the raw exact fingerprint. The standard
    * pass a pipeline runs before near-dup detection (exact() alone
    * misses "Hello,  world!" vs "hello world"); n_merged quantifies the
    * punctuation/casing duplicate mass. One scan, one multi-distinct
    * aggregation (a single Expand, plan-audited for the stats tier); the
    * regex class [^a-z0-9]+ means the same thing to Java regex and RE2,
    * so the fingerprints are engine-portable. */
  def normalizedDedupReport(spark: SparkSession, dir: String): DataFrame =
    normalizedDedupReportOf(Tables.load(spark, dir, "documents"))

  def normalizedDedupReportOf(docs: DataFrame): DataFrame =
    docs
      .select(md5(lower(trim(col("text")))).as("e"),
        md5(trim(regexp_replace(lower(col("text")),
          "[^a-z0-9]+", " "))).as("nrm"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("e")).as("n_exact"),
        countDistinct(col("nrm")).as("n_normalized"))
      .select(col("n_docs"), col("n_exact"), col("n_normalized"),
        (col("n_exact") - col("n_normalized")).as("n_merged"))

  /** Token-set dedup: same distinct token multiset-insensitive content
    * (sorted distinct tokens) — catches shuffled word order. Emits only
    * groups with >1 member. */
  def tokenSetDups(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, Tables.load(spark, dir, "documents"))
      .groupBy(md5(concat_ws(" ",
        array_sort(array_distinct(TextAnalysis.tokens)))).as("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select("keep_doc_id", "n_copies")
      .orderBy("keep_doc_id")

  /** Exact Jaccard over candidate pairs: given (doc_id, s) shingle sets and
    * a candidate pair set (d1 < d2), compute |A∩B| / |A∪B|.
    *
    * The shingle relation is pruned to candidate PARTICIPANTS before any
    * heavy join: the distinct doc ids appearing in a pair are bounded by
    * 2×|candidates| (dup-mass-proportional, corpus-size-independent), so
    * AQE broadcasts the semi-join from runtime stats and the
    * corpus-sized `sh` is never shuffled — without it the (d2, s)-keyed
    * intersection join re-shuffles EVERY shingle of EVERY document,
    * which at the 100× slice spilled ~70 GB and filled the disk (the
    * sf0.1 plan hid it by broadcasting the then-small pair side). No
    * explicit broadcast hint: an adversarial corpus whose dup mass
    * itself is huge must degrade to a shuffled semi-join, not OOM.
    * Pruning is semantics-free: docs in no candidate pair can
    * contribute neither commons nor the n1/n2 sizes of any emitted
    * row. */
  /** Per-doc shingle-count cap for the ARRAY verification path below: a
    * doc with more distinct shingles than this would fold into ONE
    * unsplittable multi-MB array row (built inside a single collect_list
    * group, then duplicated once per candidate pair it appears in) — a
    * per-task memory spike under adversarial input. Docs above the cap
    * are excluded BEFORE collect_list and their pairs verified on the
    * streamed row-based path instead, so one pathological document can
    * never dominate task memory while the normal dup mass keeps the
    * |candidates|-row array plan. 1<<16 shingles ≈ 1 MB of array per
    * row — orders of magnitude above any real document here (sf* max
    * is ~10² shingles), so every bench/oracle plan is pure array-path
    * and the split is semantics-free by construction (both paths
    * compute the same exact |A∩B|, |A|, |B|). */
  // def, not val: read per plan-build so a test (or an operator rerun
  // after a config change) picks the current setting up without a JVM
  // restart.
  private[graft] def verifyShingleArrayCap: Int =
    sys.props.get("spark.graft.dedup.verify.arrayCap").map(_.toInt)
      .getOrElse(1 << 16)

  /** Corpus-wide max distinct-shingle count per doc — the ONE scalar the
    * huge-doc split below is gated on. Memoized per dir (cap-independent,
    * compared at plan-build time) and computed as a single count-max
    * aggregation over the already-persisted shingle relation, so the
    * whole MinHash family pays it once per JVM instead of every verify
    * call paying the split's plumbing. Conservative by construction: the
    * corpus max bounds every participant subset's max, so "corpus max ≤
    * cap" proves no verify call can ever meet a huge doc. */
  private[graft] def maxDocShingles(spark: SparkSession, dir: String): Long =
    graft.Memo.get(spark, "dedup-max-shingles", dir) {
      // size() of the per-doc distinct array ≡ the old per-doc count of
      // exploded distinct rows; no groupBy needed over the array layout.
      shingleArrays(spark, dir)
        .agg(max(size(col("ss"))).cast("long")).head().getLong(0)
    }

  private def verifyJaccard(shArr: DataFrame, candidates: DataFrame,
                            threshold: Double, anyHuge: Boolean): DataFrame =
    verifyJaccardScores(shArr, candidates, anyHuge)
      .filter(col("jacc") >= threshold)
      .select("d1", "d2", "jacc")
      .orderBy("d1", "d2")

  /** The exact-verify core of [[verifyJaccard]] WITHOUT the threshold
    * filter or boundary sort: every LSH candidate pair with its exact
    * Jaccard. Split out so the full-corpus pipeline can materialize ONE
    * threshold-free score relation ([[minhashCandidateScores]]) that
    * every consumer threshold filters — the filter commutes with
    * everything here (jacc is a pure function of the pair), so
    * filter-after-materialize emits bit-identical rows. */
  private def verifyJaccardScores(shArr: DataFrame, candidates: DataFrame,
                                  anyHuge: Boolean): DataFrame = {
    val participants = candidates.select(col("d1").as("doc_id"))
      .unionAll(candidates.select(col("d2").as("doc_id"))).distinct()
    val shp = shArr.join(participants, Seq("doc_id"), "left_semi")
    // One ARRAY row per participant doc, intersected per pair — never
    // the (pair × shingle) expansion: candidates are dup-mass-linear
    // but each carries ~|shingle set| rows through two joins, and the
    // second join re-shuffles that product by (d2, s). Measured at the
    // 30× slice: 236M- and 116M-row intermediates for 4.6M candidates
    // (executed-plan metrics, SCALING.md); at 100× the sort spill of
    // that product filled the disk. As doc-keyed array joins the flowing
    // relation stays |candidates| rows; the doc-set side is
    // participants-bounded, so AQE broadcasts it at bench scales and
    // degrades to a doc-keyed (never shingle-keyed) shuffle when the dup
    // mass itself is huge.
    // array_intersect is exact here — shingle rows are distinct per doc.
    //
    // The adversarial huge-doc split (the `anyHuge` branch) exists
    // because a doc above the array cap folds into ONE unsplittable
    // multi-MB collect_list row — but its plumbing (a sizes aggregation,
    // two anti-joins, a double semi-join + distinct over candidates and
    // a row-path join chain) is NOT free even when the huge set is
    // empty: Spark plans and partially executes all of it, and at sf0.1
    // that cost the whole MinHash family 3-6× (round-11 A/B). So the
    // split is built ONLY when the corpus max (one memoized scalar,
    // [[maxDocShingles]]) actually exceeds the cap; every real corpus
    // (max ~10² vs cap 2¹⁶) takes the pure array plan below.
    val counted = if (!anyHuge) {
      // The per-doc set arrays are the persisted relation's own rows now —
      // the r15 shape rebuilt them per verify via a collect_list groupBy
      // (one more exchange + per-group array build). array_intersect/size
      // are order-insensitive over distinct elements, so c/n1/n2 — and
      // the jacc double — are bit-identical to the aggregated form.
      val docSets = shp
      candidates
        .join(docSets.select(col("doc_id").as("d1"), col("ss").as("ss1")),
          "d1")
        .join(docSets.select(col("doc_id").as("d2"), col("ss").as("ss2")),
          "d2")
        .select(col("d1"), col("d2"),
          size(array_intersect(col("ss1"), col("ss2")))
            .cast("long").as("c"),
          size(col("ss1")).cast("long").as("n1"),
          size(col("ss2")).cast("long").as("n2"))
    } else {
      // Exact per-doc set sizes first (size() of the stored array — no
      // aggregation) — they gate the huge-doc split and serve as n1/n2
      // on the row path.
      val sizes = shp.select(col("doc_id"),
        size(col("ss")).cast("long").as("n"))
      val hugeIds = sizes.filter(col("n") > verifyShingleArrayCap)
        .select("doc_id")
      val docSets = shp.join(hugeIds, Seq("doc_id"), "left_anti")
      val arrayPairs = candidates
        .join(hugeIds.select(col("doc_id").as("d1")), Seq("d1"), "left_anti")
        .join(hugeIds.select(col("doc_id").as("d2")), Seq("d2"), "left_anti")
      val arrayCounted = arrayPairs
        .join(docSets.select(col("doc_id").as("d1"), col("ss").as("ss1")),
          "d1")
        .join(docSets.select(col("doc_id").as("d2"), col("ss").as("ss2")),
          "d2")
        .select(col("d1"), col("d2"),
          size(array_intersect(col("ss1"), col("ss2")))
            .cast("long").as("c"),
          size(col("ss1")).cast("long").as("n1"),
          size(col("ss2")).cast("long").as("n2"))
      // Row-based fallback for pairs touching a huge doc: the (pair ×
      // shingle) expansion is restricted to THOSE pairs only, and it
      // flows as ordinary splittable/spillable rows (a shuffled
      // semi-join on (d2, s)) rather than one giant in-memory array.
      // Exact whenever it runs.
      // Explicit selects on both arms: a usingColumns join puts the join
      // key FIRST in its output, so the d2 arm would emit (d2, d1) and
      // the positional unionAll would mirror every pair.
      val hugePairs = candidates
        .join(hugeIds.select(col("doc_id").as("d1")), Seq("d1"), "left_semi")
        .select("d1", "d2")
        .unionAll(candidates
          .join(hugeIds.select(col("doc_id").as("d2")), Seq("d2"),
            "left_semi")
          .select("d1", "d2"))
        .distinct()
      val shpRows = shp.select(col("doc_id"), explode(col("ss")).as("s"))
      val rowCounted = shpRows.select(col("doc_id").as("d1"), col("s"))
        .join(hugePairs.select("d1", "d2"), Seq("d1"))
        .join(shpRows.select(col("doc_id").as("d2"), col("s")),
          Seq("d2", "s"), "left_semi")
        .groupBy("d1", "d2").agg(count(lit(1)).as("c"))
        // right join keeps zero-intersection huge pairs (c = 0) so a
        // threshold of 0.0 still sees them, matching the array path.
        .join(hugePairs.select("d1", "d2"), Seq("d1", "d2"), "right")
        .na.fill(0L, Seq("c"))
        .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
        .select(col("d1"), col("d2"), col("c").cast("long").as("c"),
          col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"))
      arrayCounted.unionByName(rowCounted)
    }
    counted
      // Raw IEEE-754 division of exact longs — bit-identical in Spark and
      // DuckDB, unlike round() whose half-rule differs between engines.
      .withColumn("jacc", col("c").cast("double") /
        (col("n1") + col("n2") - col("c")))
      .select("d1", "d2", "jacc")
  }

  /** n-gram Jaccard near-dup pairs in ONE df-bounded pass: self-join the
    * shingle index restricted to shingles with 2 ≤ df ≤ DfCap, count common
    * shingles per pair, jaccard against the full per-doc sizes.
    *
    * Why this is exact here and safe at scale: a shingle common to two
    * docs has df ≥ 2 by definition, so whenever DfCap ≥ max df the common
    * count is the true |A∩B|; when the cap does prune (pathological hot
    * shingles at 100 TB), the join cost stays ≤ DfCap × |index| and the
    * score degrades to df-capped jaccard — the documented semantics, and
    * the oracle mirrors it. One shuffle on shingle, one on pair; no
    * candidate materialization + re-join (3 joins → 1). */
  def ngramJaccardPairs(spark: SparkSession, dir: String,
                        threshold: Double = 0.8): DataFrame =
    ngramPairStats(spark, dir)
      .filter(col("jacc") >= threshold)
      .select("d1", "d2", "jacc")
      .orderBy("d1", "d2")

  /** The df-capped inverted-index candidate relation with its exact
    * intersection/size/jaccard columns (d1, d2, c, n1, n2, jacc) — NO
    * threshold — memoized + persisted per dir: the symmetric Jaccard row
    * and the containment row built this identical relation independently
    * (two full shingle self-joins per bench run; r15). Both consumers'
    * filters commute with everything here, so their rows are
    * bit-identical. Size is df-capped-candidate-bounded, the documented
    * 100 TB posture of this pass.
    *
    * Retention (r15 advice #1, applies equally to
    * [[minhashCandidateScores]]): these threshold-free candidate
    * relations persist MEMORY_AND_DISK for the SparkContext lifetime —
    * graft.Memo's only eviction is context stop. Under adversarial dup
    * mass the persisted footprint exceeds any one consumer's filtered
    * output; the bound is the df-capped candidate count (≤ DfCap ×
    * |index| pairs here, LSH-band collisions there), which is the same
    * bound the COMPUTE of every consumer already pays, so persisting
    * never makes an intractable corpus tractable-looking — it only
    * moves where the pairs live. MEMORY_AND_DISK (not DISK_ONLY)
    * because the block manager spills to disk by itself under memory
    * pressure; a long-lived multi-corpus service would key eviction on
    * dir-LRU, which Memo deliberately does not implement for the
    * single-dir bench/verify lifecycle. */
  private[graft] def ngramPairStats(spark: SparkSession,
                                    dir: String): DataFrame =
    graft.Memo.get(spark, "dedup-ngram-stats", dir) {
      val sh = shingles(spark, dir)
      val dfs = sh.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") <= DfCap && col("df") >= 2)
      val joinable = sh.join(dfs.select("s"), "s")
      val common = joinable.select(col("doc_id").as("d1"), col("s"))
        .join(joinable.select(col("doc_id").as("d2"), col("s")), "s")
        .filter(col("d1") < col("d2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("c"))
      // Per-doc sizes read off the stored arrays (≡ the old exploded
      // count agg) — one less corpus-wide groupBy.
      val sizes = shingleArrays(spark, dir).select(col("doc_id"),
        size(col("ss")).cast("long").as("n"))
      common
        .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
        .withColumn("jacc", col("c").cast("double") /
          (col("n1") + col("n2") - col("c")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Asymmetric CONTAINMENT detection — the wrapped-copy case symmetric
    * Jaccard structurally misses: a short document embedded whole
    * inside a longer one (boilerplate-wrapped articles, quoted posts,
    * template-padded pages) has |A∩B|/|A| ≈ 1 while |A∩B|/|A∪B| stays
    * low. Reports ordered (inner, outer) pairs with shingle containment
    * ≥ `threshold` that the symmetric pass (Jaccard ≥ 0.8) does NOT
    * flag — i.e. exactly the extra recall the asymmetric measure buys.
    * Same df-capped inverted shingle index as the Jaccard pass (one
    * shared candidate relation, never all-pairs); the containment
    * arithmetic is two exact integer divisions per candidate. */
  def containmentPairs(spark: SparkSession, dir: String,
                       threshold: Double = 0.9): DataFrame = {
    ngramPairStats(spark, dir)
      .filter(col("jacc") < 0.8) // the symmetric pass owns these
      .select(
        when(col("n1") <= col("n2"), col("d1")).otherwise(col("d2"))
          .as("inner_doc"),
        when(col("n1") <= col("n2"), col("d2")).otherwise(col("d1"))
          .as("outer_doc"),
        (col("c").cast("double") / least(col("n1"), col("n2")))
          .as("containment"),
        col("jacc"))
      .filter(col("containment") >= threshold)
      .orderBy("inner_doc", "outer_doc")
  }

  /** Default candidate thresholds for [[thresholdSweep]] — shared with
    * its oracle SQL generator so the twin cannot drift from the Scala
    * default. */
  val SweepThresholds: Seq[Double] = Seq(0.7, 0.8, 0.9)

  /** Threshold sensitivity sweep — the tuning table a dedup threshold
    * is chosen FROM: verified pair count and distinct docs affected at
    * each candidate Jaccard threshold, from ONE pass of the pair
    * pipeline at the lowest threshold (higher thresholds are subsets —
    * no re-verification). ONE scan, ZERO driver actions: each pair
    * explodes into its two doc rows (the d1 row tagged as the pair
    * owner so pairs count once), a per-doc aggregate folds max(jacc)
    * plus per-threshold owned-pair counts (map-side combinable), and a
    * single global fold produces every threshold's `n_pairs`
    * (sum of owned counts) and `n_docs_affected` (docs whose best pair
    * clears the bar) — then one bounded explode lays the row-per-
    * threshold shape. At 100 TB the verify relation streams through
    * two combinable aggregations; nothing is recomputed per threshold
    * and nothing returns to the driver. */
  def thresholdSweep(spark: SparkSession, dir: String,
                     thresholds: Seq[Double] = SweepThresholds)
      : DataFrame = {
    val ts = thresholds.sorted
    val base = minhashPairsUnsorted(spark, dir, ts.min)
    // Single-pass doubling via explode, NOT a self-unionAll: union
    // branches are separate subtrees, and with the verify's joins
    // broadcast there is no reusable exchange between them — a union
    // here executes the whole candidate+verify pipeline TWICE
    // (confirmed in the executed plan at 30×). The explode keeps one subtree.
    val exploded = base.select(explode(array(
        struct(col("d1").as("d"), col("jacc"), lit(true).as("own")),
        struct(col("d2").as("d"), col("jacc"), lit(false).as("own"))))
        .as("x"))
      .select(col("x.d").as("d"), col("x.jacc").as("jacc"),
        col("x.own").as("own"))
    val perDocAggs = max(col("jacc")).as("mj") +:
      ts.zipWithIndex.map { case (t, i) =>
        sum(when(col("own") && col("jacc") >= t, 1L).otherwise(0L))
          .as(s"p$i")
      }
    val perDoc = exploded.groupBy("d")
      .agg(perDocAggs.head, perDocAggs.tail: _*)
    val globalAggs = ts.zipWithIndex.flatMap { case (t, i) =>
      Seq(sum(col(s"p$i")).as(s"np$i"),
        sum(when(col("mj") >= t, 1L).otherwise(0L)).as(s"nd$i"))
    }
    val rows = ts.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("threshold"),
        coalesce(col(s"np$i"), lit(0L)).as("n_pairs"),
        coalesce(col(s"nd$i"), lit(0L)).as("n_docs_affected"))
    }
    perDoc.agg(globalAggs.head, globalAggs.tail: _*)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.threshold").as("threshold"),
        col("r.n_pairs").as("n_pairs"),
        col("r.n_docs_affected").as("n_docs_affected"))
      .orderBy("threshold")
  }

  /** MinHash signature: for each doc, NumHashes column-mins of
    * md5("<i>|<shingle>") — one groupBy pass, no explode of hash index.
    * Memoized like shingles (same repeated-invocation argument). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.get(spark, "dedup-minhash-sig", dir) {
      // Per-ROW min-hash kernel: array_min over the doc's own shingle
      // array — the r15 shape was a corpus-wide 16-column md5-min groupBy
      // over the exploded relation (an exchange + wide agg buffers).
      // min-aggregate over a group ≡ array_min over the array holding
      // exactly that group's (distinct, non-null) values, so every h_i is
      // bit-identical. Same md5 count per shingle either way (§4:
      // codegen-friendly expressions, no shuffle).
      val mins = (0 until NumHashes).map(i =>
        array_min(transform(col("ss"),
          s => md5(concat(lit(s"$i|"), s)))).as(s"h$i"))
      shingleArrays(spark, dir).select(col("doc_id") +: mins: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Banded bucket relation (doc_id, band, key) over the MinHash
    * signatures — the LSH candidate index both the full-corpus pair
    * pass and the incremental batch gate read. */
  private def bandBuckets(sig: DataFrame): DataFrame = {
    val rowsPerBand = NumHashes / Bands
    val bandCols = (0 until Bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat(parts: _*)).as("key"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
  }

  /** Every full-corpus LSH candidate pair with its exact Jaccard — NO
    * threshold — memoized + persisted per dir (the srp-pairs convention
    * in [[graft.similarity.Similarity]], which this tier lacked): the
    * audit probe, the lsh/cross-source/near-contamination rows and the
    * threshold sweep each re-executed the whole candidates+verify
    * pipeline otherwise (r15 job profile: 58 jobs in the audit's
    * dedup_minhash chain alone). One threshold-free relation serves all
    * of them — including the sweep's lower 0.7 bound — because the
    * threshold is a pure filter over these rows. Size is LSH-candidate-
    * bounded (dup-mass-linear, never n²), the same posture the persisted
    * signature relation already holds at 100 TB. */
  private[graft] def minhashCandidateScores(spark: SparkSession,
                                            dir: String): DataFrame =
    graft.Memo.get(spark, "dedup-minhash-cand", dir) {
      val sh = shingleArrays(spark, dir)
      val buckets = bandBuckets(minhashSignatures(spark, dir))
      val candidates = buckets
        .select(col("doc_id").as("d1"), col("band"), col("key"))
        .join(buckets.select(col("doc_id").as("d2"), col("band"), col("key")),
          Seq("band", "key"))
        .filter(col("d1") < col("d2"))
        .select("d1", "d2").distinct()
      verifyJaccardScores(sh, candidates,
        anyHuge = maxDocShingles(spark, dir) > verifyShingleArrayCap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Banded LSH candidates + exact verify. Band key = md5 of its rows'
    * concatenated mins; docs sharing any band bucket become candidates.
    * A threshold filter over the one memoized score relation — row-for-
    * row identical to the old inline pipeline (the filter commutes with
    * the verify; same doubles, same order). */
  def minhashLshPairs(spark: SparkSession, dir: String,
                      threshold: Double = 0.8): DataFrame =
    minhashPairsUnsorted(spark, dir, threshold).orderBy("d1", "d2")

  /** [[minhashLshPairs]] without the boundary sort — for internal
    * consumers (joins, aggregations, propagation inits) where a global
    * orderBy is a wasted range exchange. */
  private def minhashPairsUnsorted(spark: SparkSession, dir: String,
                                   threshold: Double): DataFrame =
    minhashCandidateScores(spark, dir)
      .filter(col("jacc") >= threshold)
      .select("d1", "d2", "jacc")

  /** Cross-source near-duplicate matrix: where duplication comes FROM —
    * MinHash-verified near-dup pairs attributed to their (source_a,
    * source_b) combination, unordered (least/greatest) so each source
    * pair is one row. The mirror-crawl detector: heavy off-diagonal
    * cells mean two feeds scrape the same upstream, and the diagonal is
    * within-source duplication. Reuses the banded-LSH pair pipeline
    * (never candidate×candidate); the source lookup is two doc_id-keyed
    * joins against the narrow (doc_id, source) projection. */
  def crossSourceMatrix(spark: SparkSession, dir: String,
                        threshold: Double = 0.8): DataFrame = {
    val src = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    minhashPairsUnsorted(spark, dir, threshold)
      .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
      .select(least(col("s1"), col("s2")).as("source_a"),
        greatest(col("s1"), col("s2")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** NEAR-duplicate decontamination — the fuzzy counterpart of the
    * exact-fingerprint `text_contamination` gate: a training doc that is
    * an 80%-Jaccard near-copy of a benchmark doc leaks the benchmark
    * just as surely as a byte-identical one, and frontier pipelines run
    * exactly this MinHash pass against their eval sets before release.
    * Reuses the banded LSH + exact-verify pair pipeline, keeping only
    * pairs with EXACTLY ONE side in the benchmark set (benchmark-vs-
    * benchmark and train-vs-train pairs are other queries' business).
    * The benchmark id set rides as a literal IN-list — eval sets are
    * small by nature; at scale this stays a broadcast semi-filter, never
    * a join reshuffle. */
  def nearContamination(spark: SparkSession, dir: String,
                        threshold: Double = 0.8,
                        benchmarkIds: Seq[Long] =
                          TextAnalysis.BenchmarkDocIds): DataFrame = {
    val ids = benchmarkIds.map(java.lang.Long.valueOf)
    val b1 = col("d1").isin(ids: _*)
    val b2 = col("d2").isin(ids: _*)
    minhashPairsUnsorted(spark, dir, threshold)
      .filter(b1 =!= b2)
      .select(
        when(b1, col("d2")).otherwise(col("d1")).as("doc_id"),
        when(b1, col("d1")).otherwise(col("d2")).as("benchmark_doc_id"),
        col("jacc"))
      .orderBy("doc_id", "benchmark_doc_id")
  }

  /** Incremental ingestion dedup gate — the decision a pipeline makes
    * for EVERY incoming batch: is each new document an exact copy of
    * the existing corpus, a near-duplicate of it, or genuinely new?
    * The "new batch" here is the top fifth of the doc_id range (an
    * exact integer cut, oracle-identical); production swaps in the
    * actual batch frame.
    *
    * Scale shape — this is the operator where the LSH index pays off:
    * the exact gate is a fingerprint semi-join of the (small) batch
    * against the corpus fingerprint set, and the near gate joins ONLY
    * the batch's band buckets against the corpus's persisted buckets
    * (the memoized signature relation) — candidates are batch×bucket
    * collisions, never corpus×corpus, and only those candidates pay
    * the exact-Jaccard verify. Within-batch duplicates are
    * deliberately out of scope (the ordinary dedup pass owns them).
    * Verdict precedence: exact beats near beats unique. */
  def incrementalDedup(spark: SparkSession, dir: String,
                       threshold: Double = 0.8): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    val cutDf = docs.agg(expr("(max(doc_id) * 4) div 5").as("cut"))
    val fp = md5(lower(trim(col("text"))))
    val withCut = docs.select(col("doc_id"), fp.as("fp"))
      .crossJoin(broadcast(cutDf))
    val newFp = withCut.filter(col("doc_id") > col("cut"))
      .select("doc_id", "fp")
    val oldFp = withCut.filter(col("doc_id") <= col("cut"))
      .select("fp").distinct()
    val exactIds = newFp.join(oldFp, Seq("fp"), "left_semi")
      .select(col("doc_id")).withColumn("ex", lit(1))
    val buckets = bandBuckets(minhashSignatures(spark, dir))
      .crossJoin(broadcast(cutDf))
    val cand = buckets.filter(col("doc_id") > col("cut"))
      .select(col("doc_id").as("d2"), col("band"), col("key"))
      .join(buckets.filter(col("doc_id") <= col("cut"))
        .select(col("doc_id").as("d1"), col("band"), col("key")),
        Seq("band", "key"))
      .select("d1", "d2").distinct()
    val nearIds = verifyJaccard(shingleArrays(spark, dir), cand, threshold,
        anyHuge = maxDocShingles(spark, dir) > verifyShingleArrayCap)
      .select(col("d2").as("doc_id")).distinct()
      .withColumn("nr", lit(1))
    newFp.select("doc_id")
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ex").isNotNull, "exact_dup")
          .when(col("nr").isNotNull, "near_dup")
          .otherwise("unique").as("verdict"))
      .orderBy("doc_id")
  }

  /** Near-dup CLUSTERS over the MinHash-LSH verified pairs — the step a
    * dedup pipeline runs after pair generation (pairs → components →
    * one canonical keeper per cluster): bounded-round min-label
    * propagation ([[graft.graph.GraphAlgs.pairComponents]], with its
    * exact-count state gate), keeper = the cluster's min doc_id.
    * Singleton labels are filtered — a doc is only here because it sits
    * on a verified pair, so a singleton after `rounds` hops is a
    * propagation-horizon artifact, not a duplicate (the oracle's
    * unrolled twin filters identically). */
  /** Min-label components over the MinHash-verified pair graph —
    * memoized: the cluster consumers (minhashClusters, qualityKeepers,
    * Curation.safeSplits) each paid the checkpoint-backed propagation
    * rounds otherwise. The relation is (id, comp) for every doc on a
    * verified pair; pairComponents already checkpoints its state, so
    * the memo only dedups the ROUNDS across consumers. */
  private[graft] def minhashComponents(spark: SparkSession, dir: String,
                                       threshold: Double = 0.8,
                                       rounds: Int = ClusterRounds): DataFrame =
    graft.Memo.get(spark, "dedup-minhash-comp", (dir, threshold, rounds)) {
      graft.graph.GraphAlgs.pairComponents(
        minhashPairsUnsorted(spark, dir, threshold).select("d1", "d2"),
        rounds)
    }

  /** Propagation horizon of the MinHash cluster tier — shared by the
    * Scala loop, the DuckDB unrolled twin (minhashClusterCtes) and the
    * convergence audit, so the three can never drift. */
  val ClusterRounds: Int = 5

  /** True iff the MinHash cluster propagation reaches its fixed point
    * within [[ClusterRounds]] — the `convergence_audit` probe; its
    * DuckDB twin unrolls rounds+1 over the same verified-pair CTEs. */
  private[graft] def minhashConvergedWithin(spark: SparkSession,
      dir: String, threshold: Double = 0.8,
      rounds: Int = ClusterRounds): Boolean =
    graft.graph.GraphAlgs.pairComponentsConvergedWithin(spark,
      ("minhash", dir, threshold, rounds),
      minhashPairsUnsorted(spark, dir, threshold).select("d1", "d2"),
      minhashComponents(spark, dir, threshold, rounds))

  def minhashClusters(spark: SparkSession, dir: String,
                      threshold: Double = 0.8,
                      rounds: Int = ClusterRounds): DataFrame =
    minhashComponents(spark, dir, threshold, rounds)
      .groupBy("comp").agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > 1)
      .select(col("comp").as("keep_doc_id"), col("n_members"))
      .orderBy("keep_doc_id")

  /** Quality-aware keeper selection — the dedup refinement frontier
    * pipelines actually ship: within each near-dup cluster, keep the
    * member with the HIGHEST quality score (ties to the smaller
    * doc_id), not blindly the smallest id. Min-id keeps whatever
    * crawled first; quality-keep retains the cleanest copy of each
    * near-duplicate family. Quality is the micro-unit-exact integer
    * score (same expression as the curation tier — no float compare
    * ambiguity), joined onto the cluster assignment by doc_id; the
    * argmax is a per-cluster window over member-bounded rows. Output
    * also says WHICH min-id choice the quality rule overturned —
    * the measurable win of the refinement. */
  def qualityKeepers(spark: SparkSession, dir: String,
                     threshold: Double = 0.8,
                     rounds: Int = 5): DataFrame = {
    val members = minhashComponents(spark, dir, threshold, rounds)
    val q6 = graft.pipeline.Curation.qualityMicro(spark, dir)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("comp")
      .orderBy(desc("q6"), asc("id"))
    val sized = members.groupBy("comp").agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > 1)
    members.join(sized, "comp")
      .join(q6.select(col("doc_id").as("id"), col("q6")), "id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("comp").cast("bigint").as("min_id_keeper"),
        col("id").cast("bigint").as("quality_keeper"),
        col("q6"), col("n_members"),
        (col("id") =!= col("comp")).as("overturned"))
      .orderBy("min_id_keeper")
  }

  /** SimHash via builtins only: 64-bit bitwise fingerprint — per
    * token-hash bit, sum ±1 over the doc, sign → bit. Kept as the
    * reference semantics for the native-expression parity test; the hot
    * path uses functions.SimHash64 (same result, one loop instead of a
    * 64-wide expression tree per token). */
  def simhashColFold(toks: Column): Column = {
    // Bit positions are static → unroll with Scala ints (shiftleft/right
    // take Int shift amounts); the whole thing stays one codegen'd
    // expression tree, no UDF.
    val bitVotes = aggregate(
      toks,
      array((0 until 64).map(_ => lit(0L)): _*),
      (acc, t) => zip_with(acc,
        array((0 until 64).map(b =>
          shiftright(xxhash64(t), b).bitwiseAND(lit(1L)) * 2 - 1): _*),
        (a, v) => a + v))
    val powers = array((0 until 64).map(b => lit(1L << b)): _*)
    aggregate(
      zip_with(bitVotes, powers, (v, p) => when(v >= 0, p).otherwise(lit(0L))),
      lit(0L), (s, x) => s.bitwiseOR(x))
  }

  /** Persisted + memoized for the same reason as shingles: the pair join
    * references the signature relation twice (d1/d2 sides) and the hash
    * computation is the expensive part. */
  def simhashes(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.get(spark, "dedup-simhash", dir) {
      graft.functions.GraftFunctions.register(spark)
      // No orderBy here: a sort inside the persisted plan would be paid on
      // every materialization and is useless to the pair join's shuffle.
      // Consumers that need order (the registry dump) sort at the boundary.
      Tables.spread(spark, Tables.load(spark, dir, "documents"))
        .select(col("doc_id"),
          graft.functions.GraftFunctions.simHash64(TextAnalysis.tokens)
            .as("simhash"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Oracle-checkable SimHash twin: the 64 hash bits per token come from
    * the 32 hex chars of ONE md5 (2 bits per char, via ascii arithmetic —
    * no UDF), so DuckDB re-derives identical fingerprints (the same
    * engine-portable-hash move MinHash makes above). The production path
    * stays the codegen'd xxhash64 expression ([[simhashes]], bit-parity
    * asserted in FunctionsSpec); this variant is what the registry's
    * correctness rows run. Tokenless docs get the all-ones fingerprint
    * (zero votes ⇒ every bit ≥ 0), matching SimHash64 — hence the left
    * join instead of relying on explode to cover every doc. */
  def simhashesMd5(spark: SparkSession, dir: String): DataFrame =
    simhashesMd5Core(spark, dir).orderBy("doc_id")

  /** Unordered fingerprint relation, memoized + persisted: the pair
    * self-join reads it twice and the registry dump once — the 64-sum
    * vote aggregation must run once per (session, dir). */
  private def simhashesMd5Core(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.get(spark, "dedup-simhash-md5", dir) {
      val docs = Tables.spread(spark, Tables.load(spark, dir, "documents"))
      val toks = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens).as("t"))
        .withColumn("h", md5(col("t")))
      def digit(p: Int): Column = {
        val a = ascii(substring(col("h"), p, 1))
        a - when(a >= 97, 87).otherwise(48) // 'a'..'f' vs '0'..'9'
      }
      val voteCols = (0 until 64).map { b =>
        sum(shiftright(digit(1 + b / 2), b % 2).bitwiseAND(lit(1)) * 2 - 1)
          .as(s"v$b")
      }
      val votes = toks.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
      // Disjoint powers, ascending, bit 63 last: the partial sum peaks at
      // 2^63-1 then adds Long.MinValue — no overflow in either engine.
      val fp = (0 until 64).map { b =>
        when(coalesce(col(s"v$b"), lit(0L)) >= 0, lit(1L << b))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      docs.select("doc_id").join(votes, Seq("doc_id"), "left")
        .select(col("doc_id"), fp.as("simhash"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** `dedup_simhash_audit` — the graphx_float_audit pattern applied to
    * the last unfenced native expression: binds the production xxhash64
    * SimHash ([[simhashes]], rows-only — no SQL engine can recompute
    * xxhash64) to oracle-checked structural facts on the REAL corpus,
    * one row:
    *  - n_docs / n_classes: exact token-MULTISET equivalence classes
    *    (any simhash scheme's votes are per-token sums, so fingerprints
    *    are a function of the multiset);
    *  - native_uniform_classes: classes whose native fingerprints are
    *    constant. The oracle states the THEOREM (= n_classes): an
    *    order-dependence, nondeterminism, or vote-sign bug in the native
    *    expression breaks the driver's hash loudly;
    *  - md5_uniform_classes: the same fact for the md5 scheme, computed
    *    independently by BOTH engines (genuine cross-engine recompute of
    *    the whole vote/sign pipeline);
    *  - tokenless_nonallones: docs with no tokens whose native
    *    fingerprint is not the all-ones zero-vote fixed point (= 0, the
    *    SimHash64 empty-input theorem).
    * Scale shape: one corpus scan per fingerprint relation (both
    * memoized), one multiset-key aggregation — linear, no pairs. */
  def simhashAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(spark, Tables.load(spark, dir, "documents"))
    // The class key must be INJECTIVE over token multisets: whitespace
    // splitting does not exclude U+001F from a token (it is not \s — the
    // r13 BpePattern hazard), so a bare concat_ws("\u001f", ...) would
    // collide e.g. ["a\u001fb"] with ["a","b"] and turn a theorem row
    // into a spurious red on such a corpus (ADVICE r14). Length-prefixing
    // every token ("<len>:<token>") makes the joined string unambiguously
    // decodable, hence injective, whatever bytes tokens carry; the DuckDB
    // twin applies the identical encoding.
    val clsKey = concat_ws("\u001f",
      transform(array_sort(TextAnalysis.tokens),
        t => concat(length(t).cast("string"), lit(":"), t)))
    val cls = docs.select(col("doc_id"), clsKey.as("cls"),
      (size(TextAnalysis.tokens) === 0).as("tokenless"))
    def uniform(fps: DataFrame): DataFrame =
      cls.join(fps, "doc_id")
        .groupBy("cls")
        .agg((min("simhash") === max("simhash")).as("u"))
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("u"), 1L).otherwise(0L)).as("uniform"))
    val nat = uniform(simhashes(spark, dir))
      .select(col("n_classes"), col("uniform").as("native_uniform_classes"))
    val md5u = uniform(simhashesMd5Core(spark, dir))
      .select(col("uniform").as("md5_uniform_classes"))
    val allOnes = cls.join(simhashes(spark, dir), "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("tokenless") && col("simhash") =!= lit(-1L), 1L)
          .otherwise(0L)).as("tokenless_nonallones"))
    allOnes.join(nat).join(md5u) // 1-row frames
      .select(col("n_docs"), col("n_classes"),
        col("native_uniform_classes"), col("md5_uniform_classes"),
        col("tokenless_nonallones"))
  }

  /** SimHash near-dup pairs: Hamming distance ≤ maxDist, blocked by four
    * 16-bit chunks. Pigeonhole: a pair within distance 3 must match ≥1 of
    * the 4 chunks exactly, so candidate generation is an equi-join on
    * 65k-value keys, never n² — the Manku et al. web-dedup configuration
    * (k=3). maxDist > 3 weakens the guarantee to best-effort. */
  def simhashPairs(spark: SparkSession, dir: String,
                   maxDist: Int = 3): DataFrame =
    simhashPairsFrom(simhashes(spark, dir), maxDist)

  /** Pairs over the md5-derived fingerprints (the oracle-backed rows). */
  def simhashPairsMd5(spark: SparkSession, dir: String,
                      maxDist: Int = 3): DataFrame =
    simhashPairsFrom(simhashesMd5Core(spark, dir), maxDist)

  private def simhashPairsFrom(hs: DataFrame, maxDist: Int): DataFrame = {
    val chunks = hs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))
            .as("val"))): _*)).as("ck"))
      .select(col("doc_id"), col("simhash"),
        col("ck.chunk").as("chunk"), col("ck.val").as("val"))
    val cand = chunks.select(col("doc_id").as("d1"), col("simhash").as("s1"),
        col("chunk"), col("val"))
      .join(chunks.select(col("doc_id").as("d2"), col("simhash").as("s2"),
        col("chunk"), col("val")), Seq("chunk", "val"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2", "s1", "s2").distinct()
    cand.withColumn("dist",
        bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long"))
      .filter(col("dist") <= maxDist)
      .select("d1", "d2", "dist")
      .orderBy("d1", "d2")
  }
}
