package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup
import graft.text.TextAnalysis

/** End-to-end training-corpus curation — the composition the individual
  * text/dedup operators exist for:
  *
  *  - deterministic hash splits: train/val/test assignment from the
  *    first 4 hex digits of md5(doc_id), so the split is a pure function
  *    of the key — reproducible across runs, engines, and repartitioning
  *    (the property random() splits lack), and exactly oracle-checkable;
  *  - the curation filter: predicted-language gate × quality floor ×
  *    exact-dedup keep-first — three independent scans joined on doc_id,
  *    each one already an oracle-verified operator.
  *
  * Everything stays columnar; the joins are on the doc_id key and the
  * dedup side arrives as a broadcast-sized keep-set at test SFs (at
  * corpus scale it is a shuffle-hash join on the same key).
  */
object Curation {

  /** End-of-pipeline materialization: write the released corpus in the
    * layout training jobs read — partitioned by (split, lang), so a
    * training phase prunes to its split at file-listing time and mixture
    * weighting addresses per-language file groups. The released id set
    * is [[curateFull]]'s (every gate an oracle-verified operator);
    * payloads re-attach by doc_id key join. Returns the read-back frame
    * — partition discovery proving the layout. */
  def writeCurated(spark: SparkSession, dir: String,
                   outDir: String): DataFrame = {
    val released = curateFull(spark, dir).select("doc_id", "quality", "split")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    released.join(docs, "doc_id")
      .write.mode("overwrite").partitionBy("split", "lang").parquet(outDir)
    spark.read.parquet(outDir)
  }

  /** Value of hex digit p (1-based) of md5(key) via ascii arithmetic —
    * the engine-portable trick shared with Dedup.simhashesMd5. */
  private[graft] def hexDigit(h: Column, p: Int): Column = {
    val a = ascii(substring(h, p, 1))
    a - when(a >= 97, 87).otherwise(48)
  }

  /** Bucket in [0, 100) from the first 4 md5 hex digits of the key. */
  def hashBucket(key: Column): Column = {
    val h = md5(key.cast("string"))
    ((0 until 4).map(i => hexDigit(h, i + 1) * (1 << (4 * (3 - i))))
      .reduce(_ + _)) % 100
  }

  /** 80/10/10 deterministic split assignment. */
  def splitOf(key: Column): Column = {
    val b = hashBucket(key)
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }

  /** Leakage-SAFE split assignment — the fix for what
    * [[splitLeakageReport]] measures: hashing each DOC into a split
    * lets near-duplicate pairs straddle train/val (the test set then
    * scores memorization). Here the split key is the doc's near-dup
    * CLUSTER representative (min-label over the MinHash-verified pair
    * graph, the dedup_minhash_clusters convention), so every pair of
    * docs within `rounds` propagation hops lands in the SAME split by
    * construction; singletons keep their own id and reproduce the
    * plain [[splitOf]] assignment exactly (backwards-compatible).
    * Scale: the cluster relation is |paired docs| rows joined back on
    * the doc key (same-key hash join); everything upstream is the
    * banded LSH candidate path that never goes quadratic. */
  def safeSplits(spark: SparkSession, dir: String): DataFrame = {
    val comp = graft.dedup.Dedup.minhashComponents(spark, dir)
      .withColumnRenamed("id", "doc_id")
    Tables.load(spark, dir, "documents").select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("split_key"))
      .select(col("doc_id"), col("split_key"),
        splitOf(col("split_key")).as("split"))
      .orderBy("doc_id")
  }

  /** Default shuffle seed for [[epochOrder]], shared with the oracle
    * generator so the twin cannot drift. */
  val EpochShuffleSeed: Int = 0

  /** Deterministic epoch shuffle order — the materialized global
    * permutation a training job streams an epoch in: every released doc
    * ([[curateFull]]'s five-gate set) gets an exact 1-based position in
    * the total order of md5(seed|doc_id). Training-data ORDER is part
    * of a run's reproducibility story; a seeded hash order is shuffled
    * "enough" for SGD, bit-reproducible across reruns and engines, and
    * re-drawable per epoch by bumping the seed. The rank is the
    * range-partitioned global position (Ranks.withGlobalPos — the
    * distributed zipWithIndex), never a corpus-wide single-partition
    * window; at 100 TB this is exactly the shuffle-order manifest you
    * write once per epoch beside the packed batches. */
  def epochOrder(spark: SparkSession, dir: String,
                 seed: Int = EpochShuffleSeed): DataFrame = {
    val keyed = curateFull(spark, dir).select("doc_id")
      .withColumn("shuffle_key",
        md5(concat_ws("|", lit(seed.toString), col("doc_id").cast("string"))))
    graft.operators.Ranks.withGlobalPos(keyed,
      Seq(col("shuffle_key").asc, col("doc_id").asc), "epoch_pos")
      .select(col("doc_id"), col("shuffle_key"), col("epoch_pos"))
      .orderBy("epoch_pos")
  }

  /** Split × true-language histogram over documents. */
  def splitCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(splitOf(col("doc_id")).as("split"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("split", "lang")

  /** Stratified (balanced) subsample: at most `perGroup` docs per true
    * language, chosen in md5 order — a deterministic stand-in for random
    * within-group sampling that both engines replay identically. One
    * window per group; at corpus scale the rank is a per-partition top-k
    * (TakeOrdered per group), never a global sort. */
  def stratifiedSample(spark: SparkSession, dir: String,
                       perGroup: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.load(spark, dir, "documents")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perGroup)
      .select("doc_id", "lang")
      .orderBy("lang", "doc_id")
  }

  /** Sequence-packing audit: per length-bucket doc counts, token mass,
    * context windows, and padding waste at a fixed context length — the
    * batching-efficiency report that decides packing strategy (a corpus
    * of 40-token docs wastes 84% of a 256-token window without packing).
    * Pure integer arithmetic off one scan: windows = ⌈n/ctx⌉, padding =
    * windows·ctx − n. */
  def packingReport(spark: SparkSession, dir: String, ctx: Int = 256,
                    bucketTokens: Int = 64): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(size(TextAnalysis.tokens).cast("long").as("n"))
      .select(col("n"),
        expr(s"n div $bucketTokens").as("bucket"),
        when(col("n") === 0, lit(0L))
          .otherwise(expr(s"(n + ${ctx - 1}) div $ctx")).as("wins"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        sum(col("wins")).as("n_windows"),
        sum(col("wins") * ctx - col("n")).as("pad_tokens"))
      .orderBy("bucket")

  /** Sequence-packing ASSIGNMENTS — the operator behind [[packingReport]]'s
    * audit: the concat-then-chunk packing LLM pretraining actually uses
    * (concatenate documents in a fixed order, slice into ctx-token
    * windows; no bin-packing search, no padding except the final
    * window). Deterministic by construction: docs concatenate per split
    * in doc_id order, so pack_id = cum_start div ctx and offset =
    * cum_start mod ctx are pure integer arithmetic over a running sum —
    * exactly reproducible by the oracle's window cumsum. `spans_packs`
    * flags docs a window boundary cuts (the attention-masking caveat of
    * packed training). Scale: the cumsum window partitions by split —
    * a production run range-partitions the order key so each range
    * computes its cumsum after a per-range offset scan (two passes,
    * no global single-partition window); the per-split window here is
    * that pattern's local form. */
  def packAssignments(spark: SparkSession, dir: String,
                      ctx: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("split").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), splitOf(col("doc_id")).as("split"),
        size(TextAnalysis.tokens).cast("long").as("n_tokens"))
      .withColumn("cum_end", sum("n_tokens").over(w))
      .select(col("doc_id"), col("split"), col("n_tokens"),
        expr(s"(cum_end - n_tokens) div $ctx").as("pack_id"),
        expr(s"(cum_end - n_tokens) % $ctx").as("pack_offset"),
        (col("n_tokens") > 0 &&
          expr(s"(cum_end - 1) div $ctx") > expr(s"(cum_end - n_tokens) div $ctx"))
          .as("spans_packs"))
      .orderBy("doc_id")
  }

  /** Split-leakage audit: exact-duplicate texts spanning MORE THAN ONE
    * split — the classic failure of splitting before deduplicating (val/
    * test contamination by train twins). One fingerprint groupBy; the
    * summary is a second tiny aggregation over fingerprint groups. */
  def splitLeakageReport(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.load(spark, dir, "documents")
      .select(md5(encode(col("text"), "UTF-8")).as("fp"),
        splitOf(col("doc_id")).as("split"))
      .groupBy("fp")
      .agg(countDistinct(col("split")).as("ns"), count(lit(1)).as("nd"))
    g.agg(count(lit(1)).as("n_fps"),
      count(when(col("ns") > 1, 1)).as("n_fps_leaky"),
      coalesce(sum(when(col("ns") > 1, col("nd"))), lit(0L))
        .as("n_docs_leaky"))
  }

  /** Quality-floor calibration: the EXACT threshold that keeps the top
    * `pct`% of documents by quality — the ⌈n·pct/100⌉-th order statistic
    * descending (ties by doc_id). The rank is the range-partitioned
    * global position (`Ranks.withGlobalPos` — no task ever holds more
    * than one range partition), whose `__n` also supplies the total
    * count; the per-batch scale path is the approx-quantile sketch
    * (`approx_quantiles`), with this as its exact audit. */
  def qualityFloorCalibration(spark: SparkSession, dir: String,
                              rates: Seq[Int] = Seq(50, 80, 90)): DataFrame = {
    val q = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality"))
    val ranked = graft.operators.Ranks.withGlobalPos(q,
      Seq(col("quality").desc, col("doc_id")), "rk")
    rates.map { pct =>
      ranked
        .filter(col("rk") === ceil(col("__n") * pct / lit(100.0)).cast("long"))
        .select(lit(pct).as("keep_pct"), col("quality").as("floor"))
    }.reduce(_.unionByName(_)).orderBy("keep_pct")
  }

  /** Per-source (domain-level) corpus mix report — the audit a pipeline
    * runs before choosing domain weights: volume, language spread, exact
    * duplicate mass, and mean quality per source. Quality is summed as
    * EXACT micro-units (quality is round(·,6), so quality·10⁶ is
    * integer-valued): the per-source aggregation is a plain combinable
    * long sum — no per-group list, no hot-source sink when one domain
    * holds billions of docs — and the mean is two double divisions both
    * engines replay bit-identically. */
  def sourceMixReport(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"),
        round(col("quality") * lit(1000000.0)).cast("long").as("q6"))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        md5(encode(col("text"), "UTF-8")).as("fp"))
      .join(q, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("fp")).as("n_unique_texts"),
        sum(col("n_chars")).as("total_chars"),
        ((sum(col("q6")).cast("double") / lit(1000000.0)) / count(lit(1)))
          .as("mean_quality"))
      .orderBy("source")
  }

  /** Per-source contribution cap: at most `cap` docs per source, chosen
    * in deterministic md5 order — the over-represented-domain guard of
    * mixture design ([[stratifiedSample]]'s shape keyed by domain
    * instead of language; same per-group top-k, never a global sort). */
  def sourceCapSample(spark: SparkSession, dir: String,
                      cap: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.load(spark, dir, "documents")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .select("doc_id", "source")
      .orderBy("source", "doc_id")
  }

  /** Language rebalancing (data mixing): the dominant language keeps
    * only `keepPct`% of its docs — selected by the same deterministic
    * hash bucket as the splits, so the subsample is reproducible and the
    * train/val/test assignment of a kept doc never changes. */
  def rebalanceCounts(spark: SparkSession, dir: String,
                      heavyLang: String = "en", keepPct: Int = 30)
      : DataFrame =
    Tables.load(spark, dir, "documents")
      .filter(col("lang") =!= heavyLang ||
        hashBucket(col("doc_id")) < keepPct)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .orderBy("lang")

  /** Temperature-flattened source-mixture weights at α = 1/2: the
    * sampling-weight computation of multilingual/multi-source mixture
    * design (UNIMAX-style flattening) — w_temp(s) ∝ √n_s vs the
    * proportional w_prop(s) ∝ n_s, plus the boost each source gets.
    * α is pinned at 1/2 because sqrt is IEEE-correctly-rounded on both
    * engines — the one flattening power with no libm parity hazard
    * (a free pow(n, α) is not reproducible cross-engine; the
    * [[graft.text.TextAnalysis.topTerms]] convention). The √-weight
    * normalizer folds in sorted-value order (canonical float-sum
    * convention); the proportional normalizer is an exact long sum.
    * One |sources|-row aggregate broadcast back over itself — at any
    * scale this is a scalar-sized plan after the first fold. */
  def mixtureTemperature(spark: SparkSession, dir: String): DataFrame = {
    val bySrc = Tables.load(spark, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("sq", sqrt(col("n_docs").cast("double")))
    val totals = bySrc.agg(
      sum(col("n_docs")).as("total_n"),
      aggregate(sort_array(collect_list(col("sq"))), lit(0.0),
        (s, x) => s + x).as("total_sq"))
    bySrc.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"),
        (col("n_docs").cast("double") / col("total_n")).as("w_prop"),
        (col("sq") / col("total_sq")).as("w_temp"),
        ((col("sq") / col("total_sq")) /
          (col("n_docs").cast("double") / col("total_n"))).as("boost"))
      .orderBy("source")
  }

  /** Per-source training-epoch plan — the data-constrained-scaling
    * table: given a token budget of `budgetMult` × the corpus and the
    * √-temperature mixture weights, how many passes (epochs) does each
    * source make through training? epochs = budget · w_temp /
    * source_tokens. Sources with epochs > 1 repeat (the
    * data-constrained regime where repetition discounting kicks in);
    * sources with epochs < 1 are subsampled. Token counts are exact
    * integers; the epochs column is one double division chain both
    * engines replay identically. Bounded by |sources| rows. */
  def mixtureEpochs(spark: SparkSession, dir: String,
                    budgetMult: Double = 2.0): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), size(TextAnalysis.tokens).as("n_toks"))
    val bySrc = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks").cast("long")).as("n_tokens"))
      .withColumn("sq", sqrt(col("n_docs").cast("double")))
    val totals = bySrc.agg(
      sum(col("n_tokens")).as("total_tokens"),
      aggregate(sort_array(collect_list(col("sq"))), lit(0.0),
        (s, x) => s + x).as("total_sq"))
    bySrc.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("sq") / col("total_sq")).as("w_temp"),
        ((lit(budgetMult) * col("total_tokens").cast("double") *
          (col("sq") / col("total_sq"))) /
          col("n_tokens").cast("double")).as("epochs"))
      .withColumn("regime",
        when(col("epochs") > 1.0, "repeat").otherwise("subsample"))
      .orderBy("source")
  }

  /** Quality-weighted downsampling: each document keeps with probability
    * proportional to its quality score, decided by the SAME deterministic
    * md5 bucket as the splits (keep ⇔ bucket < quality·100) — the
    * importance-sampling step of mixture design, reproducible across
    * runs/engines/partitionings where a random() draw is not. Output is
    * the per-language survivor histogram next to the full counts. */
  def qualityWeightedCounts(spark: SparkSession, dir: String): DataFrame = {
    val quality = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality"))
    Tables.load(spark, dir, "documents").select("doc_id", "lang")
      .join(quality, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        count(when(hashBucket(col("doc_id")) <
          col("quality") * lit(100.0), 1)).as("n_kept"))
      .orderBy("lang")
  }

  /** The curated corpus: English by prediction, quality ≥ minQuality,
    * exact-dup collapsed to the min-doc_id representative. */
  def curate(spark: SparkSession, dir: String,
             minQuality: Double = 0.5): DataFrame = {
    // Both text gates read from ONE tokenizing scan (r16, §1.2): the
    // old qualityScore ⋈ langId composition paid two full document
    // scans plus a doc_id exchange for per-row signals a single scan
    // yields. Same shared expressions → bit-identical survivor set.
    val keep = Dedup.exact(spark, dir)
      .select(col("keep_doc_id").as("doc_id"))
    TextAnalysis.qualityLangSignals(spark, dir)
      .join(keep, Seq("doc_id"), "left_semi")
      .filter(col("lang_pred") === "en" && col("quality") >= minQuality)
      .select(col("doc_id"), col("quality"),
        splitOf(col("doc_id")).as("split"))
      .orderBy("doc_id")
  }

  /** The full release gate — [[curate]]'s three text gates composed with
    * the two cross-tier ones a frontier pipeline adds:
    *
    *  - embedding near-dup drop: a doc whose vector sits in an SRP-LSH
    *    duplicate cluster survives only as the cluster representative —
    *    semantic dedup beyond byte-identity. vec_id keys doc_id; at some
    *    SFs only a prefix of docs carries a vector (FIXTURES.md §1), and
    *    a doc WITHOUT a vector keeps: no embedding is no evidence to
    *    drop (the left-anti join encodes exactly that);
    *  - benchmark decontamination: any doc sharing an 8-token window
    *    fingerprint with the benchmark set is excluded.
    *
    * Every input relation is itself an oracle-verified operator; the
    * composition is doc_id-keyed semi/anti joins (broadcast-sized drop
    * sets here, shuffle-hash on the same key at corpus scale). */
  def curateFull(spark: SparkSession, dir: String,
                 minQuality: Double = 0.5): DataFrame =
    // Memoized and materialized inside the build: the released set is
    // the root of the whole release tier (manifest, datasheet, epoch
    // order, materialization) — each consumer otherwise re-runs all five
    // gates, and a lazy persist would be filled by whichever consumer
    // job reached it first (epoch order's global-position rank reads it
    // twice in one plan). At 100 TB this is the released-ids table a
    // pipeline materializes once per release.
    graft.Memo.get(spark, "curate-full", (dir, minQuality)) {
      val nearDupDrop = graft.similarity.Similarity.dupAssignments(spark, dir)
        .filter(col("id") =!= col("comp"))
        .select(col("id").as("doc_id"))
      val contaminated = TextAnalysis.contamination(spark, dir)
        .filter(col("is_contaminated"))
        .select("doc_id")
      curate(spark, dir, minQuality)
        .join(nearDupDrop, Seq("doc_id"), "left_anti")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
        .localCheckpoint(true)
    }

  /** Systematic probability-proportional-to-size sample, ~`n` picks per
    * source, weight = n_chars + 1 (the +1 keeps empty docs selectable).
    * The A-ES / exponential-keys formulation of weighted sampling needs
    * `u^(1/w)` — a libm `pow`/`ln` with no cross-engine bit parity (the
    * [[mixtureTemperature]] argument). Systematic PPS needs NO floats at
    * all: order each source's docs by the deterministic md5 permutation,
    * run an exact integer cumulative weight `cw`, and pick every doc
    * whose weight interval `(cw−w, cw]` crosses a grid boundary — i.e.
    * `(cw−w)·n div W < cw·n div W` with `W` the source's total weight.
    * The cumulative/total weights accumulate as decimal(38,0) — the
    * exact match for DuckDB's HUGEINT window sum — so the boundary test
    * is exact far past the int64 `W·n < 2^63` bound a corpus-scale
    * source would cross; each doc's pick probability ∝ its weight, and a
    * doc heavier than `W/n` is guaranteed in (it may straddle several
    * boundaries, so the sample size is ≤ n — PPS semantics, documented
    * rather than papered over). One scan + one per-source window pair
    * (single shuffle on `source`): the same plan at 100 TB, no global
    * sort, no driver state — THE one-pass weighted subsampling shape. */
  def weightedPpsSample(spark: SparkSession, dir: String,
                        n: Int = 20): DataFrame = {
    val cum = Window.partitionBy("source")
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy("source")
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        (col("n_chars") + lit(1L)).as("w"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("cw", sum(col("w")
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).over(cum))
      .withColumn("tw", sum(col("w")
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).over(whole))
      .filter(expr(s"((cw - w) * $n) div tw") < expr(s"(cw * $n) div tw"))
      .select(col("source"), col("doc_id"), col("w"))
      .orderBy("source", "doc_id")
  }

  /** Per-language token-budget selection — "give each language B tokens
    * of the best data" (the mixture-building step after quality scoring):
    * rank docs by quality within language, admit in rank order while the
    * running token total stays ≤ B. Quality travels as exact micro-units
    * (the [[sourceMixReport]] convention) so the rank order and the
    * running sum are both integer-exact — no float enters the plan.
    * The window is partitioned by lang: the global-sort cost a single
    * knapsack would pay never appears, and at corpus scale each language
    * ranks in parallel (the calibration posture: an exact order
    * statistic per GROUP, not per corpus). */
  def tokenBudgetSelect(spark: SparkSession, dir: String,
                        budget: Long = 5000L): DataFrame = {
    val q = qualityMicro(spark, dir)
    val win = Window.partitionBy("lang")
      .orderBy(desc("q6"), asc("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, dir, "documents").select("doc_id", "lang")
      .join(q, "doc_id")
      .withColumn("cum_tokens", sum(col("n_tokens")).over(win))
      .filter(col("cum_tokens") <= budget)
      .select(col("lang"), col("doc_id"), col("n_tokens"),
        col("cum_tokens"))
      .orderBy("lang", "cum_tokens", "doc_id")
  }

  /** The release datasheet — the one table a corpus release ships
    * beside the manifest: per split, the headline numbers a consumer
    * (or a review board) reads first. Composes five verified operator
    * families by doc_id-keyed joins (same-key hash joins — co-
    * partitioned, no fan-out): volume (docs/tokens), language spread
    * (count + dominant language share), exact-duplicate mass, mean
    * quality (micro-unit-exact), PII incidence, and the Gopher-gate
    * keep count. Three output rows; every aggregation is a combinable
    * sum/count, and the dominant-language argmax is a window over the
    * split×lang histogram (bounded by 3·|langs| rows). */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val docs = Tables.load(spark, dir, "documents")
    val base = docs.select(col("doc_id"), col("lang"),
      splitOf(col("doc_id")).as("split"),
      md5(encode(col("text"), "UTF-8")).as("fp"),
      size(TextAnalysis.tokens).as("n_toks"))
    val q = qualityMicro(spark, dir).select("doc_id", "q6")
    val pii = TextAnalysis.piiCounts(spark, dir)
      .select(col("doc_id"), col("has_pii"))
    val keep = TextAnalysis.gopherFilters(spark, dir)
      .select(col("doc_id"), col("keep"))
    val j = base.join(q, "doc_id").join(pii, "doc_id").join(keep, "doc_id")
    val per = j.groupBy("split").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_toks").cast("long")).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("fp")).as("n_unique_texts"),
      ((sum(col("q6")).cast("double") / lit(1000000.0)) / count(lit(1)))
        .as("mean_quality"),
      sum(when(col("has_pii"), 1L).otherwise(0L)).as("n_pii_docs"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_gopher_keep"))
    val langCnt = j.groupBy("split", "lang").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("split")
      .orderBy(desc("c"), asc("lang"))
    val top = langCnt.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("split"), col("lang").as("top_lang"),
        col("c").as("top_lang_n"))
    per.join(top, "split")
      .select(col("split"), col("n_docs"), col("n_tokens"), col("n_langs"),
        (col("n_docs") - col("n_unique_texts")).as("n_dup_docs"),
        col("mean_quality"), col("top_lang"),
        (col("top_lang_n").cast("double") / col("n_docs"))
          .as("top_lang_share"),
        col("n_pii_docs"), col("n_gopher_keep"))
      .orderBy("split")
  }

  /** Release manifest: per-(split, lang) partition of the released
    * corpus — doc count, token total, and an ORDER-INDEPENDENT exact
    * content fingerprint (the sum of each doc's 52-bit md5-prefix
    * value). This is the artifact a training job pins: two releases
    * diff by comparing manifest rows, and a copied/restored partition
    * re-verifies by recomputing three aggregates in one scan — no
    * row-order, file-layout, or partitioning sensitivity. All integer
    * arithmetic; the 52-bit per-doc values are summed as
    * decimal(38,0) (int128 on the DuckDB side), so the fingerprint
    * stays EXACT to ~10³⁸/2⁵² ≈ 2⁷⁵ docs per cell — no silent int64
    * wrap at corpus scale. The SURFACE type is the exact decimal-digit
    * string of that sum (identical text on both engines): a decimal128
    * output cell hashes engine-dependently downstream, a digit string
    * does not — the internal arithmetic stays wide, only the
    * presentation narrows. Composes [[curateFull]], so every gate
    * feeding the manifest is itself an oracle-verified operator. */
  def releaseManifest(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(col("text"))
    val fp52 = (0 until 13).map(i =>
      hexDigit(h, i + 1).cast("long") * (1L << (4 * (12 - i))))
      .reduce(_ + _)
    val toks = qualityMicro(spark, dir).select("doc_id", "n_tokens")
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    curateFull(spark, dir).select("doc_id", "split")
      .join(docs, "doc_id").join(toks, "doc_id")
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(fp52.cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("string").as("content_fp"))
      .orderBy("split", "lang")
  }

  /** Right-to-be-forgotten cascade report: a deterministic deletion
    * cohort (md5 bucket < pct of customers) propagated through every
    * table that references them — orders directly, lineitem through its
    * order. One scan per table: LEFT JOIN the victim keys and count the
    * misses (no before/after double pass). The victim and victim-order
    * key sets are checkpointed once and reused by every branch; at
    * deployment scale they are the deletion queue, orders of magnitude
    * smaller than the fact tables they prune. */
  def forgetCascadeReport(spark: SparkSession, dir: String,
                          pct: Int = 5): DataFrame = {
    val victims = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("uid"))
      .filter(hashBucket(col("uid")) < pct)
      .localCheckpoint(true)
    val vorders = Tables.load(spark, dir, "orders")
      .join(victims, col("o_custkey") === col("uid"))
      .select(col("o_orderkey").as("vok"))
      .localCheckpoint(true)
    def report(tbl: String, df: DataFrame, mark: Column): DataFrame =
      df.agg(lit(tbl).as("tbl"), count(lit(1)).as("n_before"),
        count(when(mark.isNull, 1L)).as("n_after"))
    report("customer",
        Tables.load(spark, dir, "customer")
          .join(victims, col("c_custkey") === col("uid"), "left"),
        col("uid"))
      .unionByName(report("orders",
        Tables.load(spark, dir, "orders")
          .join(victims, col("o_custkey") === col("uid"), "left"),
        col("uid")))
      .unionByName(report("lineitem",
        Tables.load(spark, dir, "lineitem")
          .join(vorders, col("l_orderkey") === col("vok"), "left"),
        col("vok")))
      .unionByName(report("events",
        Tables.load(spark, dir, "events")
          .join(victims, col("user_id") === col("uid"), "left"),
        col("uid")))
      .orderBy("tbl")
  }

  /** Micro-unit quality per doc (round(·,6)·10⁶ is integer-valued — the
    * sourceMixReport convention), the shared input of the drift gates. */
  private[graft] def qualityMicro(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        round(col("quality") * lit(1000000.0)).cast("long").as("q6"))

  /** Train-vs-test drift gate: the exact two-sample Kolmogorov–Smirnov
    * statistic over the quality distribution of the deterministic
    * splits. D = max_x |F_train(x) − F_test(x)| computed as an exact
    * integer numerator max|cum_tr·M − cum_te·N| (no float until the one
    * final division), so the row is bit-identical in the oracle. The
    * cumulative window is global but BOUNDED: it runs over the distinct
    * micro-unit quality values, a domain of at most 10⁶+1 rows whatever
    * the corpus size — the per-doc work (split hash, histogram) is the
    * distributed part. Exact up to ~3·10⁹ docs per split (the int64
    * cross-product bound); beyond that the numerator needs a decimal
    * widening. */
  def splitDriftKs(spark: SparkSession, dir: String): DataFrame = {
    val s = qualityMicro(spark, dir)
      .withColumn("split", splitOf(col("doc_id")))
      .filter(col("split").isin("train", "test"))
    val hist = s.groupBy("q6").agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("tr"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("te"))
    val w = Window.orderBy("q6")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.select(
      sum("tr").over(w).as("ctr"), sum("te").over(w).as("cte"))
    val tot = s.agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    cum.crossJoin(broadcast(tot))
      .groupBy("n_train", "n_test")
      .agg(max(abs(col("ctr") * col("n_test") - col("cte") * col("n_train")))
        .as("ks_num"))
      .select(col("n_train"), col("n_test"), col("ks_num"),
        (col("ks_num").cast("double") /
          (col("n_train") * col("n_test")).cast("double")).as("ks"))
  }

  /** Per-source distribution-drift gate: total-variation distance
    * between each source's quality-decile histogram and the rest of the
    * corpus — TV = ½ Σ_d |n_sd/N_s − rest_d/N_rest|. Counts stay exact
    * integers; the ten per-bin fractions are two divisions each and the
    * ½-sum folds them through the canonical sorted fold, so the double
    * is bit-identical in the oracle. Bins are DENSE (a source absent
    * from a decile still pays |0 − rest share|) via a sources×10 frame
    * that is broadcast-sized at any corpus scale. */
  def sourceDriftTv(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents").select("doc_id", "source")
      .join(qualityMicro(spark, dir), "doc_id")
      .select(col("source"),
        least(expr("q6 div 100000"), lit(9L)).as("dc"))
    val counts = d.groupBy("source", "dc").agg(count(lit(1)).as("n_sd"))
    val dense = d.select("source").distinct()
      .crossJoin(spark.range(10).select(col("id").as("dc")))
      .join(counts, Seq("source", "dc"), "left")
      .na.fill(0L, Seq("n_sd"))
    val decTot = d.groupBy("dc").agg(count(lit(1)).as("n_d"))
    val srcTot = d.groupBy("source").agg(count(lit(1)).as("n_s"))
    val tot = d.agg(count(lit(1)).as("n"))
    dense
      .join(broadcast(decTot), Seq("dc"), "left").na.fill(0L, Seq("n_d"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_s"),
        abs(col("n_sd").cast("double") / col("n_s") -
          (col("n_d") - col("n_sd")).cast("double") / (col("n") - col("n_s")))
          .as("xd"))
      .groupBy("source", "n_s")
      .agg((aggregate(sort_array(collect_list(col("xd"))), lit(0.0),
        (acc, v) => acc + v) * lit(0.5)).as("tv"))
      .select(col("source"), col("n_s").as("n_docs"), col("tv"))
      .orderBy("source")
  }

  /** Semantic train/test contamination: a test-split vector with a
    * verified SRP-LSH near-duplicate in the train split is a leaked
    * evaluation item the text-fingerprint decontamination gate cannot
    * see (paraphrases share no 8-token window). Reads the same memoized
    * verified pair relation as the dedup tier — banded bucket join,
    * never candidate×candidate — and classifies both endpoints with the
    * deterministic split hash, so the whole gate adds only a hash
    * filter and a per-test-vec fold on top of work already paid. */
  def splitContamination(spark: SparkSession, dir: String): DataFrame = {
    val p = graft.similarity.Similarity.verifiedPairs(spark, dir)
    val sym = p.unionByName(
      p.select(col("d2").as("d1"), col("d1").as("d2"), col("cos")))
    sym
      .filter(splitOf(col("d1")) === "test" &&
        splitOf(col("d2")) === "train")
      .groupBy(col("d1"))
      .agg(count(lit(1)).as("n_train_dups"), max(col("cos")).as("max_cos"))
      .select(col("d1").as("test_vec_id"), col("n_train_dups"),
        col("max_cos"))
      .orderBy("test_vec_id")
  }
}
