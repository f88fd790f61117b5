package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed BPE merge training — the tokenizer-TRAINING side of the
  * text tier (counting/fertility measure an existing tokenizer; this
  * learns one from the corpus).
  *
  * Standard byte-pair-encoding over the corpus's word-frequency table:
  * pre-tokenize with [[TextAnalysis.BpePattern]] (the GPT-2-style regex
  * both engines already share), explode each distinct piece into
  * characters weighted by its frequency, then K times: count adjacent
  * symbol pairs, take the argmax (count desc, then lexical — fully
  * deterministic), and apply the merge greedily left-to-right.
  *
  * The greedy apply is the part that looks sequential but is not: a merge
  * of (a,b) can only overlap itself when a == b, and then candidate
  * positions form consecutive RUNS in which greedy takes every second
  * candidate. So "apply one merge pass" is window arithmetic — candidates
  * (sym, lead(sym)) = (a,b), run-grouped by `pos - row_number()`, taken at
  * odd in-run index, the taken position emitting the concatenation and
  * its successor dropped via lag(take) — all partitioned by word, no
  * per-row recursion, no UDF. The DuckDB oracle is the same K unrolled
  * layers generated from the same constants ([[mergeOracleSql]]), so the
  * two engines cannot drift independently; it was additionally validated
  * against an independent sequential reference implementation.
  *
  * Scale posture (100 TB corpus): everything is bounded by the VOCABULARY,
  * not the corpus — the one full-corpus pass is the word-frequency
  * aggregation (map-side combinable groupBy); the iterated state is
  * Σ|word| rows over distinct pieces (~10⁷ at web scale, a few GB), window
  * partitions are single words (bounded length — no skew), the pair-count
  * shuffle is vocabulary-sized, and the driver holds only the K argmax
  * rows (K bounded 1-row collects). Each round re-materializes via
  * localCheckpoint so the K-deep window chain never accumulates into one
  * plan.
  */
object BpeTrainer {

  /** Merge steps the registry rows learn (unrolled cross-engine oracle —
    * every merge independently recomputed by DuckDB). */
  val K = 8

  /** Merge steps of the deep-vocabulary row (`text_bpe_train_k256`): the
    * scale-in-K path (VERDICT r12 item 2). Oracle is the pinned learned
    * table (the ALS/IVF pinned-state pattern) — the ALGORITHM is
    * cross-engine-proven by the K=8 unrolled twin, which runs the SAME
    * batched code. */
  val DeepK = 256

  /** Max merges accepted per batched round — enforced in the prefix
    * loop (ADVICE r13: it used to be only the candidate-pool scale,
    * leaving the documented cap dead). Rounds are O(K/M) when the
    * corpus cooperates; the sequential-equality guards (below) can stop
    * a round early, degrading gracefully toward one merge/round on a
    * pathologically self-interacting corpus. */
  val BatchM = 64

  /** The learned merge table: (step, lhs, rhs, pair_count). */
  def trainMerges(spark: SparkSession, dir: String): DataFrame =
    trained(spark, dir)._1.orderBy("step")

  /** The deep (K=256) merge table — same batched trainer, more rounds. */
  def trainMergesDeep(spark: SparkSession, dir: String): DataFrame =
    trainedK(spark, Tables.load(spark, dir, "documents"),
      ("dir", dir), DeepK)._1.orderBy("step")

  /** Per-document re-tokenization under the LEARNED vocab: word count
    * and post-merge piece count per doc. The vocab-piece relation is
    * vocabulary-sized (broadcast-class at any corpus scale); the one
    * corpus-sized pass is the word explode feeding the join. */
  def encodeCounts(spark: SparkSession, dir: String): DataFrame = {
    val wc = trained(spark, dir)._2
      .groupBy("word").agg(count(lit(1)).as("np"))
    val dw = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(regexp_extract_all(col("text"),
        lit(TextAnalysis.BpePattern), lit(0))).as("word"))
    dw.join(broadcast(wc), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("np").as("n_pieces"))
      .orderBy("doc_id")
  }

  /** The tokenizer APPLY: each document's full ORDERED piece sequence
    * under the learned K=8 vocab — what a training pipeline actually
    * ships to the model, not just the counts. Pieces are joined with the
    * unit separator (U+001F) so the output stays a plain string column
    * (a hash-proven type on the driver's compare); the sequence is
    * reconstructable and its length is carried exactly as n_pieces.
    * Plan: the vocabulary-sized (word → ordered pieces) relation
    * broadcasts; per-doc assembly is two struct-sorted collect_lists
    * bounded by document length (the chunking rows' posture) — the one
    * corpus-sized pass is the word explode. */
  def tokenizeDocs(spark: SparkSession, dir: String): DataFrame = {
    val wp = trained(spark, dir)._2
      .groupBy("word")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("sym")))),
        x => x.getField("sym")).as("pieces"))
    assembleDocPieces(spark, dir, wp)
  }

  /** [[tokenizeDocs]] under the DEEP (K=256) vocab, from the trained
    * corpus state — the round-trip anchor the released artifact's loader
    * path must reproduce exactly (BpeSpec). */
  def tokenizeDocsDeep(spark: SparkSession, dir: String): DataFrame = {
    val wp = trainedK(spark, Tables.load(spark, dir, "documents"),
        ("dir", dir), DeepK)._2
      .groupBy("word")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("sym")))),
        x => x.getField("sym")).as("pieces"))
    assembleDocPieces(spark, dir, wp)
  }

  /** The per-doc assembly stage of the tokenizer APPLY, shared by the
    * trained-state path ([[tokenizeDocs]]) and the released-artifact
    * loader ([[tokenizeDocsFromArtifact]]): broadcast the vocabulary-
    * sized (word -> ordered pieces) relation into the corpus word
    * stream and fold each document's ordered piece sequence. */
  private def assembleDocPieces(spark: SparkSession, dir: String,
                                wp: DataFrame): DataFrame = {
    val dw = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), posexplode(regexp_extract_all(col("text"),
        lit(TextAnalysis.BpePattern), lit(0)))).toDF("doc_id", "wpos", "word")
    dw.join(broadcast(wp), "word")
      .groupBy("doc_id")
      .agg(
        concat_ws("\u001f", flatten(transform(
          array_sort(collect_list(struct(col("wpos"), col("pieces")))),
          x => x.getField("pieces")))).as("pieces_str"),
        sum(size(col("pieces"))).as("n_pieces"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[tokenizeDocs]]: the same unrolled corpus joined
    * back to each document's ordered word stream, piece lists ordered by
    * (word) position on both sides, joined by chr(31). */
  def tokenizeOracleSql: String = {
    val p = TextAnalysis.BpePattern.replace("'", "''")
    "WITH " + oracleCtes +
      s""",
         |wp AS (SELECT word, list(sym ORDER BY pos) AS pieces
         |       FROM corpus$K GROUP BY word),
         |dw AS (SELECT doc_id,
         |    unnest(regexp_extract_all(text, '$p')) AS word,
         |    unnest(generate_series(1, len(regexp_extract_all(text, '$p'))))
         |      AS wpos
         |  FROM documents)
         |SELECT doc_id,
         |  array_to_string(flatten(list(pieces ORDER BY wpos)), chr(31))
         |    AS pieces_str,
         |  CAST(sum(len(pieces)) AS BIGINT) AS n_pieces
         |FROM dw JOIN wp USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Per-document re-tokenization under the DEEP (K=256) vocab — the
    * serving shape a real tokenizer-training pipeline ships. Same plan
    * as [[encodeCounts]]; only the merge table differs. */
  def encodeCountsDeep(spark: SparkSession, dir: String): DataFrame = {
    val wc = trainedK(spark, Tables.load(spark, dir, "documents"),
        ("dir", dir), DeepK)._2
      .groupBy("word").agg(count(lit(1)).as("np"))
    val dw = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(regexp_extract_all(col("text"),
        lit(TextAnalysis.BpePattern), lit(0))).as("word"))
    dw.join(broadcast(wc), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("np").as("n_pieces"))
      .orderBy("doc_id")
  }

  /** The deep vocab's learned (word → piece count) relation, collected
    * for the pinned encode oracle — vocabulary-sized (the corpus's
    * distinct pre-tokenizer words), bounded at any SF of this corpus. */
  private[graft] def deepWordPieces(
      spark: SparkSession, dir: String): Seq[(String, Long)] =
    trainedK(spark, Tables.load(spark, dir, "documents"),
        ("dir", dir), DeepK)._2
      .groupBy("word").agg(count(lit(1)).as("np"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .sortBy(_._1)

  // --- Released tokenizer artifact (round 14) ---------------------------

  /** Pure merge application — re-tokenizes a word from its CHARACTERS
    * under an ordered merge list, with the trainer's own semantics (each
    * merge applied fully, left-to-right non-overlapping, before the
    * next). This is the LOADER'S path: it needs no trained corpus state,
    * so a pipeline holding only the released artifact reproduces the
    * tokenizer exactly (BpeSpec round-trips it against [[tokenizeDocs]]'
    * corpus-state path on the real corpus). Codepoint split matches the
    * trainer's substring(word, pos, 1) init. */
  private[graft] def applyMergeList(
      word: String, merges: Seq[(String, String)]): Vector[String] = {
    var syms: Vector[String] = {
      val b = Vector.newBuilder[String]
      word.codePoints().forEach(cp => b += new String(Character.toChars(cp)))
      b.result()
    }
    for ((a, b) <- merges if syms.length > 1) {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += a + b; i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms
  }

  /** Deterministic piece-id table of the released tokenizer: the base
    * alphabet (distinct corpus characters, binary-sorted) takes ids
    * 0..A-1, then merge OUTPUTS in step order (first occurrence wins on
    * a duplicate output string; outputs are ≥2 chars so they never
    * collide with the 1-char base). The standard merges+vocab artifact
    * shape a downstream pipeline expects. */
  private[graft] def releasedVocab(
      merges: Seq[(Int, String, String)],
      baseChars: Seq[String]): Seq[(Long, String)] = {
    val seen = scala.collection.mutable.HashSet[String]()
    val out = Vector.newBuilder[String]
    baseChars.foreach { c => if (seen.add(c)) out += c }
    merges.sortBy(_._1).foreach { case (_, a, b) =>
      val p = a + b
      if (seen.add(p)) out += p
    }
    out.result().zipWithIndex.map { case (p, i) => (i.toLong, p) }
  }

  /** Write the DEEP (K=256) tokenizer as a RELEASED ARTIFACT — the
    * corpus release-manifest posture applied to learned state: a parquet
    * directory a downstream pipeline loads WITHOUT this JVM or
    * retraining, partitioned by table:
    *   `<path>/merges`: (step, lhs, rhs, pair_count), step-ordered —
    *     the ordered merge program;
    *   `<path>/vocab`:  (piece_id, piece) — deterministic ids
    *     ([[releasedVocab]]).
    * Both tables are vocabulary-sized (broadcast class at ANY corpus
    * SF — the artifact of a 100 TB train is still ≤ ~10⁵ rows), each
    * written as one sorted file. Built once per (JVM, dir) — ingest-side
    * work under the bench's index-class convention. */
  def releasedTokenizer(spark: SparkSession, dir: String): String =
    graft.Memo.get(spark, "bpe-release", dir) {
      import spark.implicits._
      val mergesDf = trainedK(spark, Tables.load(spark, dir, "documents"),
        ("dir", dir), DeepK)._1
      val merges = mergesDf.orderBy("step").collect() // vocabulary-sized
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      // Base alphabet via the TRAINER'S own char semantics (substring
      // explode), sorted by Spark's binary string order — the oracle's
      // ORDER BY matches byte-for-byte.
      val base = Tables.load(spark, dir, "documents")
        .select(explode(regexp_extract_all(col("text"),
          lit(TextAnalysis.BpePattern), lit(0))).as("word"))
        .select(col("word"),
          explode(sequence(lit(1), length(col("word")))).as("pos"))
        .select(expr("substring(word, pos, 1)").as("c"))
        .distinct().orderBy("c")
        .collect().map(_.getString(0)).toSeq // alphabet-sized
      val vocab = releasedVocab(merges.map(m => (m._1, m._2, m._3)), base)
      val out = graft.Scratch.dir("graft-bpe-release",
        java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
          .take(12))
      merges.toDF("step", "lhs", "rhs", "pair_count")
        .coalesce(1).orderBy("step")
        .write.mode("overwrite").parquet(s"$out/merges")
      vocab.toDF("piece_id", "piece")
        .coalesce(1).orderBy("piece_id")
        .write.mode("overwrite").parquet(s"$out/vocab")
      out
    }

  /** `text_bpe_release` — the release row: per artifact table, row count
    * and an exact order-independent content fingerprint (Σ of the
    * 52-bit md5 prefixes of each row's canonical ␟-joined serialization,
    * summed as decimal(38,0), emitted as a digit string — the
    * curate_release_manifest convention). Computed by READING THE
    * ARTIFACT BACK from disk, so the row proves the written files carry
    * the learned state; the oracle predicts both fingerprints from the
    * pinned merge table + the raw corpus (it re-derives the vocab ids
    * itself — the id assignment is cross-engine, not pinned). */
  def releaseReport(spark: SparkSession, dir: String): DataFrame = {
    val path = releasedTokenizer(spark, dir)
    def fpOf(df: DataFrame, part: String, canon: Column): DataFrame = {
      val h = md5(canon)
      val fp52 = (0 until 13).map(i =>
        graft.pipeline.Curation.hexDigit(h, i + 1).cast("long") *
          (1L << (4 * (12 - i)))).reduce(_ + _)
      df.agg(count(lit(1)).as("n_rows"),
          sum(fp52.cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("string").as("content_fp"))
        .select(lit(part).as("part"), col("n_rows"), col("content_fp"))
    }
    fpOf(spark.read.parquet(s"$path/merges"), "merges",
        concat_ws("\u001f", col("step").cast("string"), col("lhs"),
          col("rhs"), col("pair_count").cast("string")))
      .unionByName(fpOf(spark.read.parquet(s"$path/vocab"), "vocab",
        concat_ws("\u001f", col("piece_id").cast("string"), col("piece"))))
      .orderBy("part")
  }

  /** [[tokenizeDocs]] driven ENTIRELY by a released artifact: load the
    * merge program from parquet, re-derive (word → ordered pieces) with
    * [[applyMergeList]] over the corpus's distinct words (vocabulary-
    * sized driver work, the deepWordPieces bound), and assemble per-doc
    * sequences with the same broadcast-join plan. A user of the artifact
    * runs exactly this — no trainer, no memoized corpus state. */
  def tokenizeDocsFromArtifact(spark: SparkSession, dir: String,
                               artifactPath: String): DataFrame = {
    import spark.implicits._
    val merges = spark.read.parquet(s"$artifactPath/merges")
      .orderBy("step").collect() // vocabulary-sized
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val words = Tables.load(spark, dir, "documents")
      .select(explode(regexp_extract_all(col("text"),
        lit(TextAnalysis.BpePattern), lit(0))).as("word"))
      .distinct().collect().map(_.getString(0)).toSeq // vocabulary-sized
    val wp = words.map(w => (w, applyMergeList(w, merges)))
      .toDF("word", "pieces")
    assembleDocPieces(spark, dir, wp)
  }

  /** (merge table, final symbol corpus), built once per (JVM, dir). */
  private def trained(spark: SparkSession,
                      dir: String): (DataFrame, DataFrame) =
    trainedK(spark, Tables.load(spark, dir, "documents"), ("dir", dir), K)

  /** Batched greedy BPE, EXACTLY equal to sequential greedy (count desc,
    * lexical tiebreak, greedy left-to-right apply). Per round: one pair
    * count, then accept a CONTIGUOUS PREFIX of the (cnt desc, lhs, rhs)
    * candidate order, stopping at the first candidate that could make the
    * batch diverge from one-merge-at-a-time recounting:
    *
    *  1. INTERACTION — candidate (a,b) vs an accepted (ai,bi): stop if
    *     a==bi or b==ai (an occurrence of (a,b) could be destroyed by the
    *     earlier merge consuming its symbol), or (a,b)==(ai,bi), or a/b
    *     string-equals the accepted merge's OUTPUT ai+bi (the new symbol
    *     would add occurrences of (a,b)). Non-interacting candidates have
    *     EXACTLY unchanged counts after the earlier merge applies — a
    *     merge never deletes symbols, it fuses two, so old-symbol pairs
    *     can only lose occurrences through consumption, which the rule
    *     excludes (BpeSpec proves this on interacting fixtures).
    *  2. NEW-PAIR DOMINANCE — a merge ai+bi→c creates pairs (x,c)/(c,y)
    *     whose counts are bounded by the adjacent-TRIPLE maxima
    *     max_x cnt3(x,ai,bi) and max_y cnt3(ai,bi,y) (every occurrence of
    *     a new pair sits on such a triple; (c,c) runs sit on (bi,ai,bi) ⊆
    *     the first). Stop at candidate (a,b) if cnt ≤ the running max of
    *     accepted merges' bounds: sequential's recounted argmax could be
    *     one of those new pairs instead.
    *  3. OUTPUT COLLISION — if an accepted merge's output string ai+bi is
    *     ALREADY a live symbol, pairs involving that string can gain
    *     occurrences, invalidating every later original count: accept the
    *     candidate, then end the round.
    *
    * Under 1-3, sequential greedy's argmax at step j IS the j-th accepted
    * candidate (unaccepted pairs sit below it in the original order and
    * can only lose count; new pairs are dominated; ties follow the same
    * lexical order), and simultaneous window application equals in-order
    * application (rule 1 makes cross-merge candidate positions
    * non-adjacent, so each run-parity group is single-merge). Rounds are
    * O(K/BatchM) on a non-adversarial corpus.
    *
    * Scale posture unchanged from the sequential form: the iterated state
    * is vocabulary-bounded, windows are per-word, each round's driver
    * state is ≤ CandC rows, and the corpus re-materializes per ROUND (not
    * per merge) via localCheckpoint — the K-deep plan chain is now
    * K/M-deep. `key` keys the memo (a dir for corpus rows; specs pass
    * their fixture's identity). */
  private[graft] def trainedK(spark: SparkSession, docs: DataFrame,
                              key: Any, k: Int): (DataFrame, DataFrame) =
    graft.Memo.get(spark, "bpe-merges", (key, k)) {
      import spark.implicits._
      val wf = docs
        .select(explode(regexp_extract_all(col("text"),
          lit(TextAnalysis.BpePattern), lit(0))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
      var corpus = wf
        .select(col("word"), col("freq"),
          explode(sequence(lit(1), length(col("word")))).as("pos"))
        .withColumn("sym", expr("substring(word, pos, 1)"))
        .localCheckpoint(true)
      val w = Window.partitionBy("word").orderBy("pos")
      val candC = math.max(4 * BatchM, 64)
      val acc = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, Long)]
      var exhausted = false
      while (acc.size < k && !exhausted) {
        val px = corpus
          .withColumn("nxt", lead("sym", 1).over(w))
          .withColumn("nxt2", lead("sym", 2).over(w))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // Bounded collect: the top-C candidate pairs of this round.
        val topC = px.filter(col("nxt").isNotNull)
          .groupBy("sym", "nxt").agg(sum("freq").as("cnt"))
          .orderBy(desc("cnt"), asc("sym"), asc("nxt"))
          .limit(candC).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        if (topC.isEmpty) exhausted = true
        else {
          // Guard-2 inputs: per candidate, the max adjacent-triple count
          // with the candidate as the (2nd,3rd) / (1st,2nd) symbols.
          // Broadcast-semi-join BEFORE the aggregation: the triple agg
          // only ever sees rows matching a candidate — never a
          // vocabulary³-sized shuffle.
          val candDf = broadcast(
            topC.map(c => (c._1, c._2)).toSeq.toDF("ca", "cb"))
          val trip = px.filter(col("nxt2").isNotNull)
          def maxOver(l: Column, r: Column): Map[(String, String), Long] =
            trip.join(candDf, l === col("ca") && r === col("cb"))
              .groupBy("ca", "cb", "sym", "nxt", "nxt2")
              .agg(sum("freq").as("c3"))
              .groupBy("ca", "cb").agg(max("c3").as("m"))
              .collect()
              .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2))
              .toMap
          val followMax = maxOver(col("nxt"), col("nxt2"))
          val leadMax = maxOver(col("sym"), col("nxt"))
          // Guard-3 input: candidate outputs that are already live symbols.
          val concats = topC.map(c => c._1 + c._2).distinct.toSeq
          val liveOutputs = corpus.select("sym")
            .filter(col("sym").isin(concats: _*))
            .distinct().collect().map(_.getString(0)).toSet
          // Prefix selection under the three guards.
          var batch = Vector.empty[(String, String, Long)]
          var newPairCeil = -1L
          var stop = false
          for ((a, b, cnt) <- topC
               if !stop && acc.size + batch.size < k &&
                 batch.size < BatchM) {
            val interacts = batch.exists { case (ai, bi, _) =>
              a == bi || b == ai || (a == ai && b == bi) ||
                a == ai + bi || b == ai + bi ||
                // Equal OUTPUT strings from different splits (ADVICE
                // r13): guard 2's newPairCeil bounds each merge's new
                // pairs separately, but two same-output merges in one
                // batch could jointly mint the pair at their SUM —
                // stopping here keeps the equivalence proof airtight
                // without leaning on the (unstated) no-dual-split
                // property of a global merge order.
                a + b == ai + bi
            }
            if (cnt <= newPairCeil || interacts) stop = true
            else {
              batch :+= ((a, b, cnt))
              newPairCeil = math.max(newPairCeil,
                math.max(followMax.getOrElse((a, b), 0L),
                  leadMax.getOrElse((a, b), 0L)))
              if (liveOutputs.contains(a + b)) stop = true
            }
          }
          // One simultaneous window apply for the whole batch.
          val isCand = batch.map { case (a, b, _) =>
            col("sym") === lit(a) && col("nxt") === lit(b)
          }.reduce(_ || _)
          val ct = px
            .withColumn("cand", isCand)
            .withColumn("grp", when(col("cand"), col("pos") -
              row_number().over(
                Window.partitionBy(col("word"), col("cand")).orderBy("pos"))))
            .withColumn("take", col("cand") && (row_number().over(
              Window.partitionBy(col("word"), col("grp")).orderBy("pos"))
              % 2 === 1))
          corpus = ct
            .withColumn("merged",
              when(col("take"), concat(col("sym"), col("nxt")))
                .otherwise(col("sym")))
            .withColumn("prev_take",
              coalesce(lag("take", 1).over(w), lit(false)))
            .filter(!col("prev_take"))
            .select(col("word"), col("freq"),
              row_number().over(w).as("pos"), col("merged").as("sym"))
            .localCheckpoint(true)
          val base = acc.size
          acc ++= batch.zipWithIndex.map { case ((a, b, cnt), i) =>
            (base + i + 1, a, b, cnt)
          }
        }
        px.unpersist()
      }
      (acc.toSeq.toDF("step", "lhs", "rhs", "pair_count"), corpus)
    }

  /** DuckDB twin: the same K rounds unrolled, generated from the same
    * pattern/K constants. Window semantics (run grouping, odd-index take,
    * lag-drop) mirror [[trainMerges]] clause for clause. */
  def mergeOracleSql: String = {
    val union = (1 to K).map(i =>
      s"SELECT $i AS step, a AS lhs, b AS rhs, cnt AS pair_count FROM m$i")
      .mkString(" UNION ALL ")
    "WITH " + oracleCtes + s"\nSELECT * FROM ($union) ORDER BY step"
  }

  /** DuckDB twin of [[encodeCounts]]: the final unrolled corpus joined
    * back to each document's word stream. */
  def encodeOracleSql: String = {
    val p = TextAnalysis.BpePattern.replace("'", "''")
    "WITH " + oracleCtes +
      s"""
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(np) AS BIGINT) AS n_pieces
         |FROM (SELECT doc_id, unnest(regexp_extract_all(text, '$p')) AS word
         |      FROM documents) dw
         |JOIN (SELECT word, count(*) AS np FROM corpus$K GROUP BY word) wc
         |  USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private def oracleCtes: String = {
    val p = TextAnalysis.BpePattern.replace("'", "''")
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""wf AS MATERIALIZED (
         |  SELECT word, count(*) AS freq FROM (
         |    SELECT unnest(regexp_extract_all(text, '$p')) AS word
         |    FROM documents)
         |  GROUP BY word)""".stripMargin,
      """corpus0 AS MATERIALIZED (
        |  SELECT word, freq, i AS pos,
        |    substr(word, CAST(i AS INTEGER), 1) AS sym
        |  FROM wf, unnest(generate_series(1, length(word))) AS t(i))"""
        .stripMargin)
    (1 to K).foreach { i =>
      ctes += s"""px$i AS MATERIALIZED (
        |  SELECT word, freq, pos, sym,
        |    lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
        |  FROM corpus${i - 1})""".stripMargin
      ctes += s"""m$i AS MATERIALIZED (
        |  SELECT sym AS a, nxt AS b, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM px$i WHERE nxt IS NOT NULL
        |  GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin
      ctes += s"""ct$i AS (
        |  SELECT *, cand AND (row_number()
        |      OVER (PARTITION BY word, grp ORDER BY pos) % 2 = 1) AS take
        |  FROM (SELECT *, CASE WHEN cand THEN pos - row_number()
        |          OVER (PARTITION BY word, cand ORDER BY pos) END AS grp
        |        FROM (SELECT p.*, (p.sym = m.a AND p.nxt = m.b) AS cand
        |              FROM px$i p, m$i m)))""".stripMargin
      ctes += s"""corpus$i AS MATERIALIZED (
        |  SELECT word, freq,
        |    row_number() OVER (PARTITION BY word ORDER BY pos) AS pos, sym
        |  FROM (
        |    SELECT word, freq, pos,
        |      CASE WHEN take THEN sym || nxt ELSE sym END AS sym,
        |      coalesce(lag(take) OVER (PARTITION BY word ORDER BY pos),
        |        false) AS prev_take
        |    FROM ct$i)
        |  WHERE NOT prev_take)""".stripMargin
    }
    ctes.mkString(",\n")
  }
}
