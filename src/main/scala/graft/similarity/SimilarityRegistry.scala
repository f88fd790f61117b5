package graft.similarity

import graft.Registry

/** Registry + DuckDB oracle twins for similarity search. The SQL is
  * generated from the same hyperplane constants as the Spark plans
  * (Similarity.planes), and all vector arithmetic is written as
  * `list_sum(list_transform(...))` over doubles — the same left→right
  * IEEE-754 fold Spark's `aggregate(zip_with(...))` performs, so cosine
  * values are bit-identical across engines. The IVF/PQ serving family
  * gets EXACT twins through [[adaptiveOracles]] (trained index metadata
  * pinned as literals); only the composite quality report stays
  * rows-only.
  */
object SimilarityRegistry {
  private val SeedVec = 0L

  /** Double dot of the `embedding` column with another list expression. */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

  private def norm2Sql(a: String): String =
    s"list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

  private[graft] def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${norm2Sql(a)}) * sqrt(${norm2Sql(b)}))"

  /** Truncation-recall twin, parameterized by the seed list (shared by
    * the pinned row and the ~100-seed sweep — one SQL text, two seed
    * sets). Semantically the Spark side's conjunctive rank filter and
    * this join-of-two-top-k-sets are identical: a row survives both
    * iff both row_numbers are ≤ k. */
  private def truncationOracleSql(seedList: Seq[Long]): String = {
    val seeds = seedList.mkString(", ")
    val (k, dims) = (20, 16)
    s"""WITH sd AS (SELECT vec_id AS seed_id, embedding AS se
       |  FROM embeddings WHERE vec_id IN ($seeds)),
       |sc AS (SELECT seed_id, vec_id,
       |  ${cosSql("embedding", "se")} AS cos_full,
       |  ${cosSql(s"embedding[1:$dims]", s"se[1:$dims]")} AS cos_trunc
       |FROM embeddings, sd WHERE vec_id <> seed_id),
       |f AS (SELECT seed_id, vec_id FROM (
       |  SELECT seed_id, vec_id, row_number() OVER (
       |    PARTITION BY seed_id ORDER BY cos_full DESC, vec_id) AS rk
       |  FROM sc) WHERE rk <= $k),
       |t AS (SELECT seed_id, vec_id FROM (
       |  SELECT seed_id, vec_id, row_number() OVER (
       |    PARTITION BY seed_id ORDER BY cos_trunc DESC, vec_id) AS rk
       |  FROM sc) WHERE rk <= $k),
       |o AS (SELECT seed_id, count(*) AS n_overlap
       |  FROM f JOIN t USING (seed_id, vec_id) GROUP BY seed_id)
       |SELECT sd.seed_id,
       |  CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
       |  CAST(coalesce(n_overlap, 0) AS DOUBLE) / $k AS recall_at_k
       |FROM sd LEFT JOIN o USING (seed_id)
       |ORDER BY seed_id""".stripMargin
  }

  /** Literal SQL array for hyperplane j. */
  private def planeSql(j: Int): String =
    Similarity.planes(j).map(w => if (w > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]")

  private val SigSql: String =
    (0 until Similarity.NumPlanes).map { j =>
      s"(CASE WHEN ${dotSql("embedding", planeSql(j))} >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  private val BandSelects: String =
    (0 until Similarity.Bands).map { b =>
      val mask = (1L << Similarity.BandBits) - 1
      s"SELECT vec_id, $b AS band, (sig >> ${b * Similarity.BandBits}) & $mask AS key FROM sig"
    }.mkString(" UNION ALL ")

  /** Shared pair-graph CTEs (signatures → bands → candidates → exact
    * verify at 0.4) — reused by the pairs row and the cluster row. */
  private[graft] val PairCtes: String =
    s"""sig AS MATERIALIZED (SELECT vec_id, $SigSql AS sig FROM embeddings),
       |buckets AS ($BandSelects),
       |cand AS (SELECT DISTINCT b1.vec_id AS d1, b2.vec_id AS d2
       |         FROM buckets b1 JOIN buckets b2
       |           ON b1.band = b2.band AND b1.key = b2.key
       |          AND b1.vec_id < b2.vec_id),
       |ver AS (SELECT d1, d2,
       |          ${cosSql("e1.embedding", "e2.embedding")} AS cos
       |        FROM cand JOIN embeddings e1 ON e1.vec_id = d1
       |                  JOIN embeddings e2 ON e2.vec_id = d2),
       |pairs AS MATERIALIZED (SELECT d1, d2 FROM ver WHERE cos >= 0.4)""".stripMargin

  // Declared BEFORE `registry`: the registry's oracle strings read it at
  // object init, and a later declaration would still be 0 at that point
  // (silent forward reference).
  private[graft] val DupRounds = 5

  val registry: Registry = Registry(
    queries = Map(
      "sim_norms" -> ((s, d) => Similarity.norms(s, d)),
      "sim_label_centroids" -> ((s, d) => Similarity.labelCentroids(s, d)),
      "sim_centroid_outliers" -> ((s, d) =>
        Similarity.centroidOutliers(s, d)),
      "sim_cosine_topk" -> ((s, d) => Similarity.cosineTopK(s, d, SeedVec)),
      "sim_srp_lsh_pairs" -> ((s, d) => Similarity.srpLshPairs(s, d)),
      "sim_dup_clusters" -> ((s, d) => Similarity.dupClusters(s, d)),
      // The IVF/PQ serving tier: exact adaptive oracles (pinned index
      // metadata, [[adaptiveOracles]]) + SimilaritySpec recall floors
      // and the must-beat-one-code reconstruction baseline.
      "sim_ann_ivf_topk" -> ((s, d) => Similarity.ivfTopK(s, d, SeedVec)),
      "sim_quantize_int8" -> ((s, d) => Similarity.quantizeInt8(s, d)),
      "sim_pq_report" -> ((s, d) => Similarity.pqReport(s, d)),
      "sim_pq_topk" -> ((s, d) => Similarity.pqTopK(s, d, SeedVec)),
      "sim_ivfpq_topk" -> ((s, d) => Similarity.ivfPqTopK(s, d, SeedVec)),
      "sim_ann_quality" -> ((s, d) =>
        Similarity.annQualityReport(s, d, SeedVec)),
      "sim_centroid_shift" -> ((s, d) => Similarity.centroidShift(s, d)),
      "emb_coverage" -> ((s, d) => Similarity.vectorCoverage(s, d)),
      "sim_semdedup" -> ((s, d) => Similarity.semDedupReport(s, d)),
      "sim_knn_join" -> ((s, d) => Similarity.knnJoin(s, d)),
      "sim_ivf_rerank" -> ((s, d) =>
        Similarity.ivfRerankTopK(s, d, SeedVec)),
      "sim_power_iteration" -> ((s, d) => Similarity.powerIteration(s, d)),
      // Matryoshka-style audit: exact top-k overlap between full-dim
      // and first-16-dim cosine, per seed — pinned 8 seeds and the
      // ~100-seed sweep (VERDICT r12 item 8).
      "sim_truncation_recall" -> ((s, d) =>
        Similarity.truncationRecall(s, d)),
      "sim_truncation_sweep" -> ((s, d) =>
        Similarity.truncationRecall(s, d, Similarity.TruncationSweepSeeds))
    ),
    oracles = Map(
      "sim_truncation_recall" ->
        truncationOracleSql(Similarity.TruncationSeeds),
      "sim_truncation_sweep" ->
        truncationOracleSql(Similarity.TruncationSweepSeeds),
      "sim_norms" ->
        s"""SELECT vec_id, label, sqrt(${norm2Sql("embedding")}) AS l2
           |FROM embeddings ORDER BY vec_id""".stripMargin,
      "sim_power_iteration" -> powerIterationSql(3),
      // Semi-join coverage: exact counts, one final division.
      "emb_coverage" ->
        """WITH wv AS (SELECT doc_id FROM documents
          |  WHERE doc_id IN (SELECT vec_id FROM embeddings))
          |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(count(w.doc_id) AS BIGINT) AS n_with_vec,
          |  CAST(count(w.doc_id) AS DOUBLE) / count(*) AS coverage
          |FROM documents d LEFT JOIN wv w USING (doc_id)
          |GROUP BY d.source ORDER BY d.source""".stripMargin,
      // Mirrors the fixed-fan-in fold tree (Similarity.labelCentroids,
      // chunkBits 5/10): vec_id // 32 leaf chunks, // 32 merge, root fold.
      "sim_label_centroids" ->
        """WITH u AS (SELECT vec_id, label, unnest(embedding) AS x,
          |  unnest(generate_series(1, len(embedding))) AS ord
          |FROM embeddings),
          |l0 AS (SELECT label, ord - 1 AS dim, vec_id // 32 AS chunk,
          |  list_sum(list_sort(list(CAST(x AS DOUBLE)))) AS ps, count(*) AS c
          |FROM u GROUP BY 1, 2, 3),
          |l1 AS (SELECT label, dim, chunk // 32 AS chunk,
          |  list_sum(list_sort(list(ps))) AS ps, sum(c) AS c
          |FROM l0 GROUP BY 1, 2, 3)
          |SELECT label, CAST(dim AS INTEGER) AS dim,
          |  list_sum(list_sort(list(ps))) / sum(c) AS mean
          |FROM l1 GROUP BY label, dim
          |ORDER BY label, dim""".stripMargin,
      // Same fold tree as the centroids; the per-vector cosine is the
      // positional dot both engines share, the flag an exact 0.5.
      "sim_centroid_outliers" ->
        s"""WITH u AS (SELECT vec_id, label, unnest(embedding) AS x,
           |  unnest(generate_series(1, len(embedding))) AS ord
           |FROM embeddings),
           |l0 AS (SELECT label, ord - 1 AS dim, vec_id // 32 AS chunk,
           |  list_sum(list_sort(list(CAST(x AS DOUBLE)))) AS ps, count(*) AS c
           |FROM u GROUP BY 1, 2, 3),
           |l1 AS (SELECT label, dim, chunk // 32 AS chunk,
           |  list_sum(list_sort(list(ps))) AS ps, sum(c) AS c
           |FROM l0 GROUP BY 1, 2, 3),
           |m AS (SELECT label, dim,
           |  list_sum(list_sort(list(ps))) / sum(c) AS mean
           |FROM l1 GROUP BY label, dim),
           |cv AS (SELECT label, list(mean ORDER BY dim) AS cvec
           |  FROM m GROUP BY label),
           |cs AS (SELECT e.label, ${cosSql("e.embedding", "cv.cvec")} AS cos
           |  FROM embeddings e JOIN cv USING (label))
           |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
           |  CAST(count(CASE WHEN cos < 0.5 THEN 1 END) AS BIGINT)
           |    AS n_outliers,
           |  min(cos) AS min_cos
           |FROM cs GROUP BY label ORDER BY label""".stripMargin,
      // Both halves run the same fold tree; the cross-dim Σdiff² is a
      // sorted fold too, so the final sqrt is bit-identical.
      "sim_centroid_shift" ->
        """WITH u AS MATERIALIZED (SELECT vec_id, label,
          |  unnest(embedding) AS x,
          |  unnest(generate_series(1, len(embedding))) AS ord
          |FROM embeddings),
          |l0 AS (SELECT vec_id % 2 AS half, label, ord - 1 AS dim,
          |  vec_id // 32 AS chunk,
          |  list_sum(list_sort(list(CAST(x AS DOUBLE)))) AS ps, count(*) AS c
          |FROM u GROUP BY 1, 2, 3, 4),
          |l1 AS (SELECT half, label, dim, chunk // 32 AS chunk,
          |  list_sum(list_sort(list(ps))) AS ps, sum(c) AS c
          |FROM l0 GROUP BY 1, 2, 3, 4),
          |m AS (SELECT half, label, dim,
          |  list_sum(list_sort(list(ps))) / sum(c) AS mean
          |FROM l1 GROUP BY 1, 2, 3)
          |SELECT a.label,
          |  sqrt(list_sum(list_sort(list(
          |    (a.mean - b.mean) * (a.mean - b.mean))))) AS l2_shift
          |FROM m a JOIN m b ON a.label = b.label AND a.dim = b.dim
          |  AND a.half = 0 AND b.half = 1
          |GROUP BY a.label
          |ORDER BY a.label""".stripMargin,
      "sim_cosine_topk" ->
        s"""WITH s AS (SELECT embedding AS se FROM embeddings WHERE vec_id = $SeedVec)
           |SELECT vec_id, label, ${cosSql("embedding", "se")} AS cos
           |FROM embeddings, s
           |WHERE vec_id <> $SeedVec
           |ORDER BY cos DESC, vec_id ASC
           |LIMIT 20""".stripMargin,
      "sim_srp_lsh_pairs" ->
        s"""WITH $PairCtes
           |SELECT p.d1, p.d2, v.cos FROM pairs p
           |JOIN ver v ON v.d1 = p.d1 AND v.d2 = p.d2
           |ORDER BY p.d1, p.d2""".stripMargin,
      // Min-label propagation over the pair graph (5 rounds, mirrored in
      // Similarity.dupClusters); every c$i MATERIALIZED — each round
      // reads the previous twice, so inlining would expand 2^rounds.
      "sim_dup_clusters" ->
        s"""WITH ${dupAssignCtes(DupRounds)}
           |SELECT comp AS keep_vec_id, count(*) AS n_members
           |FROM c$DupRounds GROUP BY comp HAVING count(*) > 1
           |ORDER BY keep_vec_id""".stripMargin,
      // floor(x*scale + 0.5) is the explicit rounding rule on both sides —
      // never round(), whose half-mode is engine-specific.
      "sim_quantize_int8" ->
        """WITH v AS (SELECT vec_id,
          |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          |  FROM embeddings),
          |m AS (SELECT vec_id, e,
          |    list_max(list_transform(e, x -> abs(x))) AS max_abs FROM v),
          |s AS (SELECT vec_id, e, max_abs,
          |    CAST(127.0 AS DOUBLE) / max_abs AS scale
          |  FROM m WHERE max_abs > 0),
          |q AS (SELECT vec_id, max_abs,
          |    list_transform(e, x -> x - floor(x * scale + 0.5) / scale) AS err
          |  FROM s)
          |SELECT vec_id, max_abs,
          |  list_sum(list_sort(list_transform(err, x -> x * x)))
          |    / len(err) AS mse,
          |  list_max(list_transform(err, x -> abs(x))) AS max_err
          |FROM q ORDER BY vec_id""".stripMargin
    )
  )

  /** Twin of Similarity.powerIteration: the same well-formed-row gate
    * (64 elements, none null: list_count skips NULLs), unrolled rounds,
    * the same two-level chunked sorted folds, the same fixed-order norm
    * chain. */
  private def powerIterationSql(iters: Int): String = {
    val dim = 64
    val dots = (0 until dim).map(d => s"e[${d + 1}] * c$d").mkString(" + ")
    val lvlCols = (0 until dim)
      .map(d => s"list_sum(list_sort(list(e[${d + 1}] * s))) AS u$d")
      .mkString(",\n    ")
    val rootCols = (0 until dim)
      .map(d => s"list_sum(list_sort(list(u$d))) AS u$d")
      .mkString(",\n    ")
    val nrm = "sqrt(" +
      (0 until dim).map(d => s"u$d * u$d").mkString(" + ") + ")"
    val head =
      s"""WITH ve AS MATERIALIZED (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings
         |  WHERE len(embedding) = $dim AND list_count(embedding) = $dim),
         |pv0 AS (SELECT ${(0 until dim)
          .map(d => s"CAST(0.125 AS DOUBLE) AS c$d").mkString(", ")})"""
        .stripMargin
    val rounds = (1 to iters).map { i =>
      s"""sc$i AS (SELECT vec_id, e, $dots AS s FROM ve, pv${i - 1}),
         |lv$i AS (SELECT vec_id // 1024 AS chunk,
         |    $lvlCols
         |  FROM sc$i GROUP BY chunk),
         |uu$i AS MATERIALIZED (SELECT
         |    $rootCols
         |  FROM lv$i),
         |pv$i AS (SELECT ${(0 until dim)
          .map(d => s"u$d / $nrm AS c$d").mkString(", ")} FROM uu$i)"""
        .stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"""
         |SELECT l.dim, l.loading, g.gain FROM (
         |  SELECT unnest(range($dim)) AS dim,
         |    unnest([${(0 until dim).map(d => s"c$d").mkString(", ")}])
         |      AS loading
         |  FROM pv$iters) l,
         |  (SELECT $nrm AS gain FROM uu$iters) g
         |ORDER BY l.dim""".stripMargin
  }

  /** Index-adaptive oracle overlay (Verify merges it over the static
    * map): the IVF/PQ serving queries get EXACT DuckDB twins by pinning
    * the trained index metadata — KMeans centroids, PQ codebooks, the
    * seed's ADC tables — as literal arrays in the SQL. The metadata
    * comes from the SAME memoized index state the dumped Spark results
    * read (one training run per session), and every per-row computation
    * on both engines is the identical left→right double fold:
    * cluster/code = first-argmin of squared L2 against the literals
    * (Similarity.assignCells/codeOf ↔ list_position(d, list_min(d))),
    * ADC = the same pinned table values summed left-assoc. What WAS
    * rows-only because "KMeans is not SQL-expressible" is exact once
    * the fit is index metadata rather than query-time work. */
  def adaptiveOracles(spark: org.apache.spark.sql.SparkSession,
                      dir: String): Map[String, String] = {
    val (m, kCodes) = (8, 16)
    val sub = 64 / m
    val centers = Similarity.ivfCenters(spark, dir)
    val probes = Similarity.ivfProbes(spark, dir, SeedVec)
    val books = Similarity.pqBooks(spark, dir, m, kCodes)
    val tablesOpt = Similarity.adcTables(spark, dir, SeedVec, m, kCodes)
    if (probes.isEmpty || tablesOpt.isEmpty) return Map.empty
    val tables = tablesOpt.get
    // E-notation forces each element to parse as a DOUBLE literal
    // (17 fractional digits → exact round-trip). Plain decimal notation
    // would unify the list to a DECIMAL type whose fixed scale rounds
    // long-mantissa values by 1 ulp before any cast can save them.
    def arr(c: Array[Double]): String =
      c.map(d => String.format(java.util.Locale.ROOT, "%.17E", Double.box(d)))
        .mkString("[", ", ", "]")
    // Same fold as Similarity.sqdistCol: zip, per-element (a-b)^2, sum.
    def sqd(e: String, c: Array[Double]): String =
      s"list_sum(list_transform(list_zip($e, ${arr(c)}), " +
        "p -> (p[1] - CAST(p[2] AS DOUBLE)) * (p[1] - CAST(p[2] AS DOUBLE))))"
    val vCte =
      """v AS MATERIALIZED (SELECT vec_id, label, embedding,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |FROM embeddings)""".stripMargin
    val clCte =
      s"""asg AS (SELECT vec_id, label, embedding,
         |  ${centers.map(c => sqd("e", c)).mkString("[", ",\n   ", "]")} AS dists
         |FROM v),
         |cl AS (SELECT vec_id, label, embedding,
         |  list_position(dists, list_min(dists)) - 1 AS cluster FROM asg)""".stripMargin
    val dlCte = "dl AS (SELECT vec_id, label,\n" +
      (0 until m).map { j =>
        val slice = s"e[${j * sub + 1}:${(j + 1) * sub}]"
        books(j).map(c => sqd(slice, c))
          .mkString("  [", ",\n   ", s"] AS dj$j")
      }.mkString(",\n") + "\nFROM v)"
    val codesCte = "codes AS (SELECT vec_id, label,\n" +
      (0 until m).map(j =>
        s"  list_position(dj$j, list_min(dj$j)) - 1 AS c$j")
        .mkString(",\n") + "\nFROM dl)"
    // Each pinned table value casts back to the exact double the Spark
    // literal holds (shortest-repr round-trip); the sum is then the
    // same left-assoc double chain as the Spark reduce.
    val adcExpr = (0 until m)
      .map(j => s"CAST((${arr(tables(j))})[c$j + 1] AS DOUBLE)")
      .mkString(" + ")
    val probeList = probes.mkString(", ")
    val seedCte =
      s"s AS (SELECT embedding AS se FROM embeddings WHERE vec_id = $SeedVec)"
    Map(
      "sim_ann_ivf_topk" ->
        s"""WITH $vCte,
           |$clCte,
           |$seedCte
           |SELECT vec_id, label, ${cosSql("embedding", "se")} AS cos
           |FROM cl, s
           |WHERE cluster IN ($probeList) AND vec_id <> $SeedVec
           |ORDER BY cos DESC, vec_id ASC
           |LIMIT 20""".stripMargin,
      "sim_pq_topk" ->
        s"""WITH $vCte,
           |$dlCte,
           |$codesCte
           |SELECT vec_id, label, $adcExpr AS adc_d2
           |FROM codes
           |WHERE vec_id <> $SeedVec
           |ORDER BY adc_d2 ASC, vec_id ASC
           |LIMIT 20""".stripMargin,
      "sim_ivfpq_topk" ->
        s"""WITH $vCte,
           |$clCte,
           |$dlCte,
           |$codesCte
           |SELECT cl.vec_id, cl.label, $adcExpr AS adc_d2
           |FROM cl JOIN codes ON cl.vec_id = codes.vec_id
           |WHERE cl.cluster IN ($probeList) AND cl.vec_id <> $SeedVec
           |ORDER BY adc_d2 ASC, cl.vec_id ASC
           |LIMIT 20""".stripMargin,
      "sim_pq_report" -> {
        val branches = (0 until m).map { j =>
          s"SELECT $j AS subspace, " +
            s"list_position(dj$j, list_min(dj$j)) - 1 AS code, " +
            s"list_min(dj$j) AS sqerr FROM dl"
        }.mkString("\nUNION ALL\n")
        s"""WITH $vCte,
           |$dlCte,
           |subs AS ($branches)
           |SELECT subspace, CAST(count(*) AS BIGINT) AS n_vectors,
           |  list_sum(list_sort(list(sqerr))) / (count(*) * $sub) AS mse,
           |  CAST(count(DISTINCT code) AS BIGINT) AS n_codes_used
           |FROM subs GROUP BY subspace ORDER BY subspace""".stripMargin
      },
      // SemDeDup: within-cell pairs at the verify threshold, keep-min
      // drop rule — cell assignment via the pinned centroids.
      "sim_semdedup" ->
        s"""WITH $vCte,
           |$clCte,
           |p2 AS (SELECT a.cluster, a.vec_id AS v1, b.vec_id AS v2
           |  FROM cl a JOIN cl b
           |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.4),
           |per AS (SELECT cluster, count(*) AS n_vectors
           |        FROM cl GROUP BY cluster),
           |pc AS (SELECT cluster, count(*) AS n_dup_pairs
           |       FROM p2 GROUP BY cluster),
           |dr AS (SELECT cluster, count(DISTINCT v2) AS n_dropped
           |       FROM p2 GROUP BY cluster)
           |SELECT CAST(per.cluster AS BIGINT) AS cluster,
           |  CAST(per.n_vectors AS BIGINT) AS n_vectors,
           |  CAST(coalesce(pc.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           |  CAST(coalesce(dr.n_dropped, 0) AS BIGINT) AS n_dropped
           |FROM per LEFT JOIN pc ON per.cluster = pc.cluster
           |         LEFT JOIN dr ON per.cluster = dr.cluster
           |ORDER BY cluster""".stripMargin,
      // Batch kNN join: per-vector probe list = nProbe first entries of
      // the sorted (distance, cell) pairs; candidates keyed by cell.
      // k / nProbe come from Similarity.KnnJoinK / KnnJoinNProbe — the
      // same defaults the Spark closure uses — so the twin cannot drift.
      "sim_knn_join" ->
        s"""WITH $vCte,
           |$clCte,
           |pr AS (SELECT vec_id AS q, embedding AS qe, unnest(
           |    list_transform(list_sort(list_zip(dists,
           |      range(len(dists)))), p -> p[2])[1:${Similarity.KnnJoinNProbe}]) AS cluster
           |  FROM asg),
           |cand AS (SELECT DISTINCT pr.q, c.vec_id AS nn,
           |    ${cosSql("pr.qe", "c.embedding")} AS cos
           |  FROM pr JOIN cl c
           |    ON c.cluster = pr.cluster AND c.vec_id <> pr.q)
           |SELECT q AS vec_id, nn AS nn_vec_id, cos,
           |  CAST(row_number() OVER (PARTITION BY q
           |    ORDER BY cos DESC, nn) AS BIGINT) AS rk
           |FROM cand QUALIFY rk <= ${Similarity.KnnJoinK} ORDER BY vec_id, rk""".stripMargin,
      // Coarse-then-refine: the IVF-PQ ADC top-40 list re-ranked by
      // exact cosine over only those rows' float vectors.
      "sim_ivf_rerank" ->
        s"""WITH $vCte,
           |$clCte,
           |$dlCte,
           |$codesCte,
           |$seedCte,
           |coarse AS (SELECT cl.vec_id FROM cl JOIN codes
           |    ON cl.vec_id = codes.vec_id
           |  WHERE cl.cluster IN ($probeList) AND cl.vec_id <> $SeedVec
           |  ORDER BY $adcExpr ASC, cl.vec_id LIMIT 40)
           |SELECT v.vec_id, v.label,
           |  ${cosSql("v.embedding", "se")} AS cos
           |FROM v JOIN coarse USING (vec_id), s
           |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
      // Recall@k of each serving path against its exact baseline: every
      // ranking below is the SAME top-k list its standalone oracle
      // produces, and recall is an exact integer intersection / k.
      "sim_ann_quality" -> {
        val k = 20
        s"""WITH $vCte,
           |$clCte,
           |$dlCte,
           |$codesCte,
           |$seedCte,
           |sd AS (SELECT list_transform(se, x -> CAST(x AS DOUBLE)) AS sed
           |       FROM s),
           |exact_cos AS (SELECT vec_id FROM embeddings, s
           |  WHERE vec_id <> $SeedVec
           |  ORDER BY ${cosSql("embedding", "se")} DESC, vec_id LIMIT $k),
           |exact_l2 AS (SELECT vec_id FROM v, sd
           |  WHERE vec_id <> $SeedVec
           |  ORDER BY list_sum(list_transform(list_zip(e, sed),
           |    p -> (p[1] - p[2]) * (p[1] - p[2]))) ASC, vec_id LIMIT $k),
           |ivf AS (SELECT vec_id FROM cl, s
           |  WHERE cluster IN ($probeList) AND vec_id <> $SeedVec
           |  ORDER BY ${cosSql("embedding", "se")} DESC, vec_id LIMIT $k),
           |pq AS (SELECT vec_id FROM codes
           |  WHERE vec_id <> $SeedVec
           |  ORDER BY $adcExpr ASC, vec_id LIMIT $k),
           |ivfpq AS (SELECT cl.vec_id FROM cl JOIN codes
           |    ON cl.vec_id = codes.vec_id
           |  WHERE cl.cluster IN ($probeList) AND cl.vec_id <> $SeedVec
           |  ORDER BY $adcExpr ASC, cl.vec_id LIMIT $k)
           |SELECT * FROM (
           |  SELECT 'ivf' AS method, 'cosine' AS baseline,
           |    CAST((SELECT count(*) FROM ivf
           |      WHERE vec_id IN (SELECT vec_id FROM exact_cos)) AS DOUBLE)
           |      / $k AS recall_at_k,
           |    (SELECT count(*) FROM ivf) AS n_results
           |  UNION ALL
           |  SELECT 'pq_adc', 'l2',
           |    CAST((SELECT count(*) FROM pq
           |      WHERE vec_id IN (SELECT vec_id FROM exact_l2)) AS DOUBLE)
           |      / $k,
           |    (SELECT count(*) FROM pq)
           |  UNION ALL
           |  SELECT 'ivf_pq', 'l2',
           |    CAST((SELECT count(*) FROM ivfpq
           |      WHERE vec_id IN (SELECT vec_id FROM exact_l2)) AS DOUBLE)
           |      / $k,
           |    (SELECT count(*) FROM ivfpq)
           |) ORDER BY method""".stripMargin
      })
  }

  /** Pair graph + unrolled min-label propagation, ending at the
    * assignment relation `c<rounds>`(id, comp) — the twin of
    * Similarity.dupAssignments, shared with the curation tier's
    * near-dup drop. */
  private[graft] def dupAssignCtes(rounds: Int): String = {
    val head =
      s"""$PairCtes,
         |und AS MATERIALIZED (SELECT d1, d2 FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |c0 AS MATERIALIZED (SELECT DISTINCT d1 AS id, d1 AS comp FROM und)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (SELECT id, min(comp) AS comp FROM (
         |  SELECT id, comp FROM c${i - 1}
         |  UNION ALL
         |  SELECT u.d2 AS id, c.comp FROM und u JOIN c${i - 1} c ON c.id = u.d1
         |) GROUP BY id)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }
}
