package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The reference's query-engine surface: the four `/recs` Cypher queries
  * (reference `app/main.py:23-135`), re-expressed as Catalyst plans over the
  * testdata stand-ins (FIXTURES.md §1): part = Product (category = p_brand),
  * orders = Order, lineitem = order_items (CONTAINS edges).
  *
  * Scale posture: every query starts from a point-filtered seed side, so the
  * expensive joins are broadcast-hash against a tiny broadcast relation —
  * no full shuffle of the fact table at any scale. Top-k compiles to
  * `TakeOrderedAndProject` (no global sort).
  */
object Recs {

  /** Raw (order, product) incidence rows, pre-dedup. Per-seed queries
    * dedup AFTER broadcast-pruning to the seed's orders: Catalyst cannot
    * push a join below an Aggregate, so `distinct().join(...)` would
    * shuffle the full fact table at 100 TB, while `join(...).distinct()`
    * shuffles only the pruned slice. The two commute for semi-join-shaped
    * plans, so results (and oracles) are unchanged. */
  private def rawItems(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("order_id"), col("l_partkey").as("product_id"))

  /** CONTAINS edge set: one edge per (order, product) — Cypher MERGE
    * collapses duplicate order-items into one edge (reference
    * `app/etl.py:240-247`, SURVEY §2.4 A6). Whole-table dedup: only for
    * consumers that genuinely need the full edge set (graph build,
    * all-pairs). */
  def containsEdges(spark: SparkSession, dir: String): DataFrame =
    // Spread before the dedup: the distinct's map-side hash agg is the
    // expensive half, and an unsplittable scan would run it one-task.
    Tables.spread(spark, rawItems(spark, dir)).distinct()

  /** J1+A1+O1 — basket co-occurrence for a seed product, the flagship read
    * path (reference `app/main.py:51-60`):
    * `(p {id:$pid})<-[:CONTAINS]-(o)-[:CONTAINS]->(other)
    *  RETURN other.id, count(*) AS score ORDER BY score DESC LIMIT k`.
    * The Cypher 2-hop expansion is a self-join of the CONTAINS edge set on
    * order id; seed side is point-filtered → broadcast.
    */
  def coOccurrence(spark: SparkSession, dir: String, seedPart: Long,
                   k: Int = 10): DataFrame =
    coOccurrenceScores(spark, dir, seedPart)
      .withColumn("reason", lit("co-occurrence"))
      .orderBy(desc("score"), asc("product_id"))
      .limit(k)

  /** All of the seed's co-occurring products, scored by shared orders —
    * behind [[coOccurrence]]'s top-k and [[rrfFusion]]'s co rank. */
  private def coOccurrenceScores(spark: SparkSession, dir: String,
                                 seedPart: Long): DataFrame = {
    val li = rawItems(spark, dir)
    val seedOrders = li.filter(col("product_id") === seedPart)
      .select("order_id").distinct()
    li.filter(col("product_id") =!= seedPart)
      .join(broadcast(seedOrders), "order_id")
      .distinct() // A6 dedup on the pruned slice, not the full table
      .groupBy("product_id")
      .agg(count(lit(1)).cast("double").as("score"))
  }

  /** J2+O2 — same-category fallback (reference `app/main.py:72-84`):
    * products sharing the seed's category, constant score 1.0. The bare
    * Cypher `LIMIT 10` is non-deterministic; we impose a total order
    * (FIXTURES.md §3) so the oracle hash-match is stable. */
  def sameCategory(spark: SparkSession, dir: String, seedPart: Long,
                   k: Int = 10): DataFrame =
    sameCategoryCandidates(spark, dir, seedPart)
      .select(col("product_id"), lit(1.0).as("score"),
        lit("same-category").as("reason"))
      .orderBy(asc("product_id"))
      .limit(k)

  /** All products sharing the seed's category, the seed excluded —
    * behind [[sameCategory]]'s top-k and [[rrfFusion]]'s category rank. */
  private def sameCategoryCandidates(spark: SparkSession, dir: String,
                                     seedPart: Long): DataFrame = {
    val part = Tables.load(spark, dir, "part")
      .select(col("p_partkey").as("product_id"), col("p_brand").as("category_id"))
    val seedCat = part.filter(col("product_id") === seedPart)
      .select("category_id")
    part.join(broadcast(seedCat), "category_id")
      .filter(col("product_id") =!= seedPart)
  }

  /** PLACED edge set: customer → order (reference `app/etl.py:222-233`). */
  private def placedEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("customer_id"), col("o_orderkey").as("order_id"))

  /** Products a customer has purchased — the J3/J5 seed set and the J4
    * anti-join right side (also used by the PPR recommender). Tiny after
    * the point filter → broadcast; the fact table is pruned by the
    * broadcast join BEFORE dedup. */
  def purchasedProducts(spark: SparkSession, dir: String,
                        custId: Long): DataFrame = {
    val myOrders = placedEdges(spark, dir)
      .filter(col("customer_id") === custId).select("order_id")
    rawItems(spark, dir).join(broadcast(myOrders), "order_id")
      .select("product_id").distinct()
  }

  /** J3+J4+A1+O1 — customer co-occurrence recs (reference
    * `app/main.py:88-104`): products co-occurring in orders with anything
    * the customer bought, minus what they already bought (existential
    * pattern negation → left-anti join).
    *
    * Scoring is Cypher `count(*)` over FULL path bindings
    * (c)-[:PLACED]->(o1)-[:CONTAINS]->(p)<-[:CONTAINS]-(o2)-[:CONTAINS]->(other):
    * an order holding N of the customer's purchased products contributes N
    * per (o1, p) binding to each co-occurring product — NOT 1 per distinct
    * co-order. Decomposed so nothing unbounded shuffles: score(other)
    * = Σ_{o2 ∋ other} w(o2), where w(o2) = Σ_{p ∈ o2 ∩ mine} m(p) and
    * m(p) = #customer orders containing p. (The Cypher's same-relationship
    * exclusion other ≠ p is subsumed by the anti-join: p is always
    * purchased.) All derived relations are seed-pruned and broadcast; the
    * fact table is only ever joined against broadcasts, then deduped on
    * the pruned slice (see rawItems). */
  def customerRecs(spark: SparkSession, dir: String, custId: Long,
                   k: Int = 10): DataFrame = {
    val li = rawItems(spark, dir)
    val myOrders = placedEdges(spark, dir)
      .filter(col("customer_id") === custId).select("order_id")
    // (o1, p) bindings: CONTAINS edges of the customer's own orders.
    val bind1 = li.join(broadcast(myOrders), "order_id").distinct()
    val mine = bind1.select("product_id").distinct()
    val multiplicity = bind1.groupBy("product_id")
      .agg(count(lit(1)).as("m"))
    // w(o2): path bindings arriving at each co-order through any p ∈ mine.
    val orderWeights = li.join(broadcast(multiplicity), "product_id")
      .select("order_id", "product_id", "m").distinct()
      .groupBy("order_id").agg(sum("m").as("w"))
    li.join(broadcast(orderWeights), "order_id")
      .select("order_id", "product_id", "w").distinct()
      .join(broadcast(mine), Seq("product_id"), "left_anti")
      .groupBy("product_id")
      .agg(sum("w").cast("double").as("score"))
      // reason string per the reference response shape (main.py:104)
      .withColumn("reason", lit("co-occurrence"))
      .orderBy(desc("score"), asc("product_id"))
      .limit(k)
  }

  /** J5+J4+A2+O2 — customer category fallback (reference
    * `app/main.py:110-123`): distinct products in categories the customer
    * has purchased from, minus already-purchased, constant score
    * (RETURN DISTINCT → binding multiplicity is irrelevant here). */
  def customerCategoryRecs(spark: SparkSession, dir: String, custId: Long,
                           k: Int = 10): DataFrame = {
    val part = Tables.load(spark, dir, "part")
      .select(col("p_partkey").as("product_id"), col("p_brand").as("category_id"))
    val mine = purchasedProducts(spark, dir, custId)
    val myCats = part.join(broadcast(mine), "product_id")
      .select("category_id").distinct()
    part.join(broadcast(myCats), "category_id")
      .join(broadcast(mine), Seq("product_id"), "left_anti")
      // reason string per the reference response shape (main.py:120)
      .select(col("product_id"), lit(1.0).as("score"),
        lit("same-category").as("reason"))
      .distinct()
      .orderBy(asc("product_id"))
      .limit(k)
  }

  /** Seed-sweep constants, shared by the DataFrame builders and the
    * DuckDB oracle strings (RecsRegistry derives the SQL from THESE, so
    * the two surfaces cannot drift — the param-drift rule). ~100 seeds:
    * every 7th key ascending, capped at 97, plus three out-of-domain
    * ids (negative / far past any key) that drive the cascade through
    * empty-co-occurrence → empty-fallback → 'none'. Note: in this
    * corpus every product co-occurs with something (verified at sf0.01
    * — zero empty-first-arm seeds exist), so instead of relying on
    * lucky seeds the sweep emits BOTH arms' top-1 and candidate count
    * for every seed: the fallback computation is oracle-pinned on all
    * ~100 seeds even where the cascade elects the first arm. */
  private[graft] val SweepStride = 7L
  private[graft] val SweepSeedCap = 97
  private[graft] val SweepMissingSeeds = Seq(-1L, -7L, 987654321987L)

  /** J1+A1+O1 swept over ~100 deterministic seed products at once, with
    * the J2 fallback arm computed alongside and the reference's cascade
    * (`app/main.py:51-84`: co-occurrence, else same-category) elected
    * per seed — the multi-seed audit of the single-seed rec rows, which
    * all pin seed 1 and would hide a seed-dependent tie-break bug.
    *
    * Set-based, not a driver loop: the seed list is a bounded (≤100-row)
    * broadcast, every seed-derived relation (seed orders, seed
    * categories) stays broadcast-sized, the fact table is only joined
    * against broadcasts and then deduped on the pruned slice (the
    * rawItems convention), and per-seed top-1 is a seed-partitioned
    * rank window over the (seed, candidate) aggregate — no global
    * window, no collect. At 100 TB this is ~100 broadcast-pruned scans
    * folded into one pass of the fact table. */
  def coOccurrenceSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val li = rawItems(spark, dir)
    val part = Tables.load(spark, dir, "part")
      .select(col("p_partkey").as("product_id"),
        col("p_brand").as("category_id"))
    val seeds = part
      .filter(col("product_id") % SweepStride === 1)
      .select(col("product_id").as("seed_id"))
      .orderBy("seed_id").limit(SweepSeedCap)
      .unionByName(SweepMissingSeeds.toDF("seed_id"))
    val seedItems = li
      .join(broadcast(seeds), col("product_id") === col("seed_id"))
      .select("seed_id", "order_id").distinct()
    val co = li.join(broadcast(seedItems), "order_id")
      .filter(col("product_id") =!= col("seed_id"))
      .select("seed_id", "order_id", "product_id").distinct()
      .groupBy("seed_id", "product_id").agg(count(lit(1)).as("score"))
    val rankW = Window.partitionBy("seed_id")
      .orderBy(desc("score"), asc("product_id"))
    val coAgg = co.withColumn("r", row_number().over(rankW))
      .groupBy("seed_id").agg(count(lit(1)).as("nco"),
        max(when(col("r") === 1, col("product_id"))).as("t1"),
        max(when(col("r") === 1, col("score"))).as("s1"))
    val seedCat = part
      .join(broadcast(seeds), col("product_id") === col("seed_id"))
      .select("seed_id", "category_id")
    val catAgg = part.join(broadcast(seedCat), "category_id")
      .filter(col("product_id") =!= col("seed_id"))
      .groupBy("seed_id")
      .agg(count(lit(1)).as("ncat"), min("product_id").as("ct1"))
    sweepCascade(seeds, coAgg, catAgg)
  }

  /** J3+J4+A1+O1 swept over ~100 deterministic seed customers with the
    * J5 category fallback alongside — the customer-side twin of
    * [[coOccurrenceSweep]], same cascade (`app/main.py:88-123`), same
    * Cypher path-binding multiplicity scoring as [[customerRecs]]
    * decomposed so nothing unbounded shuffles. The only non-broadcast
    * join is items ⋈ order-weights on order id (the co-order footprint
    * of ≤100 customers — data-dependent, so it is left to AQE rather
    * than hinted broadcast); everything else seed-derived stays
    * broadcast-sized. */
  def customerRecsSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val li = rawItems(spark, dir)
    val seeds = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("seed_id"))
      .filter(col("seed_id") % SweepStride === 1)
      .orderBy("seed_id").limit(SweepSeedCap)
      .unionByName(SweepMissingSeeds.toDF("seed_id"))
    val myOrders = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("seed_id"),
        col("o_orderkey").as("order_id"))
      .join(broadcast(seeds), "seed_id")
    val bind1 = li.join(broadcast(myOrders), "order_id")
      .select("seed_id", "order_id", "product_id").distinct()
    val mine = bind1.select("seed_id", "product_id").distinct()
    val mult = bind1.groupBy("seed_id", "product_id")
      .agg(count(lit(1)).as("m"))
    val orderWeights = li.join(broadcast(mult), "product_id")
      .select("seed_id", "order_id", "product_id", "m").distinct()
      .groupBy("seed_id", "order_id").agg(sum("m").as("w"))
    val scores = li.join(orderWeights, "order_id")
      .select("seed_id", "order_id", "product_id", "w").distinct()
      .join(broadcast(mine), Seq("seed_id", "product_id"), "left_anti")
      .groupBy("seed_id", "product_id")
      .agg(sum("w").cast("double").as("score"))
    val rankW = Window.partitionBy("seed_id")
      .orderBy(desc("score"), asc("product_id"))
    val coAgg = scores.withColumn("r", row_number().over(rankW))
      .groupBy("seed_id").agg(count(lit(1)).as("nco"),
        max(when(col("r") === 1, col("product_id"))).as("t1"),
        max(when(col("r") === 1, col("score"))).as("s1"))
    val part = Tables.load(spark, dir, "part")
      .select(col("p_partkey").as("product_id"),
        col("p_brand").as("category_id"))
    val myCats = part.join(broadcast(mine), "product_id")
      .select("seed_id", "category_id").distinct()
    val catAgg = part.join(broadcast(myCats), "category_id")
      .join(broadcast(mine), Seq("seed_id", "product_id"), "left_anti")
      .groupBy("seed_id")
      .agg(count(lit(1)).as("ncat"), min("product_id").as("ct1"))
    sweepCascade(seeds, coAgg, catAgg)
  }

  /** Shared cascade election + output shape of the two sweep rows:
    * reason = first non-empty arm ('none' if both empty — the
    * out-of-domain seeds), elected top-1 id/score, and both arms'
    * candidate count and top-1 pinned per seed (-1/0 sentinels instead
    * of nulls — cross-engine null canonicalization is not worth
    * gambling the hash on). */
  private def sweepCascade(seeds: DataFrame, coAgg: DataFrame,
                           catAgg: DataFrame): DataFrame =
    seeds.join(coAgg, Seq("seed_id"), "left")
      .join(catAgg, Seq("seed_id"), "left")
      .select(col("seed_id"),
        when(col("nco") > 0, lit("co-occurrence"))
          .when(col("ncat") > 0, lit("same-category"))
          .otherwise(lit("none")).as("reason"),
        coalesce(when(col("nco") > 0, col("t1")).otherwise(col("ct1")),
          lit(-1L)).as("top1_id"),
        when(col("nco") > 0, col("s1").cast("double"))
          .when(col("ncat") > 0, lit(1.0)).otherwise(lit(0.0))
          .as("top1_score"),
        coalesce(col("nco"), lit(0L)).as("co_n"),
        coalesce(col("t1"), lit(-1L)).as("co_top1"),
        coalesce(col("ncat"), lit(0L)).as("cat_n"),
        coalesce(col("ct1"), lit(-1L)).as("cat_top1"))
      .orderBy("seed_id")

  /** SQL-TEXT front door for the flagship co-occurrence recs — the same
    * query a reference user writes in Cypher (`app/main.py:51-60`),
    * submitted as ANSI SQL text through `spark.sql` over a registered
    * view of the canonical CONTAINS edge relation. The reference's
    * surface is a query LANGUAGE, so one worked example (sqlApiQ1) is
    * thin evidence the text frontend spans it; this and
    * [[sqlApiCustomerRecs]] cover the rec tier. The SQL mirrors
    * [[coOccurrence]] clause for clause (seed CTE, broadcast hint,
    * DISTINCT edge dedup, count-per-binding, total order) — Catalyst
    * compiles both to the same optimized plan, asserted canonically in
    * PlanAuditSpec, and the registry row shares rec_cooccurrence's
    * oracle verbatim. */
  def sqlApiCoOccurrence(spark: SparkSession, dir: String, seedPart: Long,
                         k: Int = 10): DataFrame = {
    rawItems(spark, dir).createOrReplaceTempView("graft_items_v")
    spark.sql(
      s"""WITH seed AS (SELECT DISTINCT order_id FROM graft_items_v
         |  WHERE product_id = $seedPart),
         |cand AS (SELECT /*+ BROADCAST(seed) */ DISTINCT
         |    i.order_id, i.product_id
         |  FROM graft_items_v i JOIN seed USING (order_id)
         |  WHERE i.product_id <> $seedPart)
         |SELECT product_id, CAST(count(1) AS DOUBLE) AS score,
         |  'co-occurrence' AS reason
         |FROM cand
         |GROUP BY product_id
         |ORDER BY score DESC, product_id ASC
         |LIMIT $k""".stripMargin)
  }

  /** SQL-text twin of [[customerRecs]] (reference `app/main.py:88-104`)
    * — the path-multiplicity decomposition spelled in SQL: m(p) CTE,
    * order weights, anti-join via the broadcast-hinted NOT-IN-free
    * LEFT ANTI join, same total order. Shares rec_customer's oracle. */
  def sqlApiCustomerRecs(spark: SparkSession, dir: String, custId: Long,
                         k: Int = 10): DataFrame = {
    rawItems(spark, dir).createOrReplaceTempView("graft_items_v")
    Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("customer_id"),
        col("o_orderkey").as("order_id"))
      .createOrReplaceTempView("graft_placed_v")
    spark.sql(
      s"""WITH myorders AS (SELECT order_id FROM graft_placed_v
         |  WHERE customer_id = $custId),
         |bind1 AS (SELECT /*+ BROADCAST(myorders) */ DISTINCT
         |    i.order_id, i.product_id
         |  FROM graft_items_v i JOIN myorders USING (order_id)),
         |mine AS (SELECT DISTINCT product_id FROM bind1),
         |m AS (SELECT product_id, count(1) AS m FROM bind1
         |  GROUP BY product_id),
         |owgt AS (SELECT order_id, sum(m) AS w
         |  FROM (SELECT /*+ BROADCAST(m0) */ DISTINCT
         |          i0.order_id, i0.product_id, m0.m
         |        FROM graft_items_v i0 JOIN m m0 USING (product_id))
         |  GROUP BY order_id)
         |SELECT /*+ BROADCAST(mine) */ c.product_id,
         |  CAST(sum(c.w) AS DOUBLE) AS score, 'co-occurrence' AS reason
         |FROM (SELECT /*+ BROADCAST(o) */ DISTINCT
         |        i.order_id, i.product_id, o.w
         |      FROM graft_items_v i JOIN owgt o USING (order_id)) c
         |LEFT ANTI JOIN mine ON c.product_id = mine.product_id
         |GROUP BY c.product_id
         |ORDER BY score DESC, product_id ASC
         |LIMIT $k""".stripMargin)
  }

  /** SQL-text twin of [[sameCategory]] (reference `app/main.py:72-84`).
    * Shares rec_same_category's oracle. */
  def sqlApiSameCategory(spark: SparkSession, dir: String, seedPart: Long,
                         k: Int = 10): DataFrame = {
    Tables.load(spark, dir, "part")
      .select(col("p_partkey").as("product_id"),
        col("p_brand").as("category_id"))
      .createOrReplaceTempView("graft_part_cat_v")
    spark.sql(
      s"""WITH seed AS (SELECT category_id FROM graft_part_cat_v
         |  WHERE product_id = $seedPart)
         |SELECT /*+ BROADCAST(seed) */ p.product_id,
         |  CAST(1.0 AS DOUBLE) AS score, 'same-category' AS reason
         |FROM graft_part_cat_v p JOIN seed USING (category_id)
         |WHERE p.product_id <> $seedPart
         |ORDER BY product_id ASC
         |LIMIT $k""".stripMargin)
  }

  /** SQL-text twin of [[customerCategoryRecs]] (reference
    * `app/main.py:110-123`) — J5 category walk + J4 anti-join spelled
    * as text. Shares rec_customer_category's oracle. */
  def sqlApiCustomerCategoryRecs(spark: SparkSession, dir: String,
                                 custId: Long, k: Int = 10): DataFrame = {
    rawItems(spark, dir).createOrReplaceTempView("graft_items_v")
    Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("customer_id"),
        col("o_orderkey").as("order_id"))
      .createOrReplaceTempView("graft_placed_v")
    Tables.load(spark, dir, "part")
      .select(col("p_partkey").as("product_id"),
        col("p_brand").as("category_id"))
      .createOrReplaceTempView("graft_part_cat_v")
    spark.sql(
      s"""WITH myorders AS (SELECT order_id FROM graft_placed_v
         |  WHERE customer_id = $custId),
         |mine AS (SELECT /*+ BROADCAST(myorders) */ DISTINCT i.product_id
         |  FROM graft_items_v i JOIN myorders USING (order_id)),
         |mycats AS (SELECT /*+ BROADCAST(mine) */ DISTINCT category_id
         |  FROM graft_part_cat_v JOIN mine USING (product_id))
         |SELECT /*+ BROADCAST(mycats, mine) */ DISTINCT p.product_id,
         |  CAST(1.0 AS DOUBLE) AS score, 'same-category' AS reason
         |FROM graft_part_cat_v p JOIN mycats USING (category_id)
         |LEFT ANTI JOIN mine ON p.product_id = mine.product_id
         |ORDER BY product_id ASC
         |LIMIT $k""".stripMargin)
  }

  /** The reference's fallback cascade (reference
    * `app/main.py:61,70-71,99,108-109`): run each arm in order, collecting
    * its ≤k rows once, and return the first non-empty arm's rows (the
    * last arm's, empty, when none has any) as a LOCAL relation — so the
    * caller's emptiness check and render never re-run a plan. Every
    * `/recs` arm chain in graft.Serve runs through here. */
  def cascade(spark: SparkSession, arms: (() => DataFrame)*): DataFrame = {
    val (schema, rows) = arms.iterator
      .map { arm => val df = arm(); (df.schema, df.collect()) }
      .zipWithIndex.collectFirst {
        case (run, i) if run._2.nonEmpty || i == arms.size - 1 => run
      }.get
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The reference's arm pairs: co-occurrence, then same-category ... */
  def productArms(spark: SparkSession, dir: String, seedPart: Long,
                  k: Int = 10): Seq[() => DataFrame] =
    Seq(() => coOccurrence(spark, dir, seedPart, k),
      () => sameCategory(spark, dir, seedPart, k))

  /** ... and customer co-occurrence, then the customer's categories. */
  def customerArms(spark: SparkSession, dir: String, custId: Long,
                   k: Int = 10): Seq[() => DataFrame] =
    Seq(() => customerRecs(spark, dir, custId, k),
      () => customerCategoryRecs(spark, dir, custId, k))

  def recsForProduct(spark: SparkSession, dir: String, seedPart: Long,
                     k: Int = 10): DataFrame =
    cascade(spark, productArms(spark, dir, seedPart, k): _*)

  def recsForCustomer(spark: SparkSession, dir: String, custId: Long,
                      k: Int = 10): DataFrame =
    cascade(spark, customerArms(spark, dir, custId, k): _*)

  /** Session co-visitation — the behavioral-events counterpart of the
    * order-basket co-occurrence arm: products VIEWED within the same
    * 30-minute-gap user session form a pair; pair counts across all
    * sessions are the co-visitation matrix modern retrieval stacks
    * train their "customers also viewed" candidates on. Sessionization
    * is the batch sessions derivation (same gap rule and (ts_us,
    * event_id) tie-break as `stream_sessions`); the pair stage reuses
    * the all-pairs posture — sessions above `maxSessionItems` distinct
    * products are dropped BEFORE the self-join, so the blow-up is
    * bounded by cap² per session and a bot session that never sleeps
    * cannot go quadratic. */
  def sessionCovisitation(spark: SparkSession, dir: String,
                          gapMinutes: Int = 30, maxSessionItems: Int = 100,
                          k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val views = Tables.load(spark, dir, "events")
      .filter(lower(col("event_type")) === "view")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        get_json_object(col("props"), "$.k").cast("long").as("pid"))
      .filter(col("pid").isNotNull)
    // Materialized ONCE: the session-items relation feeds the size gate
    // and BOTH sides of the pair self-join — left lazy, the event scan,
    // its shuffle, and the two session windows execute four times
    // (plan-audited; at 100 TB that is 4× the corpus scan).
    val items = views
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs,
          1L).otherwise(0L))
      .withColumn("sess_no", sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("user_id", "sess_no", "pid").distinct()
      .localCheckpoint(true)
    val sane = items.groupBy("user_id", "sess_no")
      .agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") <= maxSessionItems)
      .select("user_id", "sess_no")
    val bounded = items.join(sane, Seq("user_id", "sess_no"))
    bounded.select(col("user_id"), col("sess_no"), col("pid").as("p1"))
      .join(bounded.select(col("user_id"), col("sess_no"),
        col("pid").as("p2")), Seq("user_id", "sess_no"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("n_sessions"))
      .orderBy(desc("n_sessions"), asc("p1"), asc("p2"))
      .limit(k)
  }

  /** Reciprocal-rank fusion of the two product arms — the modern recsys
    * alternative to the reference's fallback CASCADE: instead of "rich
    * arm, else cheap arm", rank each arm's full candidate list and fuse
    * with rrf(p) = Σ_arms 1/(rrfK + rank_arm(p)) (Cormack et al.'s
    * rank-only fusion — score scales never need calibrating, which is
    * why it is the standard way to merge lexical + vector hit lists).
    *
    * Determinism: arm ranks are row_number over each arm's total order
    * (the same orders the standalone queries impose), and the fused
    * score is two fixed-order double operations — bit-exact in the
    * oracle. Scale: both candidate lists are seed-pruned (orders
    * containing the seed / the seed's category), so the unpartitioned
    * rank windows and the fusion join run on bounded per-seed lists —
    * the same posture as the k-row serving collects, never corpus-wide. */
  def rrfFusion(spark: SparkSession, dir: String, seedPart: Long,
                k: Int = 10, rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val coRank = coOccurrenceScores(spark, dir, seedPart)
      .select(col("product_id"), row_number()
        .over(Window.orderBy(desc("score"), asc("product_id"))).as("r_co"))
    // The category arm ranks a category-sized slice of the catalog —
    // dimension-bounded, but at warehouse scale still a fat list, so the
    // rank is the range-partitioned global position, not a one-task
    // window (values identical: same (product_id) total order).
    val catRank = Ranks.withGlobalPos(
      sameCategoryCandidates(spark, dir, seedPart).select(col("product_id")),
      Seq(asc("product_id")), "r_cat")
      .select(col("product_id"), col("r_cat"))
    coRank.join(catRank, Seq("product_id"), "full_outer")
      .select(col("product_id"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("r_co")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("r_cat")), lit(0.0)))
          .as("rrf_score"),
        (col("r_co").isNotNull.cast("int") +
          col("r_cat").isNotNull.cast("int")).as("n_arms"))
      .orderBy(desc("rrf_score"), asc("product_id"))
      .limit(k)
  }

  /** [[rrfFusion]] in the serving wire shape (product_id, score,
    * reason) — the `arm=rrf` route of `/recs?product_id=` (VERDICT r14
    * item 4), the exact tier the `rec_rrf_fusion` oracle row pins
    * (n_arms is diagnostic and dropped from the wire). Per-request
    * compute is seed-pruned (both arms' candidate lists bounded by the
    * seed's orders/category), so no serving cache is needed. */
  def rrfServing(spark: SparkSession, dir: String, seedPart: Long,
                 k: Int = 10): DataFrame =
    rrfFusion(spark, dir, seedPart, k)
      .select(col("product_id"), col("rrf_score").as("score"),
        lit("rrf_fusion").as("reason"))

  /** Deterministic negative sampling — the contrastive-pair generator a
    * two-tower / ranking trainer runs over the interaction log: for
    * every customer, `k` popular products they did NOT purchase.
    * Popularity-biased negatives (vs uniform) are the standard hard-ish
    * negative scheme: a never-bought popular item is informative, a
    * never-bought obscure item is noise. "Sampling" is a hash order —
    * row_number over md5(custkey:product) — so the draw is uniform-ish
    * per customer yet exactly reproducible on both engines (no RNG to
    * disagree about).
    *
    * Scale shape: the candidate set is the top-`nCand` products by
    * distinct-order count — a bounded broadcast, like every seed side
    * here. Purchases are pruned to candidate products BEFORE the
    * anti-join (broadcast semi-join on the fact table's scan), so the
    * anti-join right side is ≤ nCand rows per customer, never the full
    * interaction log. Everything downstream is linear in
    * |customers|·nCand: one anti-join shuffle keyed (custkey, product)
    * and one per-customer rank window keyed custkey, both over that
    * bounded relation. No cross join with the catalog, no RNG, no
    * driver-side sampling. */
  def negativeSamples(spark: SparkSession, dir: String, nCand: Int = 50,
                      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Spread: both consumers run a partial hash agg (countDistinct /
    // distinct) that an unsplittable scan would serialize into one task.
    val li = Tables.spread(spark, rawItems(spark, dir))
    // Eagerly pinned: the frame feeds TWO subtrees (the candidate cross
    // join and the purchase prune) and Catalyst does not dedupe common
    // subplans — without the checkpoint the popularity agg would scan
    // the fact table twice.
    val pop = li.groupBy("product_id")
      .agg(countDistinct(col("order_id")).as("n_orders"))
      .orderBy(desc("n_orders"), asc("product_id")).limit(nCand)
      .localCheckpoint(true)
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("order_id"),
        col("o_custkey").as("custkey"))
    val purchased = li
      .join(broadcast(pop.select("product_id")), "product_id")
      .join(orders, "order_id")
      .select("custkey", "product_id").distinct()
    val customers = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("custkey"))
    val hash = md5(concat(col("custkey").cast("string"), lit(":"),
      col("product_id").cast("string")))
    customers.crossJoin(broadcast(pop))
      .join(purchased, Seq("custkey", "product_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy("custkey").orderBy(hash.asc,
          col("product_id").asc)).cast("long"))
      .filter(col("neg_rank") <= k)
      .select("custkey", "product_id", "n_orders", "neg_rank")
      .orderBy("custkey", "neg_rank")
  }

  /** The trained model plus the dense-id dictionaries serving needs to
    * translate raw keys in and factor ids back out. */
  private[graft] case class AlsIndex(
      model: org.apache.spark.ml.recommendation.ALSModel,
      custMap: DataFrame, // (custkey: long, idx: int)
      partMap: DataFrame) // (product_id: long, idx: int)

  /** Deterministic dense int ids for a key column: distinct keys in
    * ascending order zipped with their global position. Distributed
    * (sort + per-partition offsets via zipWithIndex — the same
    * two-pass shape as Ranks.withGlobalPos), never a single-partition
    * window. ALS requires int ids; raw 64-bit keys overflow the cast
    * once ids pass 2³¹ — the 10× scale slice caught exactly that
    * (CAST_OVERFLOW at custkey ≈ 3·10⁹) — and at warehouse scale key
    * spaces are sparse anyway, so the dictionary is the correct shape:
    * |distinct keys| rows, the standard ALS preprocessing step. */
  private def denseIds(df: DataFrame, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    val keys = df.select(col(keyCol).cast("long")).distinct()
      .orderBy(keyCol)
    val indexed = keys.rdd.zipWithIndex().map { case (r, i) =>
      // Past 2³¹ distinct keys i.toInt would wrap to negative/colliding
      // ids — the same overflow class the dictionary exists to fix, so
      // fail loudly instead of training on wrapped ids. (ALS itself is
      // int-indexed; >2³¹ distinct entities needs a different
      // factorization shape, not a silent wrap.)
      require(i <= Int.MaxValue,
        s"denseIds($keyCol): ${i + 1} distinct keys exceed Int.MaxValue; " +
          "ALS int ids cannot represent this key space")
      org.apache.spark.sql.Row(r.getLong(0), i.toInt)
    }
    spark.createDataFrame(indexed,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(keyCol,
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("idx",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
  }

  /** Implicit-feedback ALS matrix factorization — the learned rec arm
    * beside the counting arms (co-occurrence, same-category, PPR,
    * RRF): purchase counts as confidence, seeded deterministic
    * training, rank-`rank` factors. The model is index-class state
    * (trained once per dir, memoized like the IVF/PQ fits, prewarmed
    * out of the serving measurement); serving for one customer is a
    * factor dot-product over the catalog with purchased items removed
    * by the same anti-join shape as [[pprFixedRecs]]'s.
    *
    * Training (ALS, like KMeans) is not SQL-expressible, but SERVING
    * is: the fixed-seed factors are deterministic, so the registry row
    * carries an EXACT adaptive oracle with the factor matrices pinned
    * as literals (RecsRegistry.adaptiveOracles — the IVF
    * pinned-centroid pattern). RecsSpec additionally asserts
    * determinism, purchased exclusion, and the contrastive floor that
    * positive interactions outscore sampled negatives on average. At
    * 100 TB the training input is the (customer, product, count)
    * aggregate — orders of magnitude smaller than the fact table — and
    * Spark ML's ALS is the standard block-partitioned implementation.
    * Raw 64-bit keys pass through deterministic dense-int dictionaries
    * ([[denseIds]]) — ALS is int-indexed, and the raw cast overflowed
    * at the 10× scale slice. */
  private[graft] def alsIndex(spark: SparkSession, dir: String, rank: Int)
      : AlsIndex =
    graft.Memo.get(spark, "als-index", (dir, rank)) {
      val orders = Tables.load(spark, dir, "orders")
        .select(col("o_orderkey").as("order_id"),
          col("o_custkey").as("custkey"))
      val interRaw = Tables.spread(spark, rawItems(spark, dir))
        .join(orders, "order_id")
        .groupBy(col("custkey"), col("product_id"))
        .agg(count(lit(1)).cast("float").as("cnt"))
        .localCheckpoint(true) // feeds both dictionaries + the train set
      val custMap = denseIds(interRaw, "custkey").localCheckpoint(true)
      val partMap = denseIds(interRaw, "product_id").localCheckpoint(true)
      val inter = interRaw
        .join(custMap, "custkey")
        .withColumnRenamed("idx", "cid")
        .join(partMap, "product_id")
        .withColumnRenamed("idx", "pid")
        .select(col("cid"), col("pid"), col("cnt"))
      val model = new org.apache.spark.ml.recommendation.ALS()
        .setSeed(42L).setRank(rank).setMaxIter(8).setRegParam(0.1)
        .setImplicitPrefs(true).setAlpha(1.0)
        .setUserCol("cid").setItemCol("pid")
        .setRatingCol("cnt").setColdStartStrategy("drop")
        .fit(inter)
      AlsIndex(model, custMap, partMap)
    }

  /** Item factor matrix keyed by the RAW product id — the relation
    * serving scans and the adaptive oracle pins. */
  private[graft] def alsItemFactors(spark: SparkSession, dir: String,
                                    rank: Int): DataFrame = {
    val idx = alsIndex(spark, dir, rank)
    idx.model.itemFactors
      .join(idx.partMap, idx.model.itemFactors("id") === idx.partMap("idx"))
      .select(col("product_id"), col("features"))
  }

  def alsRecs(spark: SparkSession, dir: String, custId: Long = 1L,
              k: Int = 10, rank: Int = 4): DataFrame = {
    val idx = alsIndex(spark, dir, rank)
    // Serving reads the factor matrices directly: the user's rank-dim
    // vector becomes literals in ONE codegen'd dot-product scan of
    // the raw-keyed item factors (ml's recommendForUserSubset plans a
    // blocked CartesianProduct of the factor matrices — fine for
    // recommend-all, but a point query only needs catalog × 1).
    val items = alsItemFactors(spark, dir, rank)
    val empty = items.filter(lit(false))
      .select(col("product_id").cast("bigint").as("product_id"),
        lit(0.0).as("score"))
    // Two point lookups (1 row each): raw key → dense id → factor row.
    val cid = idx.custMap.filter(col("custkey") === custId)
      .select("idx").collect()
    if (cid.isEmpty) return empty // unknown customer degrades to empty
    val uf = idx.model.userFactors.filter(col("id") === cid.head.getInt(0))
      .select("features").collect()
    if (uf.isEmpty) return empty
    val w = uf.head.getSeq[Float](0)
    val score = w.indices.map(j =>
      element_at(col("features"), j + 1).cast("double") *
        lit(w(j).toDouble)).reduce(_ + _)
    val mine = purchasedProducts(spark, dir, custId)
    items.select(col("product_id").cast("bigint").as("product_id"),
        score.as("score"))
      .join(broadcast(mine), Seq("product_id"), "left_anti")
      .orderBy(desc("score"), asc("product_id"))
      .limit(k)
  }

  /** Predicted affinities for explicit (custkey, product_id) pairs —
    * the spec's contrastive probe surface. Raw keys translate through
    * the dictionaries (same-key hash joins) on the way in. */
  private[graft] def alsPredict(spark: SparkSession, dir: String,
                                pairs: DataFrame,
                                rank: Int = 4): DataFrame = {
    val idx = alsIndex(spark, dir, rank)
    val p = pairs
      .select(col("custkey").cast("long").as("custkey"),
        col("product_id").cast("long").as("product_id"))
      .join(idx.custMap, "custkey").withColumnRenamed("idx", "cid")
      .join(idx.partMap, "product_id").withColumnRenamed("idx", "pid")
    idx.model.transform(p)
  }

  /** Index-build prewarm (Bench policy: long-lived-service steady
    * state — training is the measured-once index build, serving is the
    * measured query). */
  def prewarm(spark: SparkSession, dir: String): Unit = {
    alsIndex(spark, dir, 4)
    alsRecs(spark, dir, 1L, k = 1).count()
  }
}
