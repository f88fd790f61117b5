package graft

import graft.graph.{GraphAlgs, GraphBuilder}

/** Graph build + analytics on the reference seed (FIXTURES.md §2 golden
  * expectations). */
class GraphSpec extends SparkTestBase {
  private def dir = SeedFixture.dir

  test("the item-item shelf comes back with its cached buffers loaded") {
    // Concurrent first arm=item requests used to race to fill a lazy
    // persist; the shelf must be filled inside its memoized build.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val shelf = GraphAlgs.itemItemShelf(spark, dir)
    val cached = shelf.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r
    }
    assert(cached.isDefined, "the shelf is not a persisted relation")
    assert(cached.get.cacheBuilder.isCachedColumnBuffersLoaded,
      "the shelf came back as an unfilled lazy persist")
  }

  test("nodes: 12 across 4 labels, unique ids (G2 constraint audit empty)") {
    val n = GraphBuilder.nodes(spark, dir)
    val byLabel = n.groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel == Map("Customer" -> 3L, "Product" -> 4L,
      "Order" -> 3L, "Category" -> 2L))
    assert(GraphBuilder.duplicateNodeIds(n).isEmpty)
  }

  test("node properties survive the build: Order.ts, Product.category_id, Customer.join_date") {
    val props = GraphBuilder.nodes(spark, dir)
      .select("id", "ts", "category_id", "join_date").collect()
      .map(r => r.getString(0) -> (r.get(1), r.get(2), r.get(3))).toMap
    // O1 placed 2024-04-01T10:15 (02_seed.sql:12; etl.py:227 SET o.ts)
    assert(props("O1")._1 ==
      java.sql.Timestamp.valueOf("2024-04-01 10:15:00"))
    // P1 in CAT1 (etl.py:188-189 SET p.category_id)
    assert(props("P1")._2 == "CAT1")
    // C1 joined 2024-01-02 (etl.py:215-216 SET c.join_date)
    assert(props("C1")._3 == java.sql.Date.valueOf("2024-01-02"))
    // Properties stay label-sparse: no ts outside Order, etc.
    assert(props("C1")._1 == null && props("O1")._2 == null
      && props("P1")._3 == null)
  }

  test("edges by type match the hand-derived seed graph") {
    val byType = GraphBuilder.edges(spark, dir)
      .groupBy("rel_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("PLACED" -> 3L, "CONTAINS" -> 5L,
      "IN_CATEGORY" -> 4L, "VIEWED" -> 3L, "CLICKED" -> 1L,
      "ADDED_TO_CART" -> 1L))
  }

  test("MERGE idempotency: doubled input builds the identical graph (A5/A6)") {
    val n1 = GraphBuilder.nodes(spark, SeedFixture.dir).collect().toSet
    val n2 = GraphBuilder.nodes(spark, SeedFixture.dirX2).collect().toSet
    assert(n1 == n2)
    val e1 = GraphBuilder.edges(spark, SeedFixture.dir).collect().toSet
    val e2 = GraphBuilder.edges(spark, SeedFixture.dirX2).collect().toSet
    assert(e1 == e2)
  }

  test("degrees agree with the relational edge-list derivation") {
    val deg = GraphAlgs.degreesTop(spark, dir, k = 100).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // P2 appears in CONTAINS×2 (O1,O3) + IN_CATEGORY + VIEWED = 4.
    assert(deg("P2") == 4L)
    // O3: PLACED + CONTAINS×2 = 3.
    assert(deg("O3") == 3L)
    // B1 (CAT1): three IN_CATEGORY edges point at it.
    assert(deg("BCAT1") == 3L)
    // GraphX aggregateMessages parity: the graph view must agree with the
    // relational derivation node-for-node.
    val gx = GraphAlgs.degreesTopGraphX(spark, dir, k = 100).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gx == deg)
    // Degree histogram: totals reconcile with the per-node derivation —
    // every endpoint appears in some magnitude bucket, and total degree
    // sums to 2|E| (each edge credits both ends).
    val hist = GraphAlgs.degreeHistogram(spark, dir).collect()
    assert(hist.map(_.getLong(1)).sum == deg.size)
    val nEdges = graph.GraphBuilder.edges(spark, dir).count()
    assert(hist.map(_.getLong(4)).sum == 2 * nEdges)
    hist.foreach { r =>
      val mag = r.getInt(0)
      assert(r.getLong(2).toString.length == mag &&
        r.getLong(3).toString.length == mag)
    }
  }

  test("personalized PageRank from P2 ranks basket neighbors over strangers") {
    val ppr = GraphAlgs.personalizedPageRank(spark, dir, "P2", iters = 10,
      k = 20).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // Direct neighbors of P2 (O1, O3 via CONTAINS; B CAT1; C2 via VIEWED
    // is inbound) must outrank a node with no path from P2.
    assert(ppr.getOrElse("BCAT1", 0.0) > ppr.getOrElse("C3", 0.0))
    // All mass reachable: seed excluded from the result set.
    assert(!ppr.contains("P2"))
  }

  test("PPR recs for C1: only the viewed-but-never-bought product remains") {
    // C1 reaches P1,P2,P4 through orders (all purchased → anti-joined out)
    // and P3 through VIEWED/CLICKED → the single recommendation.
    val recs = GraphAlgs.pprRecs(spark, dir, 1L).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(recs.map(_._1).toSeq == Seq(3L))
    assert(recs.head._2 > 0.0)
    // The relational fixed-iteration twin (the oracle-backed row) agrees
    // on the recommendation set.
    val rel = GraphAlgs.pprFixedRecs(spark, dir, 1L).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rel.map(_._1).toSeq == Seq(3L))
    assert(rel.head._2 > 0.0)
  }

  test("connected components: the seed graph is one weakly-connected blob") {
    val sizes = GraphAlgs.connectedComponentSizes(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // 12 nodes, all reachable through orders/categories/events.
    assert(sizes.toSeq == Seq((12L, 1L)))
  }

  test("shortest paths to P1 follow edge direction: self 0, O1 1, C1 2") {
    val d = GraphAlgs.shortestPathsTo(spark, dir, "P1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d("P1") == 0L)
    assert(d("O1") == 1L)  // O1 -CONTAINS-> P1
    assert(d("C1") == 2L)  // C1 -PLACED-> O1 -CONTAINS-> P1
    assert(d("C3") == 1L)  // C3 -VIEWED-> P1
    assert(!d.contains("BCAT1")) // categories have no out-edges
  }

  test("item-item serving table agrees with the per-seed hot path") {
    val sf = "/root/testdata/sf0.001"
    val table = GraphAlgs.itemItemTopK(spark, sf, perItem = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(table.nonEmpty)
    // ranks are 1..3 per product, counts non-increasing within a product
    table.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to sorted.length))
      assert(sorted.toSeq.sliding(2).forall {
        case Seq(a, b) => a._3 >= b._3
        case _ => true
      })
    }
    // the precomputed rows for a seed equal the online query's top-3
    val seeds = table.map(_._1).distinct.sorted.take(3)
    seeds.foreach { s =>
      val online = graft.operators.Recs.coOccurrence(spark, sf, s, k = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1).toLong))
      val precomputed = table.filter(_._1 == s).sortBy(_._4)
        .map(t => (t._2, t._3))
      assert(precomputed.toSeq == online.toSeq, s"seed $s")
    }
  }

  test("harmonic centrality equals the per-landmark BFS combination") {
    val lms = Seq("P1", "P2", "P3")
    val per = lms.map(lm =>
      GraphAlgs.shortestPathsTo(spark, dir, lm, k = 1000000).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    val expect = per.flatMap(_.keySet).distinct
      .map { id =>
        val terms = per.flatMap(_.get(id)).filter(_ > 0)
          .map(1.0 / _).sorted
        id -> terms.foldLeft(0.0)(_ + _)
      }
      .filter(_._2 > 0)
      .sortBy { case (id, h) => (-h, id) }.take(25)
    val got = GraphAlgs.harmonicCentrality(spark, dir, lms).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq
    assert(got == expect)
    // P2/P3 reach P1 through nothing on the seed (products have no
    // out-edges), so every score is a pure 1/d fold over REACHING nodes.
    assert(got.forall(_._2 > 0))
  }

  test("fixed-round components equal GraphX connected components on the seed") {
    val rel = GraphAlgs.componentsFixedSizes(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val gx = GraphAlgs.connectedComponentSizes(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rel == gx && rel == Seq((12L, 1L)))
  }

  test("relational fixed-iteration PageRank agrees with GraphX staticPageRank") {
    val rel = GraphAlgs.pageRankFixedTop(spark, dir, iters = 10, k = 100)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gx = GraphAlgs.pageRankTop(spark, dir, iters = 10, k = 100)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rel.keySet == gx.keySet)
    for ((id, r) <- rel)
      assert(math.abs(r - gx(id)) < 1e-9, s"$id rel=$r gx=${gx(id)}")
  }

  test("HITS matches a literal driver-side iteration at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    import spark.implicits._
    val o = Tables.load(spark, sf, "orders")
      .select($"o_orderkey", $"o_custkey")
    val li = Tables.load(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_partkey")
    val e = li.join(o, $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as[Long], $"l_partkey".as[Long])
      .distinct().collect().toSeq
    // literal HITS with the same sorted-ascending summation order
    def sSum(xs: Seq[Double]): Double = xs.sorted.foldLeft(0.0)(_ + _)
    var h = e.map(_._1).distinct.map(_ -> 1.0).toMap
    var a = Map.empty[Long, Double]
    for (_ <- 1 to 5) {
      val ar = e.groupBy(_._2).map { case (p, es) =>
        p -> sSum(es.map(x => h(x._1)).toSeq)
      }
      val at = sSum(ar.values.toSeq)
      a = ar.map { case (p, v) => p -> v / at }
      val hr = e.groupBy(_._1).map { case (c, es) =>
        c -> sSum(es.map(x => a(x._2)).toSeq)
      }
      val ht = sSum(hr.values.toSeq)
      h = hr.map { case (c, v) => c -> v / ht }
    }
    val got = GraphAlgs.hitsFixedTop(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val wantAuth = a.toSeq.sortBy { case (p, v) => (-v, p) }.take(10)
    val wantHub = h.toSeq.sortBy { case (c, v) => (-v, c) }.take(10)
    val gotAuth = got.filter(_._1 == "authority").map(t => (t._2, t._3))
    val gotHub = got.filter(_._1 == "hub").map(t => (t._2, t._3))
    assert(gotAuth.map(_._1) == wantAuth.map(_._1))
    assert(gotHub.map(_._1) == wantHub.map(_._1))
    gotAuth.zip(wantAuth).foreach { case ((_, g), (_, w)) =>
      assert(math.abs(g - w) < 1e-12) }
    gotHub.zip(wantHub).foreach { case ((_, g), (_, w)) =>
      assert(math.abs(g - w) < 1e-12) }
    // L1 invariant: each side's full distribution sums to 1 (check the
    // top slice is a probability prefix: positive, non-increasing)
    assert(gotAuth.map(_._2).forall(_ > 0))
    assert(gotAuth.map(_._2) == gotAuth.map(_._2).sortBy(-_))
  }

  test("HITS on an empty purchase graph returns no rows") {
    // The seed tables with every lineitem dropped: nodes exist, but no
    // customer→product purchase pair does, so both HITS sides are empty.
    val d = java.nio.file.Files.createTempDirectory("graft-hits-empty").toString
    for (t <- Seq("customer", "part", "orders", "lineitem", "events")) {
      val df = spark.read.parquet(s"$dir/$t.parquet")
      (if (t == "lineitem") df.limit(0) else df)
        .write.parquet(s"$d/$t.parquet")
    }
    assert(GraphAlgs.hitsFixedTop(spark, d).collect().isEmpty)
  }

  test("LPA matches a literal driver-side vote iteration at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    import spark.implicits._
    val e = GraphBuilder.edges(spark, sf).select($"src", $"dst")
      .as[(String, String)].collect().toSeq
    val und = (e ++ e.map(_.swap)).distinct
    val nodes = (und.map(_._1) ++ und.map(_._2)).distinct ++
      GraphBuilder.nodes(spark, sf).select("id").as[String].collect()
    var lab = nodes.distinct.map(n => n -> n).toMap
    for (_ <- 1 to 4) {
      val votes = und.groupBy(_._2).map { case (id, es) =>
        val counts = es.groupBy(x => lab(x._1)).view.mapValues(_.size)
        id -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
      lab = lab.map { case (id, old) => id -> votes.getOrElse(id, old) }
    }
    val want = lab.values.groupBy(identity).view.mapValues(_.size)
      .toSeq.map { case (l, n) => (l, n.toLong) }
      .sortBy { case (l, n) => (-n, l) }.take(20)
    val got = GraphAlgs.lpaCommunities(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want, s"got=${got.take(5)} want=${want.take(5)}")
  }

  test("convergence audit: every horizon binds at sf0.001 except sync-LPA's designed 2-cycle") {
    val got = graph.GraphRegistry
      .convergenceAudit(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // Monotone families reach their true fixed point inside the shared
    // horizon constants — the bounded-round result IS the concept here.
    // A failure names the family and horizon: either the fixture grew a
    // longer chain (raise the shared constant, which retunes the oracle
    // unrolling with it) or a propagation step regressed.
    for (fam <- Seq("components", "dedup_minhash", "graph_kcore", "sim_dup"))
      assert(got(fam)._2,
        s"$fam: propagation did not reach its fixed point within " +
          s"horizon ${got(fam)._1} rounds on the sf0.001 fixture")
    // Synchronous LPA is NOT monotone and 2-cycles on bipartite
    // structure — at this fixture round 5 still flips labels, so the
    // 4-round result is horizon-bounded semantics by declaration (both
    // twins unroll the same 4 rounds). If this ever flips to true the
    // declared posture should be revisited, hence pinned.
    assert(!got("graph_lpa")._2,
      s"graph_lpa unexpectedly converged within ${got("graph_lpa")._1} " +
        "rounds at sf0.001 — the horizon-bounded declaration is stale")
    assert(got.keySet ==
      Set("components", "dedup_minhash", "graph_kcore", "graph_lpa",
        "sim_dup"))
  }

  test("canonical write round-trips, partitioned by label/rel_type, idempotently") {
    val out = java.nio.file.Files.createTempDirectory("graft-canon").toString
    GraphBuilder.writeCanonical(spark, dir, out)
    GraphBuilder.writeCanonical(spark, dir, out) // overwrite-by-derivation
    val n = GraphBuilder.readNodes(spark, out)
    val e = GraphBuilder.readEdges(spark, out)
    assert(n.count() == 12 && e.count() == 17)
    // layout: one directory per label/rel_type (partition pruning surface)
    val labelDirs = new java.io.File(s"$out/nodes").list()
      .filter(_.startsWith("label=")).sorted
    assert(labelDirs.toSeq == Seq("label=Category", "label=Customer",
      "label=Order", "label=Product"))
    // a per-type read prunes to its directory and matches the in-memory build
    val contains = e.filter(org.apache.spark.sql.functions
      .col("rel_type") === "CONTAINS")
    assert(contains.count() == 5)
  }

  test("triangle count: 0 on the acyclic seed; brute-force parity at sf0.001") {
    assert(GraphAlgs.triangleCount(spark, dir).head().getLong(0) == 0L)
    val sf = "/root/testdata/sf0.001"
    val adj = GraphAlgs.coPurchasePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .foldLeft(Map.empty[Long, Set[Long]].withDefaultValue(Set.empty[Long])) {
        case (m, (a, b)) => m.updated(a, m(a) + b).updated(b, m(b) + a)
      }
    val perVertex = adj.map { case (v, ns) =>
      v -> ns.toSeq.combinations(2).count { case Seq(x, y) => adj(x)(y) }
    }
    val brute = perVertex.values.map(_.toLong).sum / 3L // 3 corners each
    assert(GraphAlgs.triangleCount(spark, sf).head().getLong(0) == brute)
    // clustering coefficient rows agree with the brute per-vertex counts
    val rows = GraphAlgs.clusteringCoefficientTop(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, d, t, c) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))
      assert(d == adj(p).size.toLong)
      assert(t == perVertex(p).toLong)
      assert(c == 2.0 * t / (d * (d - 1)) && c >= 0.0 && c <= 1.0)
    }
  }

  test("seeded link prediction matches brute-force Jaccard at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val seed = 1L
    val pairs = GraphAlgs.coPurchasePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = pairs
      .foldLeft(Map.empty[Long, Set[Long]].withDefaultValue(Set.empty[Long])) {
        case (m, (a, b)) => m.updated(a, m(a) + b).updated(b, m(b) + a)
      }
    val expected = adj.keys
      .filter(b => b != seed && !adj(seed)(b))
      .map { b =>
        val c = (adj(seed) intersect adj(b)).size.toLong
        (b, c, c.toDouble / (adj(seed).size + adj(b).size - c))
      }
      .filter(_._2 >= 1) // zero-overlap products are not predictions
      .toSeq.sortBy { case (b, c, j) => (-j, -c, b) }.take(10)
    val got = GraphAlgs.linkPredictionForProduct(spark, sf, seed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got == expected)
  }

  test("every propagation family returns materialized state, never a lazy checkpoint") {
    // A lazy checkpoint that reaches its consumers unmaterialized runs
    // once per reference (k-core's peel step used to join its final round
    // twice). Every checkpoint under a family's returned frame must
    // report isCheckpointed before anything consumes it. Horizons and k
    // values no other test uses keep the Memo keys fresh, so no earlier
    // consumer can have materialized the state.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    def assertMaterialized(family: String, df: DataFrame): Unit = {
      val rdds = df.queryExecution.logical.collect { case l: LogicalRDD => l.rdd }
      assert(rdds.nonEmpty, s"$family: no checkpoint under the returned frame")
      rdds.foreach(rdd => assert(rdd.isCheckpointed,
        s"$family returned an unmaterialized lazy checkpoint"))
    }
    assertMaterialized("k-core", GraphAlgs.kCoreAlive(spark, sf, 3, 1))
    assertMaterialized("k-core early exit", GraphAlgs.kCoreAlive(spark, sf, 3, 9))
    assertMaterialized("ranks",
      GraphAlgs.fixedRanksUncached(spark, sf, Seq(None), 1))
    assertMaterialized("weighted ranks",
      GraphAlgs.weightedPageRankTop(spark, sf, iters = 1))
    assertMaterialized("lpa", GraphAlgs.lpaLabels(spark, sf, 1))
    assertMaterialized("components", GraphAlgs.componentLabels(spark, sf, 1))
    assertMaterialized("components early exit",
      GraphAlgs.componentLabels(spark, sf, 9))
    assertMaterialized("pair counts", GraphAlgs.pairCounts(spark, sf))
    assertMaterialized("co-purchase pairs", GraphAlgs.coPurchasePairs(spark, sf))
    val pairs = GraphAlgs.coPurchasePairs(spark, sf)
      .select(col("p1").as("d1"), col("p2").as("d2"))
    assertMaterialized("pair components", GraphAlgs.pairComponents(pairs, 1))
    assertMaterialized("pair components early exit",
      GraphAlgs.pairComponents(pairs, 9))
    assertMaterialized("hits", GraphAlgs.hitsFixedTop(spark, sf, iters = 1))
    assertMaterialized("power iteration",
      graft.similarity.Similarity.powerIteration(spark, sf, iters = 1))
  }

  test("co-partitioned rounds return the broadcast-gated rows, byte for byte") {
    // Forces every propagation family over the |V| state gate
    // (maxRows = 0) at sf0.001 and compares each one's full state with
    // the gated run. The forced run reads the same tables under a second
    // path spelling: every Memo entry is keyed by dir, so all of its
    // state is built fresh under the forced gate.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val gate = "spark.graft.state.broadcast.maxRows"
    def families(d: String): Seq[(String, Seq[String])] = {
      def rows(df: DataFrame): Seq[String] =
        df.collect().map(_.mkString("|")).toSeq.sorted
      Seq(
        "ranks" -> GraphAlgs.fixedRanksUncached(spark, d,
          GraphAlgs.SharedRankSeeds, 10),
        "weighted ranks" -> GraphAlgs.weightedPageRankTop(spark, d, k = 1000000),
        "lpa" -> GraphAlgs.lpaLabels(spark, d, GraphAlgs.LpaRounds),
        "k-core" -> GraphAlgs.kCoreAlive(spark, d, 2, GraphAlgs.KCoreRounds),
        "components" -> GraphAlgs.componentLabels(spark, d,
          GraphAlgs.ComponentsOracleRounds),
        "pair components" -> GraphAlgs.pairComponents(
          GraphAlgs.coPurchasePairs(spark, d)
            .select(col("p1").as("d1"), col("p2").as("d2")), 5),
        "hits" -> GraphAlgs.hitsFixedTop(spark, d, k = 1000000))
        .map { case (f, df) => f -> rows(df) }
    }
    val gated = families(sf)
    spark.conf.set(gate, "0")
    val forced =
      try {
        assert(GraphAlgs.stateCoPartitioned(spark, "file:" + sf))
        families("file:" + sf)
      } finally spark.conf.unset(gate)
    assert(!GraphAlgs.stateCoPartitioned(spark, sf))
    for (((f, want), (_, got)) <- gated.zip(forced)) {
      assert(want.nonEmpty, s"$f: empty at sf0.001 — nothing compared")
      assert(got == want, s"$f: co-partitioned rows differ from the gated run")
    }
  }

  test("k-core summary matches a literal 5-round peel at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val pairs = GraphAlgs.coPurchasePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var alive = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    for (_ <- 1 to GraphAlgs.KCoreRounds) {
      val kept = pairs.filter(p => alive(p._1) && alive(p._2))
      val deg = kept.flatMap(p => Seq(p._1, p._2))
        .groupBy(identity).view.mapValues(_.length)
      alive = deg.filter(_._2 >= GraphAlgs.KCoreK).keySet.toSet
    }
    val nEdges = pairs.count(p => alive(p._1) && alive(p._2))
    val r = GraphAlgs.kCoreSummary(spark, sf).head()
    assert(r.getLong(0) == GraphAlgs.KCoreK.toLong)
    assert(r.getLong(1) == alive.size.toLong)
    assert(r.getLong(2) == nEdges.toLong)
  }

  test("association rules: seed supports below minSupport emit nothing; " +
      "sf0.001 rules hold their count and ratio invariants") {
    assert(GraphAlgs.associationRules(spark, dir).isEmpty)
    val rows = GraphAlgs.associationRules(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n12, nA, nC) = (r.getLong(2), r.getLong(3), r.getLong(4))
      val (conf, lift) = (r.getDouble(5), r.getDouble(6))
      assert(n12 >= 2 && n12 <= math.min(nA, nC))
      assert(conf == n12.toDouble / nA && conf > 0.0 && conf <= 1.0)
      assert(lift > 0.0)
    }
  }

  test("all-pairs co-occurrence finds exactly the two real pairs") {
    val pairs = GraphAlgs.allPairsCoOccurrence(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 1L), (2L, 4L, 1L)))
  }
}
