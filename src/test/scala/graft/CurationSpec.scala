package graft

import graft.pipeline.Curation

class CurationSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.01"

  test("hash splits are deterministic and roughly 80/10/10") {
    val counts = Curation.splitCounts(spark, dir).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    val total = counts.values.sum.toDouble
    assert(counts("train") / total > 0.7 && counts("train") / total < 0.9)
    assert(counts("val") / total > 0.04 && counts("val") / total < 0.16)
    assert(counts("test") / total > 0.04 && counts("test") / total < 0.16)
    // pure function of the key: a rerun assigns identical splits
    assert(Curation.splitCounts(spark, dir).collect().toSeq ==
      Curation.splitCounts(spark, dir).collect().toSeq)
  }

  test("stratified sample caps every language and is deterministic") {
    val rows = Curation.stratifiedSample(spark, dir, perGroup = 20)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val perLang = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(perLang.values.forall(_ <= 20) && perLang.size >= 4)
    assert(Curation.stratifiedSample(spark, dir).collect().toSeq ==
      Curation.stratifiedSample(spark, dir).collect().toSeq)
  }

  test("rebalancing downsamples only the heavy language") {
    import org.apache.spark.sql.functions._
    val before = Tables.load(spark, dir, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = Curation.rebalanceCounts(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("en") < before("en") * 0.5) // ~30% kept
    for ((l, n) <- after if l != "en") assert(n == before(l))
  }

  test("curated corpus honors the quality floor, language gate, and dedup") {
    import org.apache.spark.sql.functions.col
    val curated = Curation.curate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(curated.nonEmpty && curated.forall(_._2 >= 0.5))
    assert(curated.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
    // dedup keep-first: no curated doc is a non-representative duplicate
    val keeps = graft.dedup.Dedup.exact(spark, dir)
      .select(col("keep_doc_id")).collect().map(_.getLong(0)).toSet
    assert(curated.forall(c => keeps.contains(c._1)))
  }

  test("temperature mixture flattens: weights normalize, small sources boost") {
    val rows = Curation.mixtureTemperature(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.length >= 2)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-9) // w_prop normalizes
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9) // w_temp normalizes
    // flattening: strictly smaller sources gain weight over larger ones
    // (equal-sized sources — the sf0.01 fixture — sit exactly at 1.0)
    val bySize = rows.sortBy(_._2)
    val (a, b) = (bySize.head, bySize.last)
    if (a._2 < b._2) assert(a._5 > 1.0 && b._5 < 1.0)
    else assert(rows.forall(r => math.abs(r._5 - 1.0) < 1e-12))
    // α = 1/2 exactly: w_temp ratio between two sources is √(n ratio)
    assert(math.abs(a._4 / b._4 -
      math.sqrt(a._2.toDouble / b._2)) < 1e-12)
    // and on a skewed fixture the flattening direction is strict
    import spark.implicits._
    val skewDir = java.nio.file.Files
      .createTempDirectory("graft-mixtemp").toString
    (Seq.fill(90)("big") ++ Seq.fill(10)("small")).zipWithIndex
      .map { case (s, i) => (i.toLong, "t", "en", s, 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$skewDir/documents.parquet")
    val skew = Curation.mixtureTemperature(spark, skewDir).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(skew("small") > 1.0 && skew("big") < 1.0)
  }

  test("quality-weighted sampling keeps a quality-proportional, deterministic subset") {
    val rows = Curation.qualityWeightedCounts(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).sum == 500)
    // kept ⊆ total per language, strictly fewer overall (quality < 1 somewhere)
    assert(rows.forall { case (_, t, k) => k <= t })
    assert(rows.map(_._3).sum < 500 && rows.map(_._3).sum > 0)
    // deterministic: identical on rerun
    assert(Curation.qualityWeightedCounts(spark, dir).collect().toSeq ==
      Curation.qualityWeightedCounts(spark, dir).collect().toSeq)
  }

  test("forget cascade: victim rows vanish from every table, count-consistent") {
    import org.apache.spark.sql.functions._
    val rows = graft.pipeline.Curation.forgetCascadeReport(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set("customer", "orders", "lineitem", "events"))
    rows.values.foreach { case (before, after) =>
      assert(after <= before && after > 0)
    }
    // customer drop count equals the independently-computed cohort size
    val nVictims = graft.Tables.load(spark, dir, "customer")
      .filter(graft.pipeline.Curation.hashBucket(col("c_custkey")) < 5)
      .count()
    assert(rows("customer")._1 - rows("customer")._2 == nVictims)
    assert(nVictims > 0)
  }

  test("source mix report: exact counts per source, mean quality equals the brute mean") {
    import org.apache.spark.sql.functions.col
    val rows = Curation.sourceMixReport(spark, dir).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(1)).sum
    assert(total == graft.Tables.load(spark, dir, "documents").count())
    rows.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(3) <= r.getLong(1)) // langs, uniques
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
    // Brute-force the mean for one source from the per-doc scores.
    val src = rows.head.getString(0)
    val ids = graft.Tables.load(spark, dir, "documents")
      .filter(col("source") === src).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val qs = graft.text.TextAnalysis.qualityScore(spark, dir).collect()
      .filter(r => ids(r.getLong(0))).map(r => math.round(r.getDouble(4) * 1e6))
    val expect = (qs.sum.toDouble / 1e6) / qs.length
    assert(math.abs(rows.head.getDouble(5) - expect) < 1e-12)
  }

  test("source cap sample keeps at most cap docs per source, deterministically") {
    val s1 = Curation.sourceCapSample(spark, dir, cap = 10).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val s2 = Curation.sourceCapSample(spark, dir, cap = 10).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(s1.toSeq == s2.toSeq) // deterministic
    val perSource = s1.groupBy(_._2).map(_._2.length)
    assert(perSource.forall(_ <= 10) && s1.nonEmpty)
  }

  test("writeCurated materializes the released set partitioned by split and lang") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft-curated")
      .resolve("corpus").toString
    val back = Curation.writeCurated(spark, dir, out)
    val released = Curation.curateFull(spark, dir).collect()
      .map(_.getLong(0)).toSet
    assert(back.collect().map(_.getAs[Long]("doc_id")).toSet == released)
    // The layout IS split/lang partition dirs …
    val splits = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(splits.exists(_.startsWith("split=")))
    // … and a per-split read prunes at file listing, not post-scan.
    val pruned = back.filter(col("split") === "train")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s", "").contains("split"), s"no pruning:\n$plan")
    assert(pruned.count() > 0)
  }

  test("packing report: window and padding arithmetic is exact") {
    val rows = Curation.packingReport(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum ==
      graft.Tables.load(spark, dir, "documents").count())
    rows.foreach { r =>
      val (bucket, nDocs, toks, wins, pad) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      // windows cover the tokens with padding: wins*256 = toks + pad
      assert(wins * 256 == toks + pad)
      // every doc in the bucket has tokens inside [bucket*64, bucket*64+63]
      assert(toks >= bucket * 64 * nDocs && toks < (bucket + 1) * 64 * nDocs)
    }
  }

  test("split leakage: brute-force parity on exact-dup texts spanning splits") {
    import org.apache.spark.sql.functions.col
    val r = Curation.splitLeakageReport(spark, dir).head()
    // Brute force at fixture scale.
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        Curation.splitOf(col("doc_id")).as("split"))
      .collect().map(x => (x.getString(1), x.getString(2)))
    val byText = docs.groupBy(_._1)
    val leaky = byText.filter(_._2.map(_._2).distinct.length > 1)
    assert(r.getLong(0) == byText.size && byText.nonEmpty)
    assert(r.getLong(1) == leaky.size)
    assert(r.getLong(2) == leaky.values.map(_.length).sum)
    // A leaky fingerprint spans ≥2 docs by construction.
    assert(r.getLong(2) >= 2 * r.getLong(1))
  }

  test("quality floor calibration: exact order statistics, monotone floors") {
    val rows = Curation.qualityFloorCalibration(spark, dir).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(50, 80, 90))
    val floors = rows.map(_.getDouble(1))
    assert(floors(0) >= floors(1) && floors(1) >= floors(2))
    // Brute force: the ⌈n·p/100⌉-th quality descending (ties by doc_id).
    val qs = graft.text.TextAnalysis.qualityScore(spark, dir).collect()
      .map(r => (r.getDouble(4), r.getLong(0)))
      .sortBy { case (q, id) => (-q, id) }
    Seq(50, 80, 90).zip(floors).foreach { case (p, f) =>
      val expect = qs(math.ceil(qs.length * p / 100.0).toInt - 1)._1
      assert(f == expect, s"$p%: $f vs $expect")
    }
  }

  test("the released set comes back materialized, never a lazy persist") {
    // Epoch order's global-position rank reads curateFull more than once
    // in one plan; a lazy persist there is filled by whichever job gets
    // to it first. The memoized frame must already sit on a filled
    // checkpoint when it is returned.
    import org.apache.spark.sql.execution.LogicalRDD
    Curation.curateFull(spark, "/root/testdata/sf0.001")
        .queryExecution.logical match {
      case l: LogicalRDD => assert(l.rdd.isCheckpointed,
        "the released set is an unmaterialized checkpoint")
      case other => fail(s"the released set is not a checkpoint scan:\n$other")
    }
  }

  test("full release gate is curate minus near-dup members and contaminated docs") {
    import org.apache.spark.sql.functions.col
    val base = Curation.curate(spark, dir).collect()
      .map(_.getLong(0)).toSet
    val full = Curation.curateFull(spark, dir).collect()
      .map(_.getLong(0)).toSet
    assert(full.subsetOf(base))
    // exactly the two extra gates explain the difference
    val ndMembers = graft.similarity.Similarity.dupAssignments(spark, dir)
      .filter(col("id") =!= col("comp")).collect()
      .map(_.getLong(0)).toSet
    val dirty = graft.text.TextAnalysis.contamination(spark, dir)
      .filter(col("is_contaminated")).collect()
      .map(_.getLong(0)).toSet
    assert(base -- full === base.intersect(ndMembers ++ dirty))
    // benchmark prefix docs can never survive the gate
    assert(full.intersect(
      graft.text.TextAnalysis.BenchmarkDocIds.toSet).isEmpty)
  }

  test("pack assignments reconstruct as a per-split concat-then-chunk") {
    val rows = Curation.packAssignments(spark, dir).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(rows.length == 500)
    assert(rows.forall { case (_, _, _, _, off, _) => off >= 0 && off < 256 })
    rows.groupBy(_._2).foreach { case (_, ds) =>
      // Replay the concatenation in doc_id order: every doc must start
      // exactly where the previous one ended, and spans_packs must flag
      // exactly the docs a 256-token boundary cuts.
      var cum = 0L
      ds.sortBy(_._1).foreach { case (id, _, n, pid, off, spans) =>
        assert(pid == cum / 256 && off == cum % 256, s"doc $id")
        assert(spans == (n > 0 && (cum + n - 1) / 256 > cum / 256),
          s"doc $id spans")
        cum += n
      }
    }
  }

  test("split drift KS equals the brute-force exact ECDF max difference") {
    import org.apache.spark.sql.functions._
    val row = Curation.splitDriftKs(spark, dir).collect().head
    val q = graft.text.TextAnalysis.qualityScore(spark, dir)
      .select(round(col("quality") * lit(1000000.0)).cast("long").as("q6"),
        Curation.splitOf(col("doc_id")).as("split"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val tr = q.filter(_._2 == "train").map(_._1)
    val te = q.filter(_._2 == "test").map(_._1)
    val (n, m) = (tr.length.toLong, te.length.toLong)
    val ksNum = (tr ++ te).distinct.map { x =>
      math.abs(tr.count(_ <= x) * m - te.count(_ <= x) * n)
    }.max
    assert(row.getLong(0) == n && row.getLong(1) == m)
    assert(row.getLong(2) == ksNum)
    assert(row.getDouble(3) == ksNum.toDouble / (n * m))
  }

  test("source drift TV: bounded in [0,1], exact brute parity per source") {
    import org.apache.spark.sql.functions.col
    val rows = Curation.sourceDriftTv(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    val q6 = graft.text.TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.round(
          col("quality") * org.apache.spark.sql.functions.lit(1000000.0))
          .cast("long").as("q6")).collect()
      .map(r => (r.getLong(0), math.min(r.getLong(1) / 100000L, 9L))).toMap
    val byDoc = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getString(1), q6(r.getLong(0))))
    val nAll = byDoc.length.toLong
    rows.foreach { r =>
      val src = r.getString(0)
      val mine = byDoc.filter(_._1 == src)
      val nS = mine.length.toLong
      assert(r.getLong(1) == nS)
      val xds = (0L to 9L).map { d =>
        val nSd = mine.count(_._2 == d).toLong
        val rest = byDoc.count(_._2 == d).toLong - nSd
        math.abs(nSd.toDouble / nS - rest.toDouble / (nAll - nS))
      }
      assert(r.getDouble(2) == xds.sorted.foldLeft(0.0)(_ + _) * 0.5)
    }
  }

  test("split contamination rows are exactly the verified cross-split pairs") {
    def bucket(id: Long): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(h.take(4), 16) % 100
    }
    def split(id: Long): String = {
      val b = bucket(id)
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val pairs = graft.similarity.Similarity.verifiedPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sym = pairs ++ pairs.map { case (a, b, c) => (b, a, c) }
    val expect = sym
      .filter { case (a, b, _) => split(a) == "test" && split(b) == "train" }
      .groupBy(_._1).view
      .mapValues(ps => (ps.length.toLong, ps.map(_._3).max)).toMap
    val got = Curation.splitContamination(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expect)
    assert(got.nonEmpty) // the sf0.01 fixture has real cross-split dups
  }

  test("systematic PPS sample: ≤ n per source, weight-proportional, exact") {
    import org.apache.spark.sql.functions._
    val n = 20
    val picked = Curation.weightedPpsSample(spark, dir, n).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(picked.nonEmpty)
    val perSource = picked.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perSource.values.forall(_ <= n))
    // Hand-replay one source's grid walk from the raw table: the scan
    // order is md5(doc_id) then doc_id, cw is the inclusive running
    // weight, and a doc is picked iff its interval crosses a boundary.
    val src = picked.head._1
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = Tables.load(spark, dir, "documents")
      .filter(col("source") === src)
      .select(col("doc_id"), (col("n_chars") + lit(1L)).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, _) => (md5hex(id.toString), id) }
    val tw = rows.map(_._2).sum
    var cw = 0L
    val expect = rows.flatMap { case (id, w) =>
      val before = cw * n / tw
      cw += w
      if (cw * n / tw > before) Some(id) else None
    }.toSet
    assert(picked.filter(_._1 == src).map(_._2).toSet == expect)
    // guaranteed-inclusion: any doc heavier than the grid step is picked
    val heavy = rows.filter(_._2 > tw / n).map(_._1).toSet
    assert(heavy.subsetOf(expect))
    // deterministic: a rerun picks the identical sample
    assert(Curation.weightedPpsSample(spark, dir, n).collect().toSeq ==
      Curation.weightedPpsSample(spark, dir, n).collect().toSeq)
  }

  test("safe splits: near-dup pairs never straddle, singletons unchanged") {
    import org.apache.spark.sql.functions.col
    val rows = Curation.safeSplits(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(rows.nonEmpty)
    // the leakage guarantee: every MinHash-verified near-dup pair lands
    // in one split (split_leakage's failure mode, fixed by construction)
    val pairs = graft.dedup.Dedup.minhashLshPairs(spark, dir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(rows(a)._2 == rows(b)._2, s"pair ($a,$b) straddles splits")
      assert(rows(a)._1 == rows(b)._1, s"pair ($a,$b) keys differ")
    }
    // singletons (docs in no pair) keep the plain splitOf assignment
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val plain = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), Curation.splitOf(col("doc_id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (d, (key, s)) =>
      if (!paired.contains(d)) {
        assert(key == d && s == plain(d), s"singleton $d moved")
      }
    }
  }

  test("epoch order: a seeded permutation of the released set") {
    val rows = Curation.epochOrder(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val released = Curation.curateFull(spark, dir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // a permutation: every released doc exactly once, positions 1..n
    assert(rows.map(_._1).toSet == released && rows.nonEmpty)
    assert(rows.map(_._3).sorted.toSeq == (1L to released.size).toSeq)
    // the order is the md5(seed|doc_id) total order, brute-replayed
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = released.toSeq
      .map(d => (md5hex(s"${Curation.EpochShuffleSeed}|$d"), d))
      .sorted.map(_._2)
    assert(rows.sortBy(_._3).map(_._1).toSeq == expect)
    // a different seed draws a different permutation (same membership)
    val reseeded = Curation.epochOrder(spark, dir, seed = 1).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(reseeded.map(_._1).toSet == released)
    assert(reseeded.sortBy(_._2).map(_._1).toSeq !=
      rows.sortBy(_._3).map(_._1).toSeq)
  }

  test("release manifest: brute-replay parity and order independence") {
    import org.apache.spark.sql.functions.col
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val released = Curation.curateFull(spark, dir)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val toks = graft.text.TextAnalysis.qualityScore(spark, dir)
      .select("doc_id", "n_tokens").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expect = docs.filter(d => released.contains(d._1))
      .groupBy(d => (released(d._1), d._2)).view.mapValues { ds =>
        (ds.length.toLong, ds.map(d => toks(d._1)).sum,
          ds.map(d => java.lang.Long.parseLong(md5hex(d._3).take(13), 16)).sum)
      }.toMap
    val got = Curation.releaseManifest(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        // content_fp surfaces as the exact digit string of the
        // decimal(38,0) sum; exact-long at this SF
        (r.getLong(2), r.getLong(3), r.getString(4).toLong)).toMap
    assert(got == expect && got.nonEmpty)
  }

  test("token-budget selection: per-lang budget respected, quality-greedy") {
    val budget = 5000L
    val rows = Curation.tokenBudgetSelect(spark, dir, budget).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    for ((lang, group) <- rows.groupBy(_._1)) {
      // the running total never exceeds the budget and is consistent
      assert(group.map(_._4).max <= budget)
      assert(group.map(_._3).sum == group.map(_._4).max,
        s"cum_tokens of $lang must equal the sum of admitted n_tokens")
    }
    // greedy by quality: every admitted doc's quality ≥ any rejected
    // doc's quality within the same language (modulo the doc_id
    // tie-break), checked on the micro-unit score the plan ranks by.
    import org.apache.spark.sql.functions._
    val q6 = graft.text.TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"),
        round(col("quality") * lit(1000000.0)).cast("long").as("q6"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val langOf = Tables.load(spark, dir, "documents")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val admitted = rows.map(_._2).toSet
    for ((lang, group) <- rows.groupBy(_._1)) {
      val minAdmitted = group.map(g => q6(g._2)).min
      val rejected = langOf.collect {
        case (id, l) if l == lang && !admitted.contains(id) => q6(id)
      }
      // docs strictly better than the worst admitted one are all in
      assert(rejected.forall(_ <= minAdmitted))
    }
  }

  test("dataset card reconciles with its component operators") {
    import org.apache.spark.sql.functions.col
    val card = Curation.datasetCard(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(card.keySet == Set("train", "val", "test"))
    // volume reconciles with the split histogram
    val splitN = Curation.splitCounts(spark, dir).collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    card.foreach { case (s, r) =>
      assert(r.getLong(1) == splitN(s), s"split $s docs")
      assert(r.getLong(9) <= r.getLong(1))            // keeps <= docs
      assert(r.getLong(4) >= 0)                       // dup docs
      val mq = r.getDouble(5)
      assert(mq >= 0.0 && mq <= 1.0)
      val share = r.getDouble(7)
      assert(share > 0.0 && share <= 1.0)
    }
    // gopher keeps reconcile with the flags operator
    val keeps = graft.text.TextAnalysis.gopherFilters(spark, dir)
      .filter(col("keep"))
      .select(Curation.splitOf(col("doc_id")).as("s")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    card.foreach { case (s, r) =>
      assert(r.getLong(9) == keeps.getOrElse(s, 0L), s"split $s keeps")
    }
  }
}
