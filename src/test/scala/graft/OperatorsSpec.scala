package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}
import graft.query.Analytics
import graft.query.Analytics.Page

class OperatorsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val near1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val near2 = "alpha beta gamma delta epsilon zeta eta theta iota lambda" // 1 word off
  private val far = "one two three four five six seven eight nine ten"

  private def docs = Seq(
    (0L, near1, "s0"), (1L, near2, "s0"), (2L, far, "s0"),
    (3L, "completely unrelated text about query engines and shuffles", "s1"))
    .toDF("doc_id", "text", "source")

  test("exactGroups collapses duplicate texts to min id with counts") {
    val d = Seq((5L, "same"), (9L, "same"), (7L, "other")).toDF("doc_id", "text")
    val rows = Dedup.exactGroups(d).orderBy($"doc_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("doc_id") == 5L && rows(0).getAs[Long]("dup_count") == 2L)
  }

  test("minHashNearDuplicates finds the planted near-dup pair and only it") {
    val pairs = Dedup.minHashNearDuplicates(docs, threshold = 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("doc_a") == 0L && pairs(0).getAs[Long]("doc_b") == 1L)
    // 8 shared of 10+10-8=12 3-gram shingles... verify value is sane
    val j = pairs(0).getAs[Double]("jaccard")
    assert(j > 0.5 && j < 1.0)
  }

  test("minHashIncrementalPairs equals full-corpus MinHash restricted to the batch") {
    // Banding is per-document, so probing a prebuilt index with a new batch
    // must reproduce EXACTLY the full-corpus self-join's pairs that touch
    // the batch — same candidates, same verified jaccard. Batch = ids % 5
    // == 0. Planted: 100L (new) exact-copies doc 0 (new) → in-batch pair;
    // 101L (old) exact-copies doc 5 (new) → batch×index pair; 102L (old)
    // copies doc 7 (old) → old-old pair NEITHER side may emit.
    // start stride 11, length stride 5 → a base-doc collision needs
    // i ≡ j (mod 55): none in 0..23, so the planted copies are the only
    // exact dups (partial-overlap neighbors land near the 0.5 threshold
    // and may pair too — deterministic, and irrelevant to the equality).
    val vocab = (0 until 40).map(i => s"t$i")
    val base = (0 until 24).map { i =>
      (i.toLong, vocab.slice(i % 11, i % 11 + 10 + (i % 5)).mkString(" "))
    }
    val fixture = (base ++ Seq(
      (100L, base(0)._2), (101L, base(5)._2), (102L, base(7)._2)))
      .toDF("doc_id", "text")
    val shingled = Dedup.shingleSets(fixture, n = 3)
    val isNew = col("doc_id") % 5 === 0
    val oldSh = shingled.filter(!isNew)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    val full = pairSet(
      Dedup.minHashPairsFromShingles(shingled, threshold = 0.5)
        .filter(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0))
    val inc = pairSet(
      Dedup.minHashIncrementalPairs(
        shingled.filter(isNew), Dedup.bandRows(oldSh), oldSh, threshold = 0.5))
    assert(inc == full)
    assert(inc.exists(p => p._1 == 0L && p._2 == 100L && p._3 == 1.0)) // in-batch
    assert(inc.exists(p => p._1 == 5L && p._2 == 101L && p._3 == 1.0)) // batch×index
    // every emitted pair touches the batch — the planted old-old exact dup
    // (7, 102) in particular must NOT appear
    assert(inc.forall(p => p._1 % 5 == 0 || p._2 % 5 == 0))
    assert(inc.nonEmpty && full.nonEmpty)
  }

  test("simHashNearDuplicates flags near-identical token streams") {
    val pairs = Dedup.simHashNearDuplicates(docs, maxHamming = 16).collect()
    assert(pairs.exists(r => r.getAs[Long]("doc_a") == 0L && r.getAs[Long]("doc_b") == 1L))
    assert(!pairs.exists(r => r.getAs[Long]("doc_b") == 3L)) // different block content
  }

  test("blockedJaccardPairs computes exact set jaccard within blocks") {
    // near1 vs near2 share 9 of 11 distinct tokens → J = 9/11 ≈ 0.818
    val pairs = Dedup.blockedJaccardPairs(docs, threshold = 0.5).collect()
    assert(pairs.length == 1)
    assert(math.abs(pairs(0).getAs[Double]("jaccard") - 9.0 / 11.0) < 1e-6)
  }

  test("blockedJaccardPairs equals brute force at every threshold (completeness)") {
    // sizes spread across several log-bands and two sources: the banded
    // generator must reproduce the per-source cross-join exactly — no
    // missed cross-band pair, no double emission, bit-identical scores.
    val vocab = (0 until 60).map(i => s"w$i")
    val fixture = (0 until 16).map { i =>
      val len = 6 + 3 * i // straddles multiple size bands
      (i.toLong, if (i % 2 == 0) "s1" else "s2", vocab.slice(i % 5, i % 5 + len).mkString(" "))
    }.toDF("doc_id", "source", "text")
    val sets = fixture.select($"doc_id", $"source",
      array_sort(transform(array_distinct(split($"text", " ")), t => xxhash64(t))).as("toks"))
    val bruteForce = sets.as("a").join(sets.as("b"),
        $"a.source" === $"b.source" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        round(Dedup.sortedJaccard($"a.toks", $"b.toks"), 6).as("jaccard"))
    for (t <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val expected = bruteForce.filter($"jaccard" >= t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = Dedup.blockedJaccardPairsUnsorted(fixture, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.length == got.toSet.size, s"threshold $t: duplicate emission")
      assert(got.toSet == expected, s"threshold $t: blocked != brute force")
    }
  }

  test("prefixFilterPairs equals brute force at every threshold (completeness)") {
    // 12 docs with overlapping token windows over a 40-word vocabulary —
    // pair similarities spread across (0, 1), so each threshold slices a
    // different exact answer. The prefix-filter result must equal the
    // cross-join twin EXACTLY (the filter may never drop a true pair).
    val vocab = (0 until 40).map(i => s"w$i")
    val fixture = (0 until 12).map { i =>
      (i.toLong, vocab.slice(i, i + 20).mkString(" "))
    }.toDF("doc_id", "text")
    val sets = fixture.select(
      $"doc_id",
      array_sort(transform(array_distinct(split($"text", " ")), t => xxhash64(t))).as("toks"))
    val bruteForce = sets.as("a").join(sets.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        round(Dedup.sortedJaccard($"a.toks", $"b.toks"), 6).as("jaccard"))
    for (t <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val expected = bruteForce.filter($"jaccard" >= t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = Dedup.prefixFilterPairs(sets, "doc_id", "toks", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected, s"threshold $t: prefix filter != brute force")
      // any global order is complete — the rarest-first refinement must
      // produce the identical exact answer
      val rare = Dedup.prefixFilterPairsRareFirst(sets, "doc_id", "toks", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rare == expected, s"threshold $t: rare-first prefix filter != brute force")
      assert(expected.nonEmpty || t > 0.9) // fixture exercises every slice
    }
  }

  test("redactPii scrubs phones and emails; piiCount finds them") {
    val df = Seq(
      (1L, "call 555-123-4567 or mail a.b@x.io and c@y.co"),
      (2L, "no pii here 12-34")).toDF("id", "s")
    val got = df.select($"id",
      graft.clean.Cleaning.piiCount($"s", graft.clean.Cleaning.PhonePattern).as("np"),
      graft.clean.Cleaning.piiCount($"s", graft.clean.Cleaning.EmailPattern).as("ne"),
      graft.clean.Cleaning.redactPii($"s").as("red")).orderBy($"id").collect()
    assert(got(0).getAs[Long]("np") == 1L && got(0).getAs[Long]("ne") == 2L)
    assert(got(0).getAs[String]("red") == "call [PHONE] or mail [EMAIL] and [EMAIL]")
    assert(got(1).getAs[Long]("np") == 0L && got(1).getAs[Long]("ne") == 0L)
    assert(got(1).getAs[String]("red") == "no pii here 12-34")
  }

  test("unigramLogProb scores common-word docs higher than rare-word docs") {
    // "common" appears 12x in the corpus, rare words once each.
    val docs = (Seq.fill(10)("common common") ++ Seq("common rarea", "rareb rarec"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = graft.functions.TextAnalysis.unigramLogProb(docs)
      .orderBy($"doc_id").collect()
    assert(got.length == 12)
    val common = got(0).getAs[Double]("avg_logprob")
    val mixed = got(10).getAs[Double]("avg_logprob")
    val rare = got(11).getAs[Double]("avg_logprob")
    assert(common > mixed && mixed > rare)
    assert(got.forall(_.getAs[Long]("n_tokens") == 2L))
  }

  test("bruteForceKnn ranks by cosine with deterministic tie-break") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),   // closest to 0
      (2L, Array(0.0f, 1.0f)),   // orthogonal
      (3L, Array(-1.0f, 0.0f)))  // opposite
      .toDF("vec_id", "embedding")
    val knn = Similarity.bruteForceKnn(emb.filter($"vec_id" === 0), emb, k = 3).collect()
    assert(knn.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L, 3L))
    assert(knn(0).getAs[Int]("rank") == 1)
  }

  test("hardNegatives excludes same-label neighbors and ranks the rest like brute force") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.01f), 0),  // nearest overall but SAME label → excluded
      (2L, Array(0.9f, 0.1f), 1),    // nearest mismatched → rank 1
      (3L, Array(0.0f, 1.0f), 2),    // orthogonal mismatch → rank 2
      (4L, Array(-1.0f, 0.0f), 1))   // opposite mismatch → rank 3
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(emb.filter($"vec_id" === 0), emb, k = 3).collect()
    assert(got.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L, 4L))
    assert(got.map(_.getAs[Int]("neighbor_label")).toSeq == Seq(1, 2, 1))
    assert(got.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    // scores agree with the unfiltered brute force on the shared pairs
    val brute = Similarity.bruteForceKnn(emb.filter($"vec_id" === 0), emb, k = 4)
      .collect().map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("cosine")).toMap
    got.foreach(r => assert(
      brute(r.getAs[Long]("neighbor_id")) == r.getAs[Double]("cosine")))
  }

  test("hardNegativesIvf with all cells probed equals brute-force hard negatives") {
    import graft.operators.IvfIndex
    // nProbe = nLists ⟹ every candidate cell is probed, so the cell-keyed
    // self-mining join must reproduce the |Q|·|C| brute force EXACTLY —
    // the approximation comes only from unprobed cells, nothing else.
    val emb = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat), (i % 4).toInt)
    }.toDF("vec_id", "embedding", "label")
    val idx = IvfIndex.build(spark, emb, nLists = 4)
    val got = IvfIndex.hardNegativesIvf(
        idx, emb.select($"vec_id", $"label"), emb, k = 3, nProbe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Int]("neighbor_label"),
          r.getAs[Double]("cosine"))).toMap
    val want = Similarity.hardNegatives(emb, emb, k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Int]("neighbor_label"),
          r.getAs[Double]("cosine"))).toMap
    assert(got == want)
    // fewer probes: still a SUBSET property — every mined pair carries the
    // exact brute-force score, ranks are consistent per query
    val sub = IvfIndex.hardNegativesIvf(
        idx, emb.select($"vec_id", $"label"), emb, k = 3, nProbe = 1)
      .collect()
    val bruteScores = Similarity.hardNegatives(emb, emb, k = 60)
      .collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
          r.getAs[Double]("cosine")).toMap
    sub.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(bruteScores(key) == r.getAs[Double]("cosine"))
    }
  }

  test("hardNegativesIvfPq mines mismatched labels only, ADC-scored, batch-parity shape") {
    import graft.operators.Pq
    // ADC scores are quantized (no exact parity even at full probe — the
    // PQ trade), so the invariants are STRUCTURAL: never self, never the
    // query's own label, contiguous ranks from 1, ≤ k per query, scores
    // descending per query, and the whole mining is deterministic
    // (fixed seeds) — two runs return identical rows.
    val emb = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat), (i % 4).toInt)
    }.toDF("vec_id", "embedding", "label")
    val idx = Pq.buildIvfPq(spark, emb, dims = 8, nLists = 4, m = 4, ksub = 16)
    val labels = emb.select($"vec_id", $"label")
    def run() = Pq.hardNegativesIvfPq(idx, labels, emb, k = 3, nProbe = 4)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("neighbor_label"), r.getAs[Double]("cosine"),
        r.getAs[Int]("rank")))
    val got = run()
    val lbl = (0L until 60L).map(i => i -> (i % 4).toInt).toMap
    got.foreach { case (q, n, nl, _, _) =>
      assert(q != n, s"self-pair mined for query $q")
      assert(nl == lbl(n), s"neighbor label wrong for $n")
      assert(nl != lbl(q), s"same-label negative $n mined for query $q")
    }
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet == (0L until 60L).toSet) // full-probe: every query mines
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1 to rs.length).toSeq, s"ranks not contiguous for $q")
      assert(rs.length <= 3)
      val scores = sorted.map(_._4).toSeq
      assert(scores == scores.sorted.reverse, s"scores not descending for $q")
    }
    assert(run().toSeq == got.toSeq) // deterministic end to end
  }

  test("lshKnn returns a subset of brute-force neighbors with exact scores") {
    val emb = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceKnn(emb.filter($"vec_id" < 3), emb, k = 5)
      .select($"query_id", $"neighbor_id", $"cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshKnn(emb.filter($"vec_id" < 3), emb, k = 5, planes = 2, dims = 8).collect()
    lsh.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      // any LSH hit that brute force also ranked must carry the same score
      brute.get(key).foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
  }

  test("connectedComponents merges chains and keeps components separate") {
    import graft.operators.Dedup
    // chain 1-2-3, pair 10-11, triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("a", "b")
    // run BOTH paths: the driver union-find (default for small graphs) and
    // the distributed pointer-jump loop must agree exactly
    val ccDriver = Dedup.connectedComponents(pairs, "a", "b").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ccLoop = Dedup.connectedComponents(pairs, "a", "b", loopShuffleWidth = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(ccDriver == ccLoop)
    val cc = ccDriver
    assert(cc(1L) == ((1L, 3L)) && cc(2L) == ((1L, 3L)) && cc(3L) == ((1L, 3L)))
    assert(cc(10L) == ((10L, 2L)) && cc(11L) == ((10L, 2L)))
    assert(cc(20L) == ((20L, 3L)) && cc(21L) == ((20L, 3L)) && cc(22L) == ((20L, 3L)))
  }

  test("connectedComponents converges on a long chain (pointer-jump rounds)") {
    import graft.operators.Dedup
    // a 201-vertex path: O(diameter) propagation would blow maxIter; the
    // pointer-jump step must close it in O(log n) rounds
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    // loopShuffleWidth > 0 forces the distributed loop (the driver
    // union-find fast path would otherwise absorb a graph this small)
    val cc = Dedup.connectedComponents(chain, "a", "b", loopShuffleWidth = 4).collect()
    assert(cc.length == 201)
    assert(cc.forall(r => r.getLong(1) == 0L && r.getLong(2) == 201L))
  }

  test("paginate enforces the sort whitelist and offset window") {
    val df = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("o_orderkey", "o_totalprice")
    val page = Analytics.paginate(
      df, Page("o_totalprice", ascending = true, limit = 5, offset = 10),
      whitelist = Set("o_totalprice"), tieBreaker = "o_orderkey").collect()
    assert(page.map(_.getLong(0)).toSeq == Seq(11L, 12L, 13L, 14L, 15L))
    intercept[IllegalArgumentException] {
      Analytics.paginate(df, Page("evil_col"), Set("o_totalprice"), "o_orderkey")
    }
  }

  test("productSales preserves duplicate order rows (one per item)") {
    val orders = Seq((1L, 7L, "O", 10.0, "2024-06-01 00:00:00"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "d")
      .withColumn("o_orderdate", to_timestamp($"d")).drop("d")
    val li = Seq((1L, 100L, 1), (1L, 100L, 2)).toDF("l_orderkey", "l_partkey", "l_linenumber")
    val part = Seq((100L, "Brand#1")).toDF("p_partkey", "p_brand")
    val rows = Analytics.productSales(
      orders, li, part, "2024-01-01 00:00:00", "2024-12-31 00:00:00",
      page = Page("o_orderdate", limit = 10)).collect()
    assert(rows.length == 2) // J4 semantics: dupes preserved, not semi-joined
  }

  test("productSales rejects a sort column off its whitelist before building any join") {
    // inputs without the join columns: a check after the joins would fail
    // analysis first, with an AnalysisException instead
    val empty = Seq(1L).toDF("x")
    val e = intercept[IllegalArgumentException] {
      Analytics.productSales(empty, empty, empty, "2024-01-01", "2024-12-31",
        page = Page("o_custkey"))
    }
    assert(e.getMessage.contains("o_custkey") && e.getMessage.contains("o_totalprice"), e.getMessage)
  }

  test("correlatedActivity ranks the planted identical pair first") {
    // users 1 and 2 share an identical 30-hour activity pattern (corr 1);
    // user 3 runs the inverted pattern (corr -1 with both)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:10:00").getTime
    val rows = for {
      h <- 0 until 30
      level = (h % 5) + 1
      (user, cnt) <- Seq((1L, level), (2L, level), (3L, 7 - level))
      _ <- 0 until cnt
    } yield (user, new java.sql.Timestamp(base + h * 3600000L))
    val events = rows.toDF("user_id", "ts")
    val got = graft.operators.TimeSeries.correlatedActivity(events, topUsers = 3, minOverlap = 24)
      .collect()
    assert(got.length == 3)
    val first = got.head
    assert((first.getLong(0), first.getLong(1)) == (1L, 2L))
    assert(first.getAs[Double]("activity_corr") == 1.0)
    assert(got.tail.forall(_.getAs[Double]("activity_corr") == -1.0))
  }

  test("latestByKey keeps exactly the newest row per key with tie-break") {
    val df = Seq(
      (1L, 10L, "old"), (1L, 20L, "new"),
      (2L, 30L, "only"),
      (3L, 40L, "tie-lo"), (3L, 40L, "tie-lo2") // same ordering value → needs tie-break
    ).toDF("k", "ts", "v")
    // tie-break on v makes the ordering total
    val out = Dedup.latestByKey(df, Seq("k"), Seq(col("ts"), col("v")))
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((1L, 20L, "new"), (2L, 30L, "only"), (3L, 40L, "tie-lo2")))
  }

  test("pageRank: symmetric cycle is uniform, extra in-links raise rank") {
    import graft.operators.Graph
    val cycle = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0))
      .toDF("src", "dst", "w")
    val uniform = Graph.pageRank(cycle, "src", "dst", "w", iterations = 5)
      .collect().map(_.getDouble(1))
    assert(uniform.forall(r => math.abs(r - 1.0 / 3) < 1e-6)) // output is 6-dp rounded

    // a and b both point at c; only c points back at a; b has no in-links.
    // The a↔c 2-cycle oscillates (damped by 0.85² per two rounds), so run
    // enough rounds for the fixpoint ordering (c ≈ .487, a ≈ .464) to hold.
    val skewed = Seq(("a", "c", 1.0), ("b", "c", 1.0), ("c", "a", 1.0))
      .toDF("src", "dst", "w")
    val ranks = Graph.pageRank(skewed, "src", "dst", "w", iterations = 30)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks("c") > ranks("a") && ranks("a") > ranks("b"))
    // b receives only the teleport mass
    assert(math.abs(ranks("b") - 0.05) < 1e-6)

    // the distributed loop (driverMaxEdges = 0 forces it) agrees with the
    // driver fast path to the 6-dp output precision
    val dist = Graph.pageRank(skewed, "src", "dst", "w", iterations = 30,
      driverMaxEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dist.keySet == ranks.keySet &&
      dist.forall { case (k, v) => math.abs(v - ranks(k)) <= 1e-6 })
  }

  test("countMin estimates upper-bound exact counts within the CM guarantee") {
    import graft.operators.CountMin
    val keys = (Seq.fill(40)(1L) ++ Seq.fill(10)(2L) ++ (3L to 30L)).toDF("k")
    val sk = CountMin.sketch(keys, col("k"), depth = 3, width = 64)
    val probes = (1L to 30L).toDF("k")
    val exact = keys.groupBy(col("k").as("key")).agg(count(lit(1)).as("n_true"))
    val n = keys.count()
    val got = CountMin.estimate(probes, col("k"), sk, depth = 3, width = 64)
      .join(exact, Seq("key")).collect()
    assert(got.length == 30)
    assert(got.forall(r => r.getLong(1) >= r.getLong(2))) // never undercounts
    val bound = 4.0 * math.E * n / 64.0
    assert(got.forall(r => (r.getLong(1) - r.getLong(2)).toDouble <= bound))
  }

  test("lastTouchAttribution credits the window-qualified touch else direct") {
    import graft.operators.TimeSeries
    val ev = Seq(
      // user 1: click 100s before purchase → click credited
      (1L, 1L, 100L, "click", 0.0), (2L, 1L, 200L, "purchase", 10.0),
      // user 2: view 10h before purchase → outside 8h window → direct
      (3L, 2L, 0L, "view", 0.0), (4L, 2L, 36000L, "purchase", 20.0),
      // user 3: no touch at all → direct
      (5L, 3L, 50L, "purchase", 30.0),
      // user 4: view then click (later wins) then purchase
      (6L, 4L, 10L, "view", 0.0), (7L, 4L, 20L, "click", 0.0),
      (8L, 4L, 30L, "purchase", 40.0))
      .toDF("event_id", "user_id", "sec", "event_type", "value")
      .select(col("event_id"), col("user_id"),
        timestamp_seconds(col("sec")).as("ts"), col("event_type"), col("value"))
    val got = TimeSeries.lastTouchAttribution(ev, Seq("click", "view"), "purchase", 480)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("click", 2L, 50.0), ("direct", 2L, 50.0)))
  }

  test("markovTransitions smooths the full grid to valid probabilities") {
    import graft.operators.Graph
    val e = Seq(("a", "b", 2.0), ("a", "c", 1.0), ("b", "a", 1.0))
      .toDF("src", "dst", "weight")
    val got = Graph.markovTransitions(e)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    assert(got.size == 6) // 2 srcs × 3 distinct dsts, zeros included
    assert(got(("a", "b")) == 0.5)      // (2+1)/(3+3)
    assert(got(("a", "a")) == 0.166667) // unobserved → smoothing floor
    assert(got(("b", "a")) == 0.5)      // (1+1)/(1+3)
    // each row of the matrix sums to 1
    assert(math.abs(got(("a", "a")) + got(("a", "b")) + got(("a", "c")) - 1.0) < 1e-5)
  }

  test("weightedMedian picks the cumulative-half value (lower median)") {
    import graft.operators.Robust
    val df = Seq(
      ("g1", 1.0, 1L), ("g1", 2.0, 1L), ("g1", 3.0, 10L), // heavy tail wins
      ("g2", 1.0, 1L), ("g2", 2.0, 1L))                   // even split → lower
      .toDF("g", "v", "w")
    val got = Robust.weightedMedian(df, "g", col("v"), col("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("g1" -> 3.0, "g2" -> 1.0))
  }

  test("mutualInformation: 0 for independence, ln 2 for a 2x2 bijection") {
    import graft.operators.Robust
    val indep = (for { x <- Seq("a", "b"); y <- Seq("u", "v"); _ <- 1 to 5 }
      yield (x, y)).toDF("x", "y")
    assert(Robust.mutualInformation(indep, "x", "y").head().getDouble(1) == 0.0)
    val dep = (Seq.fill(5)(("a", "u")) ++ Seq.fill(5)(("b", "v"))).toDF("x", "y")
    val mi = Robust.mutualInformation(dep, "x", "y").head().getDouble(1)
    assert(math.abs(mi - math.log(2)) < 1e-6)
    // grouped twin: a pooled-independent mixture whose SEGMENTS are each
    // fully dependent (the Simpson screening case the By form exists for)
    val seg = (Seq.fill(5)(("s1", "a", "u")) ++ Seq.fill(5)(("s1", "b", "v")) ++
      Seq.fill(5)(("s2", "a", "v")) ++ Seq.fill(5)(("s2", "b", "u")))
    val df = seg.toDF("seg", "x", "y")
    assert(Robust.mutualInformation(df, "x", "y").head().getDouble(1) == 0.0)
    val grouped = Robust.mutualInformationBy(df, "x", "y", "seg").collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("s1", "s2"))
    for (r <- grouped) {
      val single = Robust.mutualInformation(
        df.filter(col("seg") === r.getString(0)), "x", "y").head()
      assert(r.getAs[Long]("n_rows") == single.getAs[Long]("n_rows"))
      assert(r.getAs[Double]("mi_nats") == single.getAs[Double]("mi_nats"))
      assert(math.abs(r.getAs[Double]("mi_nats") - math.log(2)) < 1e-6)
    }
  }

  test("chiSquare: 0 under independence, n for a 2x2 bijection") {
    import graft.operators.Robust
    val indep = (for { x <- Seq("a", "b"); y <- Seq("u", "v"); _ <- 1 to 5 }
      yield (x, y)).toDF("x", "y")
    val r0 = Robust.chiSquare(indep, "x", "y").head()
    assert((r0.getLong(1), r0.getDouble(2)) == (1L, 0.0))
    val dep = (Seq.fill(5)(("a", "u")) ++ Seq.fill(5)(("b", "v"))).toDF("x", "y")
    val r1 = Robust.chiSquare(dep, "x", "y").head()
    assert(r1.getDouble(2) == 10.0) // chi2 = n for a perfect 2x2 association
    // Cramér's V: 1 for the bijection, 0 under independence; NULL when
    // an axis has a single category (nothing to normalize)
    assert(r1.getAs[Double]("cramers_v") == 1.0)
    assert(r0.getAs[Double]("cramers_v") == 0.0)
    val flat = Seq.fill(6)(("a", "u")).toDF("x", "y")
    assert(Robust.chiSquare(flat, "x", "y").head().isNullAt(3))
    // grouped twin: one independent segment, one bijective segment —
    // each row equals the global operator on its slice
    val seg = (for { x <- Seq("a", "b"); y <- Seq("u", "v"); _ <- 1 to 5 }
      yield ("s1", x, y)) ++
      (Seq.fill(5)(("s2", "a", "u")) ++ Seq.fill(5)(("s2", "b", "v")))
    val df = seg.toDF("seg", "x", "y")
    val grouped = Robust.chiSquareBy(df, "x", "y", "seg").collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("s1", "s2"))
    for (r <- grouped) {
      val single = Robust.chiSquare(
        df.filter(col("seg") === r.getString(0)), "x", "y").head()
      assert(r.getAs[Long]("n_rows") == single.getAs[Long]("n_rows"))
      assert(r.getAs[Long]("dof") == single.getAs[Long]("dof"))
      assert(r.getAs[Double]("chi2") == single.getAs[Double]("chi2"))
      assert(r.getAs[Double]("cramers_v") == single.getAs[Double]("cramers_v"))
    }
  }

  test("autocorrelation: alternating series gives acf(1) = -1, acf(2) = 1") {
    import graft.operators.TimeSeries
    val days = Seq.tabulate(8)(i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1 + i)),
        if (i % 2 == 0) 1.0 else 2.0))
      .toDF("d", "v")
    val got = TimeSeries.autocorrelation(days, "d", col("v"), maxLag = 2)
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(got(1) == -1.0 && got(2) == 1.0)
    // grouped twin: opposite rhythms per segment — alternating (acf(1)
    // = −1) vs 4-on-4-off ramp — each row equals the global on its slice
    val seg = Seq.tabulate(16) { i =>
      ("alt", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1 + i)),
        if (i % 2 == 0) 1.0 else 2.0)
    } ++ Seq.tabulate(16) { i =>
      ("ramp", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1 + i)),
        (i % 5).toDouble)
    }
    val segDf = seg.toDF("g", "d", "v")
    val grouped = TimeSeries.autocorrelationBy(segDf, "d", col("v"), "g", maxLag = 2)
      .collect()
    assert(grouped.map(_.getString(0)).distinct.toSeq == Seq("alt", "ramp"))
    for (row <- grouped) {
      val single = TimeSeries.autocorrelation(
          segDf.filter($"g" === row.getString(0)), "d", col("v"), maxLag = 2)
        .filter($"lag" === row.getInt(1)).head()
      assert(row.getAs[Long]("n_pairs") == single.getAs[Long]("n_pairs"))
      assert(row.getAs[Double]("acf") == single.getAs[Double]("acf"),
        s"acf mismatch in ${row.getString(0)} lag ${row.getInt(1)}")
    }
  }

  test("ljungBox matches first principles; constant and short series are NULL") {
    import graft.operators.TimeSeries
    val rnd = new scala.util.Random(7)
    val n = 60
    val vals = Seq.tabulate(n)(i =>
      BigDecimal(100000 + rnd.nextInt(50000) + (if (i % 7 == 0) 40000 else 0), 2))
    def toDf(v: Seq[BigDecimal]) = v.indices.map(i =>
        (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)), v(i)))
      .toDF("d", "v").select($"d", $"v".cast("decimal(18,2)").as("v"))
    val m = 7
    val got = TimeSeries.ljungBox(toDf(vals), "d", col("v"), maxLag = m).collect()(0)
    assert(got.getAs[Long]("n_days") == n && got.getAs[Int]("lags") == m)
    // first principles: fixed-mean (Box-Jenkins) autocorrelations, plain doubles
    val xs = vals.map(_.toDouble)
    val mean = xs.sum / n
    val c0 = xs.map(x => (x - mean) * (x - mean)).sum
    val q = n.toDouble * (n + 2.0) * (1 to m).map { k =>
      val ck = (0 until n - k).map(t => (xs(t) - mean) * (xs(t + k) - mean)).sum
      val r = ck / c0
      r * r / (n - k)
    }.sum
    assert(math.abs(got.getAs[Double]("q_stat") - q) < 1e-6 * math.max(1.0, q),
      s"Q = ${got.getAs[Double]("q_stat")}, first principles = $q")
    // constant series: c0 = 0 -> NULL (fail-soft); short series: n <= m -> NULL
    val const = Seq.fill(20)(BigDecimal(500, 2))
    assert(TimeSeries.ljungBox(toDf(const), "d", col("v"), maxLag = m)
      .collect()(0).isNullAt(2))
    assert(TimeSeries.ljungBox(toDf(vals.take(m)), "d", col("v"), maxLag = m)
      .collect()(0).isNullAt(2))
    // grouped twin: two segments with different rhythms; each row equals
    // the global gate on its slice
    val vals2 = Seq.tabulate(n)(i => BigDecimal(80000 + 7000 * (i % 3), 2))
    val seg = toDf(vals).withColumn("g", lit("a"))
      .unionByName(toDf(vals2).withColumn("g", lit("b")))
    val grouped = TimeSeries.ljungBoxBy(seg, "d", col("v"), "g", maxLag = m).collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("a", "b"))
    for (r <- grouped) {
      val single = TimeSeries.ljungBox(
        seg.filter($"g" === r.getString(0)), "d", col("v"), maxLag = m).collect()(0)
      assert(r.getAs[Long]("n_days") == single.getAs[Long]("n_days"))
      assert(r.getAs[Double]("q_stat") == single.getAs[Double]("q_stat"),
        s"Q mismatch in ${r.getString(0)}")
    }
  }

  test("runsTest: alternating vs monotone series, hand-computed z") {
    import graft.operators.TimeSeries
    def toDf(v: Seq[Int]) = v.indices.map(i =>
        (java.sql.Timestamp.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).atStartOfDay),
          BigDecimal(v(i))))
      .toDF("ts", "v").select($"ts", $"v".cast("decimal(18,2)").as("v"))
    // 9 distinct values, median 5 drops; alternation leaves 8 sign flips:
    // runs = 8, mu = 5, sigma = sqrt(12/7), z = 3/sqrt(12/7) = 2.291288
    val alt = TimeSeries.runsTest(toDf(Seq(1, 9, 2, 8, 3, 7, 4, 6, 5)),
      col("ts"), col("v")).collect()(0)
    assert(alt.getAs[Long]("n_plus") == 4 && alt.getAs[Long]("n_minus") == 4)
    assert(alt.getAs[Long]("runs") == 8)
    assert(alt.getAs[Double]("z_stat") == 2.291288)
    // monotone: two runs (all-below then all-above), z = -2.291288
    val mono = TimeSeries.runsTest(toDf(1 to 9), col("ts"), col("v")).collect()(0)
    assert(mono.getAs[Long]("runs") == 2)
    assert(mono.getAs[Double]("z_stat") == -2.291288)
    // constant series: every day ties the median and drops -> NULL z,
    // zero counts (fail-soft)
    val const = TimeSeries.runsTest(toDf(Seq.fill(10)(7)), col("ts"), col("v")).collect()(0)
    assert(const.getAs[Long]("n_plus") == 0 && const.getAs[Long]("n_minus") == 0)
    assert(const.isNullAt(3))
    // grouped twin: alternating vs monotone segments match the global
    // gate on each slice; an all-tied (constant) segment DROPS
    val seg = toDf(Seq(1, 9, 2, 8, 3, 7, 4, 6, 5)).withColumn("g", lit("alt"))
      .unionByName(toDf(1 to 9).withColumn("g", lit("mono")))
      .unionByName(toDf(Seq.fill(9)(7)).withColumn("g", lit("flat")))
    val grouped = TimeSeries.runsTestBy(seg, col("ts"), col("v"), "g").collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("alt", "mono"))
    for (r <- grouped) {
      val single = TimeSeries.runsTest(
        seg.filter($"g" === r.getString(0)), col("ts"), col("v")).collect()(0)
      assert(r.getAs[Long]("runs") == single.getAs[Long]("runs"))
      assert(r.getAs[Double]("z_stat") == single.getAs[Double]("z_stat"),
        s"z mismatch in ${r.getString(0)}")
    }
  }

  test("seasonalDecompose recovers a planted weekly pattern exactly") {
    import graft.operators.TimeSeries
    // x_t = 100 + s_(t mod 7) with the s cycle summing to zero: every
    // centered 7-day window spans one full cycle, so trend = 100 on all
    // interior days, seasonal = the planted cycle, residual = 0
    val cycle = Seq(3.0, -1.0, 2.0, -4.0, 0.0, 5.0, -5.0)
    val n = 21
    val days = (0 until n).map { i =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
      val dow = (d.toEpochDay % 7).toInt
      (java.sql.Timestamp.valueOf(d.atStartOfDay), BigDecimal(100.0 + cycle(dow)))
    }.toDF("ts", "v").select($"ts", $"v".cast("decimal(18,2)").as("v"))
    val got = TimeSeries.seasonalDecompose(days, col("ts"), col("v")).collect()
    assert(got.length == n - 6) // edge days without a full window drop
    for (r <- got) {
      val dow = (r.getTimestamp(0).toLocalDateTime.toLocalDate.toEpochDay % 7).toInt
      assert(r.getAs[Double]("trend") == 100.0, s"trend at ${r.getTimestamp(0)}")
      assert(r.getAs[Double]("seasonal") == cycle(dow),
        s"seasonal at ${r.getTimestamp(0)}: ${r.getAs[Double]("seasonal")} vs ${cycle(dow)}")
      assert(r.getAs[Double]("residual") == 0.0, s"residual at ${r.getTimestamp(0)}")
    }
    // components reassemble the series on every emitted day (with noise)
    val rnd = new scala.util.Random(3)
    val noisy = (0 until 40).map { i =>
      val d = java.time.LocalDate.of(2024, 3, 1).plusDays(i.toLong)
      (java.sql.Timestamp.valueOf(d.atStartOfDay),
        BigDecimal(5000 + rnd.nextInt(2000) + 10 * i, 2))
    }.toDF("ts", "v").select($"ts", $"v".cast("decimal(18,2)").as("v"))
    for (r <- TimeSeries.seasonalDecompose(noisy, col("ts"), col("v")).collect()) {
      val sum = r.getAs[Double]("trend") + r.getAs[Double]("seasonal") +
        r.getAs[Double]("residual")
      assert(math.abs(sum - r.getAs[Double]("revenue")) < 1e-5,
        s"components do not reassemble at ${r.getTimestamp(0)}")
    }
    // grouped twin: two segments with different profiles; each segment's
    // rows equal the global operator on that slice
    val seg = days.withColumn("g", lit("cyc")).unionByName(noisy.withColumn("g", lit("noisy")))
    val grouped = TimeSeries.seasonalDecomposeBy(seg, col("ts"), col("v"), "g")
      .collect()
    assert(grouped.map(_.getString(0)).distinct.toSeq == Seq("cyc", "noisy"))
    for (g <- Seq("cyc", "noisy")) {
      val single = TimeSeries.seasonalDecompose(
          seg.filter($"g" === g), col("ts"), col("v"))
        .collect().map(r => r.getTimestamp(0) ->
          (r.getAs[Double]("trend"), r.getAs[Double]("seasonal"), r.getAs[Double]("residual"))).toMap
      for (r <- grouped.filter(_.getString(0) == g)) {
        val (t, sx, res) = single(r.getTimestamp(1))
        assert(r.getAs[Double]("trend") == t && r.getAs[Double]("seasonal") == sx &&
          r.getAs[Double]("residual") == res, s"twin mismatch in $g at ${r.getTimestamp(1)}")
      }
    }
  }

  test("twoProportionZ: zero for equal rates, 2 for a 2v2 total split") {
    import graft.operators.Robust
    val equal = Seq((0L, true), (0L, false), (1L, true), (1L, false)).toDF("arm", "s")
    assert(Robust.twoProportionZ(equal, col("arm"), col("s")).head().getDouble(4) == 0.0)
    val split = Seq((0L, true), (0L, true), (1L, false), (1L, false)).toDF("arm", "s")
    val r = Robust.twoProportionZ(split, col("arm"), col("s")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == (2L, 2L, 2L, 0L))
    assert(r.getDouble(4) == 2.0) // (1-0)/sqrt(.5*.5*(1/2+1/2)) = 2
    // grouped twin: per-segment equality with the global operator on the
    // slice; a one-armed segment drops (grouped-gate contract)
    val seg = Seq(
      ("wk", 0L, true), ("wk", 0L, false), ("wk", 1L, true), ("wk", 1L, false),
      ("we", 0L, true), ("we", 0L, true), ("we", 1L, false), ("we", 1L, false),
      ("zz", 0L, true), ("zz", 0L, false)) // arm-1 missing → dropped
    val df = seg.toDF("seg", "arm", "s")
    val grouped = Robust.twoProportionZBy(df, col("arm"), col("s"), "seg").collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("we", "wk"))
    for (g <- grouped) {
      val single = Robust.twoProportionZ(
        df.filter(col("seg") === g.getString(0)), col("arm"), col("s")).head()
      for (i <- 1 to 4) assert(g.getLong(i) == single.getLong(i - 1))
      assert(g.getDouble(5) == single.getDouble(4), s"z in ${g.getString(0)}")
    }
  }

  test("ksStatistic: 0 for identical samples, 1 for disjoint supports") {
    import graft.operators.Robust
    val same = (Seq.tabulate(50)(i => (i.toLong, "a")) ++
      Seq.tabulate(50)(i => (i.toLong, "b"))).toDF("v", "g")
    val r0 = Robust.ksStatistic(same, col("v"), col("g"), "a", "b").head()
    assert((r0.getLong(0), r0.getLong(1), r0.getDouble(2)) == (50L, 50L, 0.0))

    val disjoint = (Seq.tabulate(20)(i => (i.toLong, "a")) ++
      Seq.tabulate(20)(i => (100L + i, "b"))).toDF("v", "g")
    val r1 = Robust.ksStatistic(disjoint, col("v"), col("g"), "a", "b").head()
    assert(r1.getDouble(2) == 1.0)
  }

  test("psiDrift: 0 for identical samples, large for a shifted distribution") {
    import graft.operators.Robust
    // identical distributions, equal sizes: every bin has cr == cc, the
    // smoothed proportions cancel exactly → psi == 0 with no tolerance
    val same = (Seq.tabulate(100)(i => (i.toLong, "a")) ++
      Seq.tabulate(100)(i => (i.toLong, "b"))).toDF("v", "g")
    val r0 = Robust.psiDrift(same, col("v"), col("g"), "a", "b").head()
    assert((r0.getLong(0), r0.getLong(1), r0.getDouble(2)) == (100L, 100L, 0.0))
    // current shifted wholly above the reference's max: all current mass
    // lands in the top bin → far past the 0.25 "investigate" threshold
    val shifted = (Seq.tabulate(100)(i => (i.toLong, "a")) ++
      Seq.tabulate(100)(i => (1000L + i, "b"))).toDF("v", "g")
    val r1 = Robust.psiDrift(shifted, col("v"), col("g"), "a", "b").head()
    assert(r1.getDouble(2) > 1.0)
  }

  test("hybridRrf fuses lexical and semantic ranks; agreement beats single-list wins") {
    import graft.operators.Similarity
    // doc 1 is mid-rank on BOTH lists; doc 2 tops lexical only, doc 3 tops
    // semantic only. RRF must put the agreeing doc first.
    val docs = Seq(
      (1L, "spark join alpha"), // lex rank 2 (2 terms, longer)
      (2L, "spark join"), // lex rank 1 (2 terms, shortest)
      (3L, "alpha beta gamma"), // no query terms → lexical miss
      (4L, "spark alpha beta gamma delta")) // lex rank 3
      .toDF("doc_id", "text")
    val q = Array(1.0f, 0.0f)
    val emb = Seq(
      (7L, q), // the query vector
      (1L, Array(0.9f, 0.1f)), // sem rank 2
      (2L, Array(0.0f, 1.0f)), // sem rank 4 (orthogonal-ish)
      (3L, Array(1.0f, 0.0f)), // sem rank 1 (exact match)
      (4L, Array(0.5f, 0.5f))) // sem rank 3
      .toDF("vec_id", "embedding")
    val rows = Similarity.hybridRrf(docs, emb, Seq("spark", "join", "merge"), 7L)
      .collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // every fused score is 1/(60+lex) + 1/(60+sem) with absent lists = 0
    rows.foreach { r =>
      val lex = Option(r.getAs[java.lang.Long]("lex_rank")).map(_.toDouble)
      val sem = Option(r.getAs[java.lang.Long]("sem_rank")).map(_.toDouble)
      val expect = lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        sem.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getAs[Double]("rrf") - expect) < 1e-6)
    }
    // doc 1 (rank 2 + rank 2) outscores doc 3 (semantic-only rank 1)
    assert(byId(1L).getAs[Double]("rrf") > byId(3L).getAs[Double]("rrf"))
    // lexical-only doc 3 still present with a null lex_rank
    assert(byId(3L).isNullAt(byId(3L).fieldIndex("lex_rank")))
  }

  test("winnowing: guaranteed recall of >= k+w-1 substring pairs; no false candidates without shared grams") {
    // doc 1 embeds a 12-token run of doc 0 (>= 8 = 3+6-1): MUST be a
    // candidate (winnowing theorem). doc 2 shares zero 3-grams with
    // either: MUST NOT be a candidate (fingerprints are gram hashes).
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val sub = Seq(
      (0L, s"p1 p2 p3 $shared q1 q2 q3", "s"),
      (1L, s"r1 r2 $shared r3 r4 r5 r6", "s"),
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12", "s"))
      .toDF("doc_id", "text", "source")
    val cand = Dedup.substringCandidatePairs(sub, k = 3, w = 6).collect()
    assert(cand.length == 1)
    assert(cand(0).getAs[Long]("doc_a") == 0L && cand(0).getAs[Long]("doc_b") == 1L)
    // candidates OVER-generate on shorter shared runs (precision is the
    // verifier's job): a doc sharing only a 4-token run may still pair
    val short = Seq(
      (0L, s"p1 p2 p3 $shared q1 q2 q3", "s"),
      (3L, "z1 z2 s1 s2 s3 s4 z3 z4 z5 z6 z7 z8", "s"))
      .toDF("doc_id", "text", "source")
    // (no assertion on presence — just verify it doesn't throw and stays a<b)
    Dedup.substringCandidatePairs(short, k = 3, w = 6).collect()
      .foreach(r => assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
    // density sanity: far fewer fingerprints than gram positions
    val fps = Dedup.winnowFingerprints(sub, k = 3, w = 6).count()
    val grams = sub.select(explode(split($"text", " "))).count() - 3 * 2
    assert(fps < grams)
  }

  test("semDedupPairs: intra-cell pairs subset exact, multi-assign recalls planted dup") {
    // 40 spread-out unit vectors + one planted near-dup pair (ids 100, 101)
    val dim = 8
    val rnd = new scala.util.Random(7)
    val spread = Seq.tabulate(40) { i =>
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      (i.toLong, v.toSeq)
    }
    val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val nearA = base.toSeq
    val nearB = base.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }.toSeq
    val emb = (spread ++ Seq((100L, nearA), (101L, nearB))).toDF("vec_id", "embedding")
    val pairs = graft.operators.IvfIndex
      .semDedupPairs(spark, emb, nLists = 4, tau = 0.95, assignTo = 2)
      .collect()
    assert(pairs.exists(r => r.getAs[Long]("vec_a") == 100L && r.getAs[Long]("vec_b") == 101L))
    pairs.foreach(r => assert(r.getAs[Double]("cosine") >= 0.95))
  }

  test("Pq: planted duplicate shares its code and is retrieved; ADC equals reconstruction cosine") {
    import graft.operators.Pq
    val dim = 16
    val rnd = new scala.util.Random(5)
    val spread = Seq.tabulate(50) { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq)
    }
    // ids 100/101: bit-identical vectors → identical PQ codes, rank-1 hit
    val dup = Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq
    val emb = (spread ++ Seq((100L, dup), (101L, dup))).toDF("vec_id", "embedding")
    val cb = Pq.train(spark, emb, dims = dim, m = 4, ksub = 8)
    assert(cb.centroids.length == 4 && cb.dsub == 4)
    val enc = Pq.encode(emb, cb)
    val codes = enc.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[scala.collection.Seq[Int]]("code"), r.getAs[Double]("recon_nrm"))).toMap
    assert(codes(100L)._1 == codes(101L)._1)
    // recon_nrm matches a driver-side reconstruction of the code
    codes.foreach { case (_, (code, nrm)) =>
      val recon = code.toArray.zipWithIndex.flatMap { case (c, j) => cb.centroids(j)(c) }
      assert(math.abs(nrm - math.sqrt(recon.map(v => v * v).sum)) < 1e-9)
      code.foreach(c => assert(c >= 0 && c < 8))
    }
    // ADC score = cosine(query, reconstruction), up to double re-association
    val q = emb.filter($"vec_id" === 100L)
    val got = Pq.adcSearch(enc, cb, q, k = 5).collect()
    assert(got.exists(r => r.getAs[Long]("neighbor_id") == 101L &&
      r.getAs[Int]("rank") == 1), got.mkString(","))
    val qVec = dup.map(_.toDouble).toArray
    val qNrm = math.sqrt(qVec.map(v => v * v).sum)
    got.foreach { r =>
      val (code, rNrm) = codes(r.getAs[Long]("neighbor_id"))
      val recon = code.toArray.zipWithIndex.flatMap { case (c, j) => cb.centroids(j)(c) }
      val expect = qVec.zip(recon).map { case (a, b) => a * b }.sum / (qNrm * rNrm)
      assert(math.abs(r.getAs[Double]("cosine") - expect) < 1e-6, r.toString)
    }
    // dims mismatch fails loudly at train time
    val bad = intercept[IllegalArgumentException](
      Pq.train(spark, emb, dims = dim, m = 5, ksub = 8))
    assert(bad.getMessage.contains("must divide"))
  }

  test("IvfPq: planted duplicate retrieved at rank 1; unprobed cells never emit") {
    import graft.operators.Pq
    val dim = 16
    val rnd = new scala.util.Random(9)
    val spread = Seq.tabulate(60) { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq)
    }
    val dup = Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq
    val emb = (spread ++ Seq((100L, dup), (101L, dup))).toDF("vec_id", "embedding")
    val idx = Pq.buildIvfPq(spark, emb, dims = dim, nLists = 4, m = 4, ksub = 8)
    // identical vectors land in the same cell with identical codes
    val enc = idx.encoded.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cell_id"), r.getAs[scala.collection.Seq[Int]]("code"))).toMap
    assert(enc(100L) == enc(101L))
    // query = the dup itself probes its own cell first → rank-1 retrieval
    val q = emb.filter($"vec_id" === 100L)
    val got = Pq.ivfPqSearch(idx, q, k = 5, nProbe = 2).collect()
    assert(got.exists(r => r.getAs[Long]("neighbor_id") == 101L &&
      r.getAs[Int]("rank") == 1), got.mkString(","))
    // pruning property: with nProbe=1 every returned neighbor sits in the
    // query's single probed cell (the dup's own cell)
    val one = Pq.ivfPqSearch(idx, q, k = 10, nProbe = 1).collect()
    val qCell = enc(100L)._1
    one.foreach(r => assert(enc(r.getAs[Long]("neighbor_id"))._1 == qCell, r.toString))
    // recon_nrm is the FULL reconstruction norm (centroid + residual code)
    idx.encoded.collect().foreach { r =>
      val cell = r.getAs[Int]("cell_id")
      val code = r.getAs[scala.collection.Seq[Int]]("code")
      val recon = code.toArray.zipWithIndex.map { case (c, j) =>
        idx.cb.centroids(j)(c).zipWithIndex.map { case (v, t) =>
          v + idx.ivfCents(cell)(j * idx.cb.dsub + t)
        }
      }.flatten
      assert(math.abs(r.getAs[Double]("recon_nrm") -
        math.sqrt(recon.map(v => v * v).sum)) < 1e-9)
    }
  }

  test("rerankExact: full-coverage shortlist reproduces brute force; partial shortlist stays within it") {
    val rnd = new scala.util.Random(13)
    val emb = Seq.tabulate(40) { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" < 3)
    val brute = Similarity.bruteForceKnn(q, emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // shortlist = everything → rerank must equal brute force bit-for-bit
    // (same cosine arithmetic, same tie-break)
    val all = q.select($"vec_id".as("query_id"))
      .crossJoin(emb.select($"vec_id".as("neighbor_id")))
    val rr = Similarity.rerankExact(all, q, emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rr == brute)
    // partial shortlist: results only ever come FROM the shortlist
    val short = all.filter($"neighbor_id" % 2 === 0)
    Similarity.rerankExact(short, q, emb, k = 5).collect()
      .foreach(r => assert(r.getAs[Long]("neighbor_id") % 2 == 0, r.toString))
  }

  test("triangleCount: one triangle plus a dangling edge") {
    import graft.operators.Graph
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val r = Graph.triangleCount(pairs, "a", "b").head()
    assert(r.getAs[Long]("n_vertices") == 4L)
    assert(r.getAs[Long]("n_edges") == 4L)
    assert(r.getAs[Long]("n_triangles") == 1L)
    // orientation-insensitive: reversed/duplicated input edges change nothing
    val messy = Seq((2L, 1L), (2L, 3L), (1L, 3L), (3L, 1L), (4L, 3L)).toDF("a", "b")
    val r2 = Graph.triangleCount(messy, "a", "b").head()
    assert(r2.getAs[Long]("n_triangles") == 1L && r2.getAs[Long]("n_edges") == 4L)
  }

  test("mannWhitneyU: identical groups give z = 0 and U = n^2/2; separation gives extreme U") {
    import graft.operators.Robust
    val same = (Seq.tabulate(30)(i => (i % 10, "a")) ++ Seq.tabulate(30)(i => (i % 10, "b")))
      .toDF("v", "g")
    val r0 = Robust.mannWhitneyU(same, col("v"), col("g"), "a", "b").head()
    assert(r0.getAs[Long]("u2_a") == 2L * 30 * 30 / 2) // U_A = n_a n_b / 2
    assert(r0.getAs[Double]("z_stat") == 0.0)
    // complete separation: every a < every b → U_A = 0
    val sep = (Seq.tabulate(20)(i => (i, "a")) ++ Seq.tabulate(20)(i => (100 + i, "b")))
      .toDF("v", "g")
    val r1 = Robust.mannWhitneyU(sep, col("v"), col("g"), "a", "b").head()
    assert(r1.getAs[Long]("u2_a") == 0L)
    assert(r1.getAs[Double]("z_stat") < -5.0)
  }

  test("kendallTauB: perfect agreement/reversal, hand-checked ties, exact pair counts") {
    import graft.operators.Robust
    // strictly monotone, no ties: tau = 1 / −1, P = n(n−1)/2
    val mono = Seq.tabulate(10)(i => (i, i * 3)).toDF("x", "y")
    val r1 = Robust.kendallTauB(mono, $"x", $"y").head()
    assert(r1.getAs[Long]("concordant") == 45L && r1.getAs[Long]("discordant") == 0L)
    assert(r1.getAs[Double]("tau_b") == 1.0)
    val anti = Seq.tabulate(10)(i => (i, -i)).toDF("x", "y")
    assert(Robust.kendallTauB(anti, $"x", $"y").head().getAs[Double]("tau_b") == -1.0)
    // hand-checked tie case: x=[1,1,2,2], y=[1,2,1,2] →
    // P = 1 (the (1,1)-(2,2) pair), Q = 1 ((1,2)-(2,1)), n1 = n2 = 2,
    // n0 = 6 → tau_b = 0 / (sqrt(4)*sqrt(4)) = 0
    val ties = Seq((1, 1), (1, 2), (2, 1), (2, 2)).toDF("x", "y")
    val r2 = Robust.kendallTauB(ties, $"x", $"y").head()
    assert(r2.getAs[Long]("concordant") == 1L && r2.getAs[Long]("discordant") == 1L)
    assert(r2.getAs[Double]("tau_b") == 0.0)
    // scipy-checked: x=[1,2,3,4,5], y=[1,1,2,2,3] → tau_b = 0.8944271909…
    val sk = Seq((1, 1), (2, 1), (3, 2), (4, 2), (5, 3)).toDF("x", "y")
    assert(Robust.kendallTauB(sk, $"x", $"y").head().getAs[Double]("tau_b") == 0.894427)
    // grouped form: each segment's row equals the global operator on that
    // slice (opposite-association segments keep their own signs)
    val seg = (Seq.tabulate(10)(i => ("up", i, i * 3)) ++
      Seq.tabulate(10)(i => ("dn", i, -i))).toDF("g", "x", "y")
    val grouped = Robust.kendallTauBBy(seg, $"x", $"y", "g").collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("dn", "up"))
    for (row <- grouped) {
      val single = Robust.kendallTauB(
        seg.filter($"g" === row.getString(0)), $"x", $"y").head()
      for (c <- Seq("n", "concordant", "discordant"))
        assert(row.getAs[Long](c) == single.getAs[Long](c), s"$c in ${row.getString(0)}")
      assert(row.getAs[Double]("tau_b") == single.getAs[Double]("tau_b"))
    }
  }

  test("cusumBinarySeg finds both planted steps, constant half is silent") {
    import graft.operators.TimeSeries
    // levels 100 (days 1-20), 200 (21-40), 400 (41-60): the bigger step
    // wins level 1 (argmax at day 40), the left half then finds day 20,
    // the constant right half reports zero with its earliest-day tiebreak
    val rows = (0 until 60).map { i =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
      val v = if (i < 20) 100.0 else if (i < 40) 200.0 else 400.0
      (java.sql.Timestamp.valueOf(d.atStartOfDay), BigDecimal(v))
    }.toDF("ts", "v").select($"ts", $"v".cast("decimal(18,2)").as("v"))
    val got = TimeSeries.cusumBinarySeg(rows, col("ts"), col("v")).collect()
    assert(got.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "all"), (2, "left"), (2, "right")))
    def day(r: org.apache.spark.sql.Row) =
      r.getTimestamp(3).toLocalDateTime.toLocalDate.getDayOfYear
    assert(day(got(0)) == 40, s"global cp at day ${day(got(0))}")
    assert(day(got(1)) == 20, s"left cp at day ${day(got(1))}")
    assert(got(2).getAs[Double]("cusum_max") == 0.0)
    assert(day(got(2)) == 41) // all-tied stats pick the earliest day
    // EMPTY input stays EMPTY
    assert(TimeSeries.cusumBinarySeg(
      rows.filter($"v" < 0), col("ts"), col("v")).collect().isEmpty)
  }

  test("mannKendallSeasonal: pure weekly cycle is silent, drift under cycle detected") {
    import graft.operators.TimeSeries
    val cycle = Seq(3.0, -1.0, 2.0, -4.0, 0.0, 5.0, -5.0)
    def toDf(f: Int => Double, n: Int) = (0 until n).map { i =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
      (java.sql.Timestamp.valueOf(d.atStartOfDay), BigDecimal(f(i)))
    }.toDF("ts", "v").select($"ts", $"v".cast("decimal(18,2)").as("v"))
    // pure cycle: within every weekday season all values tie -> S = 0,
    // the tie correction cancels the whole variance -> z NULL, Sen = 0
    val pure = TimeSeries.mannKendallSeasonal(
      toDf(i => 100.0 + cycle((java.time.LocalDate.of(2024, 1, 1)
        .plusDays(i.toLong).toEpochDay % 7).toInt), 28),
      col("ts"), col("v")).collect()(0)
    assert(pure.getAs[Long]("s_stat") == 0 && pure.isNullAt(2))
    assert(pure.getAs[Double]("sen_slope") == 0.0)
    // drift + cycle: every same-weekday pair rises -> S = m (all
    // concordant), and every within-season slope is exactly the drift
    val drift = TimeSeries.mannKendallSeasonal(
      toDf(i => 10.0 * i + cycle((java.time.LocalDate.of(2024, 1, 1)
        .plusDays(i.toLong).toEpochDay % 7).toInt), 28),
      col("ts"), col("v")).collect()(0)
    // 7 seasons x C(4,2) = 42 concordant pairs
    assert(drift.getAs[Long]("s_stat") == 42)
    assert(drift.getAs[Double]("z_stat") > 3.0)
    assert(drift.getAs[Double]("sen_slope") == 10.0)
    // under 2 days in every season: no pairs -> EMPTY
    assert(TimeSeries.mannKendallSeasonal(
      toDf(i => 10.0 * i, 7), col("ts"), col("v")).collect().isEmpty)
  }

  test("rollingAnomaly flags a planted spike against its trailing band only") {
    import graft.operators.TimeSeries
    // 40 consecutive days alternating 100/102 (nonzero band), one 1000
    // spike at day 35; window 10, z 3. Full-window days are 11..40; only
    // the spike day flags (later days' bands absorb the spike into std).
    val rows = (0 until 40).map { i =>
      val ts = java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).atStartOfDay)
      val v = if (i == 34) 1000.0 else if (i % 2 == 0) 100.0 else 102.0
      (ts, v)
    }
    val got = TimeSeries.rollingAnomaly(
        rows.toDF("ts", "v"), col("ts"), col("v"), window = 10, z = 3.0)
      .collect()
    assert(got.length == 30) // only full-window days emitted
    val flagged = got.filter(_.getAs[Boolean]("is_anomaly"))
      .map(_.getAs[java.sql.Timestamp]("day").toLocalDateTime.getDayOfMonth)
    assert(flagged.toSeq == Seq(4), s"flagged days: ${flagged.mkString(",")}") // Feb 4 = day 35
    val spike = got.find(_.getAs[Double]("revenue") == 1000.0).get
    assert(spike.getAs[Double]("roll_mean") == 101.0) // 5×100 + 5×102 over 10
  }

  test("mannKendallTrend: known trends, ties, calendar gaps, brute-force match") {
    import graft.operators.TimeSeries
    def day(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).atStartOfDay)
    // strictly increasing +2/day: S = C(20,2), Sen slope exactly 2
    val up = (0 until 20).map(i => (day(i), 100.0 + 2 * i))
    val r = TimeSeries.mannKendallTrend(up.toDF("ts", "v"), col("ts"), col("v")).collect()(0)
    assert(r.getAs[Long]("n_days") == 20 && r.getAs[Long]("s_stat") == 190)
    assert(r.getAs[Double]("sen_slope") == 2.0 && r.getAs[Double]("z_stat") > 4.0)
    // constant series: S = 0 and the tie correction zeroes the variance -> NULL z
    val const = (0 until 10).map(i => (day(i), 5.0))
    val c = TimeSeries.mannKendallTrend(const.toDF("ts", "v"), col("ts"), col("v")).collect()(0)
    assert(c.getAs[Long]("s_stat") == 0 && c.isNullAt(c.fieldIndex("z_stat")))
    assert(c.getAs[Double]("sen_slope") == 0.0)
    // calendar gap: days 0 and 10, +30 total -> slope 3/day (real date diff)
    val gap = Seq((day(0), 100.0), (day(10), 130.0))
    assert(TimeSeries.mannKendallTrend(gap.toDF("ts", "v"), col("ts"), col("v"))
      .collect()(0).getAs[Double]("sen_slope") == 3.0)
    // brute force on a mixed series: S and the rank-ceil(m/2) Sen pick
    val vals = Seq(10.0, 14.0, 11.0, 11.0, 19.0, 3.0, 25.0)
    val mixed = vals.zipWithIndex.map { case (v, i) => (day(i), v) }
    val got = TimeSeries.mannKendallTrend(mixed.toDF("ts", "v"), col("ts"), col("v")).collect()(0)
    val pairsAll = for { i <- vals.indices; j <- vals.indices if j > i } yield (i, j)
    val sRef = pairsAll.map { case (i, j) => math.signum(vals(j) - vals(i)).toLong }.sum
    val slopes = pairsAll.map { case (i, j) => (vals(j) - vals(i)) / (j - i) }.sorted
    val senRef = slopes((slopes.size + 1) / 2 - 1)
    assert(got.getAs[Long]("s_stat") == sRef)
    assert(got.getAs[Double]("sen_slope") == senRef)
  }

  test("cusumChangepoint finds a planted step; grouped twin per segment") {
    import graft.operators.TimeSeries
    def day(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).atStartOfDay)
    // 60 days at 100, then 60 days at 150: |S_d| peaks exactly at the
    // last day of the old level (day 60, i.e. Feb 29)
    val step = (0 until 120).map(i => (day(i), if (i < 60) 100.0 else 150.0))
    val got = TimeSeries.cusumChangepoint(
      step.toDF("ts", "v"), col("ts"), col("v")).collect()(0)
    assert(got.getAs[Long]("n_days") == 120)
    assert(got.getAs[java.sql.Timestamp]("cp_day") == day(59))
    assert(got.getAs[Double]("mean_before") == 100.0)
    assert(got.getAs[Double]("mean_after") == 150.0)
    // cusum_max = 60·|100 − 125| = 1500 (mean = 125)
    assert(got.getAs[Double]("cusum_max") == 1500.0)
    // constant series: every S_d = 0 → earliest day wins, magnitude 0,
    // and mean_after is NULL only when the pick is the final day (here
    // the FIRST day wins the tie, so both levels exist)
    val const = (0 until 10).map(i => (day(i), 7.0))
    val c = TimeSeries.cusumChangepoint(
      const.toDF("ts", "v"), col("ts"), col("v")).collect()(0)
    assert(c.getAs[java.sql.Timestamp]("cp_day") == day(0))
    assert(c.getAs[Double]("cusum_max") == 0.0)
    // one-day series: the pick IS the final day → mean_after NULL
    val one = TimeSeries.cusumChangepoint(
      Seq((day(0), 5.0)).toDF("ts", "v"), col("ts"), col("v")).collect()(0)
    assert(one.getAs[Double]("cusum_max") == 0.0 && one.isNullAt(one.fieldIndex("mean_after")))
    // grouped twin: two segments stepping on DIFFERENT days both recover
    // their own changepoint, equal to the global operator per segment
    val seg = step.map { case (t, v) => ("a", t, v) } ++
      (0 until 120).map(i => ("b", day(i), if (i < 90) 200.0 else 120.0))
    val df = seg.toDF("seg", "ts", "v")
    val grouped = TimeSeries.cusumChangepointBy(
      df, col("seg"), col("ts"), col("v")).collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("a", "b"))
    for (r <- grouped) {
      val single = TimeSeries.cusumChangepoint(
        df.filter(col("seg") === r.getString(0)), col("ts"), col("v")).collect()(0)
      for (c <- Seq("cusum_max", "mean_before", "mean_after"))
        assert(r.getAs[Double](c) == single.getAs[Double](c), s"$c in ${r.getString(0)}")
      assert(r.getAs[java.sql.Timestamp]("cp_day") ==
        single.getAs[java.sql.Timestamp]("cp_day"))
    }
    assert(grouped.find(_.getString(0) == "b").get
      .getAs[java.sql.Timestamp]("cp_day") == day(89))
  }

  test("bootstrapMeanCi: degenerate data collapses the CI; spread data brackets the mean") {
    import graft.operators.Bootstrap
    // cutoff sanity: monotone inverse-CDF thresholds, head at e^-1
    val cs = Bootstrap.PoissonCutoffs
    assert(cs.length == 9 && cs.sliding(2).forall { case Seq(a, b) => a < b })
    assert(math.abs(cs.head / 1.0e9 - math.exp(-1.0)) < 1e-3)
    // constant values: every replicate mean is the constant → CI collapses
    val const = (1L to 500L).map(i => (i, 42.0)).toDF("k", "v")
    val r0 = Bootstrap.bootstrapMeanCi(const, col("k"), col("v")).head()
    assert(r0.getAs[Long]("n") == 500L && r0.getAs[Double]("mean") == 42.0)
    assert(r0.getAs[Double]("ci_lo") == 42.0 && r0.getAs[Double]("ci_hi") == 42.0)
    // spread values: CI brackets the mean at a plausible width (se ≈ 9.1)
    val spread = (1L to 1000L).map(i => (i, i.toDouble)).toDF("k", "v")
    val r1 = Bootstrap.bootstrapMeanCi(spread, col("k"), col("v")).head()
    assert(r1.getAs[Double]("ci_lo") < r1.getAs[Double]("mean"))
    assert(r1.getAs[Double]("ci_hi") > r1.getAs[Double]("mean"))
    val width = r1.getAs[Double]("ci_hi") - r1.getAs[Double]("ci_lo")
    assert(width > 10 && width < 80, s"CI width $width implausible for se≈9.1")
    // deterministic end to end: a re-run reproduces the error bar exactly
    assert(Bootstrap.bootstrapMeanCi(spread, col("k"), col("v")).head() == r1)
    // grouped twin: weights are seeded by the KEY, so each segment's row
    // equals the global operator run on that segment alone — exactly
    val seg = (1L to 1000L).map(i => (i, if (i % 3 == 0) "a" else "b", i.toDouble))
      .toDF("k", "g", "v")
    val grouped = Bootstrap.bootstrapMeanCiBy(seg, col("k"), col("v"), "g").collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("a", "b"))
    for (row <- grouped) {
      val g = row.getString(0)
      val single = Bootstrap.bootstrapMeanCi(
        seg.filter($"g" === g), col("k"), col("v")).head()
      for (c <- Seq("mean", "ci_lo", "ci_hi"))
        assert(row.getAs[Double](c) == single.getAs[Double](c), s"$c mismatch in $g")
      assert(row.getAs[Long]("n") == single.getAs[Long]("n"), s"n mismatch in $g")
    }
  }

  test("bootstrap key hash: BIGINT-safe at keys past the overflow boundary, agrees with BigInt") {
    import graft.operators.Bootstrap
    val P = BigInt(1000000007L); val A = BigInt(2654435761L)
    def refU(k: Long, j: Long): Long = {
      val h = ((BigInt(k) mod P) * A) mod P // BigInt.mod is non-negative
      val x = (h + BigInt(j) * 1000003L) mod P
      ((((x * x) mod P) * A + x) mod P).toLong
    }
    // keys bracketing ⌊2⁶³/A⌋ ≈ 3.474e9 (where the unreduced multiply
    // wraps), the Long extremes, and negatives (the `%` sign trap)
    val boundary = Long.MaxValue / 2654435761L
    val keys = Seq(0L, 123L, boundary - 1, boundary, boundary + 1,
      Long.MaxValue - 1, Long.MaxValue, -7L, Long.MinValue + 1)
    val got = keys.toDF("k")
      .select(col("k"), explode(sequence(lit(0L), lit(3L))).as("j"))
      .select(col("k"), col("j"),
        Bootstrap.replicateUniform(Bootstrap.keyHash(col("k")), col("j")).as("u"))
      .collect()
    assert(got.length == keys.length * 4)
    for (row <- got) {
      val (k, j, u) = (row.getLong(0), row.getLong(1), row.getLong(2))
      assert(u == refU(k, j), s"hash diverges from BigInt at k=$k j=$j: $u != ${refU(k, j)}")
      assert(u >= 0 && u < 1000000007L, s"u=$u out of [0,P) at k=$k")
    }
    // end to end: the CI machinery survives huge keys (old spelling threw
    // off-range weights or wrapped silently here)
    val huge = keys.zipWithIndex.map { case (k, i) => (k, 10.0 + i) }.toDF("k", "v")
    val r = Bootstrap.bootstrapMeanCi(huge, col("k"), col("v"), replicates = 16).head()
    assert(r.getAs[Long]("n") == keys.length.toLong)
    assert(r.getAs[Double]("ci_lo") <= r.getAs[Double]("ci_hi"))
  }

  test("PortableHash: swept family (keyHash/mix64/shardKey + split assignment) BIGINT-safe past the boundary") {
    import graft.functions.PortableHash
    val P = BigInt(PortableHash.P); val A = BigInt(PortableHash.A)
    val MixP = BigInt(PortableHash.MixP); val ShardP = BigInt(PortableHash.ShardP)
    // keys bracketing ⌊2⁶³/A⌋ ≈ 3.474e9 (where the r10-era unreduced
    // docHash/neymanSample multiply wrapped), the Long extremes, a
    // realistic 100 TB-corpus id, and negatives (the `%` sign trap)
    val boundary = Long.MaxValue / PortableHash.A
    val keys = Seq(0L, 123L, boundary - 1, boundary, boundary + 1, 4000000000L,
      Long.MaxValue - 1, Long.MaxValue, -7L, Long.MinValue + 1)
    val got = keys.toDF("k").select(col("k"),
        PortableHash.keyHash(col("k")).as("kh"),
        (PortableHash.mix64(col("k")) % 97).as("m97"),
        PortableHash.shardKey(col("k")).as("sk")).collect()
    for (row <- got) {
      val k = row.getLong(0)
      assert(row.getLong(1) == ((BigInt(k) mod P) * A mod P).toLong, s"keyHash diverges at k=$k")
      assert(row.getLong(2) == (((BigInt(k) mod MixP) * A) % 97).toLong, s"mix64 diverges at k=$k")
      assert(row.getLong(3) == ((BigInt(k) mod ShardP) * A mod ShardP).toLong, s"shardKey diverges at k=$k")
    }
    // end to end: the 90/5/5 split assignment survives corpus-scale ids
    // (the old docHash wrapped silently here while DuckDB threw)
    val huge = keys.map(k => (k, "web", "some text")).toDF("doc_id", "source", "text")
    val gotSplits = graft.operators.Curation.datasetSplit(huge)
      .collect().map(r => r.getAs[String]("split") -> r.getAs[Long]("n_docs")).toMap
    val expSplits = keys.groupBy { k =>
      val h = ((BigInt(k) mod P) * A mod P).toLong % 100
      if (h < 90) "train" else if (h < 95) "val" else "test"
    }.map { case (s, ks) => s -> ks.length.toLong }
    assert(gotSplits == expSplits, s"split counts $gotSplits != BigInt reference $expSplits")
  }

  test("bootstrapUpliftCi: constant shift collapses the CI to the shift; spread brackets it") {
    import graft.operators.Bootstrap
    // arm 1 = arm 0 + 5 exactly, constant within arm → every replicate
    // difference is exactly 5 → the CI collapses onto the uplift
    val const = (1L to 400L).map(i => (i, i % 2, if (i % 2 == 1) 15.0 else 10.0))
      .toDF("k", "arm", "v")
    val r0 = Bootstrap.bootstrapUpliftCi(const, col("k"), col("arm"), col("v")).head()
    assert(r0.getAs[Long]("n_a") == 200L && r0.getAs[Long]("n_b") == 200L)
    assert(r0.getAs[Double]("uplift") == 5.0)
    assert(r0.getAs[Double]("ci_lo") == 5.0 && r0.getAs[Double]("ci_hi") == 5.0)
    // spread values: the CI brackets the uplift, deterministic on re-run
    val spread = (1L to 1000L).map(i => (i, i % 2, i.toDouble + (i % 2) * 100.0))
      .toDF("k", "arm", "v")
    val r1 = Bootstrap.bootstrapUpliftCi(spread, col("k"), col("arm"), col("v")).head()
    assert(r1.getAs[Double]("ci_lo") < r1.getAs[Double]("uplift"))
    assert(r1.getAs[Double]("ci_hi") > r1.getAs[Double]("uplift"))
    assert(Bootstrap.bootstrapUpliftCi(spread, col("k"), col("arm"), col("v")).head() == r1)
    // one arm empty → NULL uplift/CI row, not a crash (degenerate contract)
    val oneArm = (1L to 50L).map(i => (i, 0L, 10.0)).toDF("k", "arm", "v")
    val r2 = Bootstrap.bootstrapUpliftCi(oneArm, col("k"), col("arm"), col("v")).head()
    assert(r2.getAs[Long]("n_b") == 0L && r2.isNullAt(r2.fieldIndex("uplift")))
    assert(r2.isNullAt(r2.fieldIndex("ci_lo")))
    // grouped twin: draws seed by the KEY, so each segment's row equals
    // the global operator on that slice exactly; a segment with an empty
    // arm keeps its row with NULL uplift/CI
    val seg = (1L to 900L).map(i =>
        (i, i % 2, if (i % 3 == 0) "a" else "b", i.toDouble + (i % 2) * 50.0)) ++
      (901L to 920L).map(i => (i, 0L, "c", 5.0))
    val segDf = seg.toDF("k", "arm", "g", "v")
    val grouped = Bootstrap.bootstrapUpliftCiBy(
      segDf, col("k"), col("arm"), col("v"), "g").collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    for (row <- grouped if row.getString(0) != "c") {
      val g = row.getString(0)
      val single = Bootstrap.bootstrapUpliftCi(
        segDf.filter($"g" === g), col("k"), col("arm"), col("v")).head()
      for (c <- Seq("uplift", "ci_lo", "ci_hi"))
        assert(row.getAs[Double](c) == single.getAs[Double](c), s"$c mismatch in $g")
      assert(row.getAs[Long]("n_a") == single.getAs[Long]("n_a"), s"n_a in $g")
    }
    val cRow = grouped.find(_.getString(0) == "c").get
    assert(cRow.isNullAt(cRow.fieldIndex("uplift")) && cRow.isNullAt(cRow.fieldIndex("ci_lo")))
  }

  test("bootstrapMedianCi: collapses on constant data, brackets the median, survives point masses") {
    import graft.operators.Bootstrap
    // constant values: every replicate median is the constant
    val const = (1L to 500L).map(i => (i, 42.0)).toDF("k", "v")
    val r0 = Bootstrap.bootstrapMedianCi(const, col("k"), col("v")).head()
    assert(r0.getAs[Long]("n") == 500L)
    assert(r0.getAs[Double]("median") == 42.0)
    assert(r0.getAs[Double]("ci_lo") == 42.0)
    assert(r0.getAs[Double]("ci_hi") == 42.0)
    // spread 1..1000: median = 500 (rank ceil(1000/2)), CI brackets it
    val spread = (1L to 1000L).map(i => (i, i.toDouble)).toDF("k", "v")
    val r1 = Bootstrap.bootstrapMedianCi(spread, col("k"), col("v")).head()
    assert(r1.getAs[Double]("median") == 500.0)
    val lo1 = r1.getAs[Double]("ci_lo")
    val hi1 = r1.getAs[Double]("ci_hi")
    assert(lo1 <= 500.0 && hi1 >= 500.0 && lo1 < hi1)
    assert(hi1 - lo1 < 200, s"median CI [$lo1,$hi1] implausibly wide") // se ≈ 1.25/f(m) ≈ 40
    // deterministic end to end
    assert(Bootstrap.bootstrapMedianCi(spread, col("k"), col("v")).head() == r1)
    // heavy point mass (60% zeros): the degenerate-bucket path resolves
    // the median to the mass value with no slice
    val mass = (1L to 1000L).map(i => (i, if (i % 5 < 3) 0.0 else i.toDouble))
      .toDF("k", "v")
    val r2 = Bootstrap.bootstrapMedianCi(mass, col("k"), col("v")).head()
    assert(r2.getAs[Double]("median") == 0.0)
    assert(r2.getAs[Double]("ci_hi") == 0.0)
    // empty input: the n = 0 NULL row, not a crash
    val r3 = Bootstrap.bootstrapMedianCi(
      spread.filter($"v" < 0), col("k"), col("v")).head()
    assert(r3.getAs[Long]("n") == 0L && r3.isNullAt(r3.fieldIndex("median")))
    // grouped twin: draws seed by the KEY, so each segment's row equals
    // the global operator on that slice exactly; all-null segments DROP
    val seg = ((1L to 900L).map(i => (i, if (i % 3 == 0) "a" else "b",
        java.lang.Double.valueOf(i.toDouble))) ++
      (901L to 905L).map(i => (i, "z", null.asInstanceOf[java.lang.Double])))
      .toDF("k", "g", "v")
    val grouped = Bootstrap.bootstrapMedianCiBy(seg, col("k"), col("v"), "g").collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("a", "b")) // z dropped
    for (row <- grouped) {
      val g = row.getString(0)
      val single = Bootstrap.bootstrapMedianCi(
        seg.filter($"g" === g), col("k"), col("v")).head()
      assert(row.getAs[Long]("n") == single.getAs[Long]("n"), s"n in $g")
      for (c <- Seq("median", "ci_lo", "ci_hi"))
        assert(row.getAs[Double](c) == single.getAs[Double](c), s"$c mismatch in $g")
    }
  }

  test("bootstrapMeanCi: degenerate all-null input yields a NULL CI row, not a crash") {
    import graft.operators.Bootstrap
    val empty = Seq((1L, Option.empty[java.lang.Double]), (2L, None))
      .toDF("k", "v")
    val r = Bootstrap.bootstrapMeanCi(empty, col("k"), col("v")).head()
    assert(r.getAs[Long]("n") == 0L)
    assert(r.isNullAt(r.fieldIndex("ci_lo")) && r.isNullAt(r.fieldIndex("ci_hi")))
  }

  test("frechetDrift: zero on identical sides, exact on planted shift, empty on missing profile") {
    import graft.operators.EmbeddingDrift
    // identical clouds on both sides → every term cancels to 0
    val same = (0L until 20L).map { i =>
      (i, if (i % 2 == 0) "ref" else "cur",
        Array(((i / 2) % 5).toFloat, 1.0f)) // same value multiset per side
    }.toDF("vec_id", "split", "embedding")
    val r0 = EmbeddingDrift.frechetDrift(
      same, col("embedding"), col("split"), "ref", "cur", dim = 2).head()
    assert(r0.getAs[Long]("n_ref") == 10L && r0.getAs[Long]("n_cur") == 10L)
    assert(r0.getAs[Double]("frechet2") == 0.0)
    // constant orthogonal clouds: vars 0, mean gap 1 per dim → d² = 2
    val shifted = (0L until 20L).map { i =>
      (i, if (i % 2 == 0) "ref" else "cur",
        if (i % 2 == 0) Array(1.0f, 0.0f) else Array(0.0f, 1.0f))
    }.toDF("vec_id", "split", "embedding")
    val r1 = EmbeddingDrift.frechetDrift(
      shifted, col("embedding"), col("split"), "ref", "cur", dim = 2).head()
    assert(r1.getAs[Double]("frechet2") == 2.0)
    // a missing reference profile is absence, not zero drift → EMPTY
    assert(EmbeddingDrift.frechetDrift(
      shifted.filter($"split" =!= "ref"), col("embedding"), col("split"),
      "ref", "cur", dim = 2).count() == 0L)
    // invalid vectors (wrong length) are excluded like Pca.topComponent
    val withBad = shifted.union(Seq((99L, "ref", Array(1.0f)))
      .toDF("vec_id", "split", "embedding"))
    assert(EmbeddingDrift.frechetDrift(
      withBad, col("embedding"), col("split"), "ref", "cur", dim = 2)
      .head().getAs[Long]("n_ref") == 10L)
  }

  test("labelSeparability: planted geometry, collapsed pair, single-label empty") {
    import graft.operators.EmbeddingDrift
    // label 0 at (10,0), label 1 at (0,10), label 2 at (0,10.5) — labels 1
    // and 2 are nearly collapsed; every cloud has per-dim variance 0.25 on
    // dim 0 only (values ±0.5), so intra = 0.25
    def cloud(label: Long, cx: Float, cy: Float, base: Long) =
      (0 until 4).map(j => (base + j, label,
        Array(cx + (if (j % 2 == 0) 0.5f else -0.5f), cy)))
    val df = (cloud(0L, 10f, 0f, 0L) ++ cloud(1L, 0f, 10f, 10L) ++
      cloud(2L, 0f, 10.5f, 20L)).toDF("vec_id", "label", "embedding")
    val got = EmbeddingDrift.labelSeparability(
      df, col("embedding"), col("label"), dim = 2).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    val byLabel = got.map(r => r.getLong(0) -> r).toMap
    for (l <- Seq(0L, 1L, 2L)) {
      assert(byLabel(l).getAs[Long]("n") == 4L)
      assert(byLabel(l).getAs[Double]("intra_var") == 0.25, s"intra of $l")
    }
    // nearest pairs: 1 <-> 2 (dist^2 = 0.25), 0 -> 1 (dist^2 = 200)
    assert(byLabel(0L).getAs[Long]("nearest_label") == 1L)
    assert(byLabel(0L).getAs[Double]("nearest_dist2") == 200.0)
    assert(byLabel(1L).getAs[Long]("nearest_label") == 2L)
    assert(byLabel(1L).getAs[Double]("nearest_dist2") == 0.25)
    assert(byLabel(2L).getAs[Long]("nearest_label") == 1L)
    // fisher: collapsed pair ratio 1.0, separated label 800
    assert(byLabel(1L).getAs[Double]("fisher_ratio") == 1.0)
    assert(byLabel(0L).getAs[Double]("fisher_ratio") == 800.0)
    // a single label has no separability: EMPTY, not zero
    assert(EmbeddingDrift.labelSeparability(
      df.filter($"label" === 0L), col("embedding"), col("label"), dim = 2)
      .count() == 0L)
  }

  test("frechetDriftBy: per-group rows equal the global gate per group; one-sided groups drop") {
    import graft.operators.EmbeddingDrift
    // group a: planted orthogonal shift (d²=2); group b: identical clouds
    // (d²=0); group c: ref-side only → must DROP, not read as zero drift
    val df = ((0L until 20L).map { i =>
      (i, if (i % 2 == 0) "ref" else "cur", "a",
        if (i % 2 == 0) Array(1.0f, 0.0f) else Array(0.0f, 1.0f))
    } ++ (20L until 40L).map { i =>
      (i, if (i % 2 == 0) "ref" else "cur", "b",
        Array(((i / 2) % 5).toFloat, 1.0f))
    } ++ (40L until 44L).map { i =>
      (i, "ref", "c", Array(3.0f, 4.0f))
    }).toDF("vec_id", "split", "g", "embedding")
    val got = EmbeddingDrift.frechetDriftBy(
      df, col("embedding"), col("split"), "ref", "cur", dim = 2, byCol = "g").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("a", "b")) // c dropped
    // each group's row is bit-identical to the global gate on that slice
    for (row <- got) {
      val g = row.getString(0)
      val single = EmbeddingDrift.frechetDrift(
        df.filter($"g" === g), col("embedding"), col("split"),
        "ref", "cur", dim = 2).head()
      assert(row.getAs[Long]("n_ref") == single.getAs[Long]("n_ref"), s"n_ref in $g")
      assert(row.getAs[Long]("n_cur") == single.getAs[Long]("n_cur"), s"n_cur in $g")
      assert(row.getAs[Double]("frechet2") == single.getAs[Double]("frechet2"),
        s"frechet2 in $g")
    }
    assert(got.find(_.getString(0) == "a").get.getAs[Double]("frechet2") == 2.0)
    assert(got.find(_.getString(0) == "b").get.getAs[Double]("frechet2") == 0.0)
    // all groups one-sided → empty result (matches the global absence rule)
    assert(EmbeddingDrift.frechetDriftBy(
      df.filter($"split" === "ref"), col("embedding"), col("split"),
      "ref", "cur", dim = 2, byCol = "g").count() == 0L)
  }

  test("rollingAnomalyBy equals the global gate per segment; bands are independent") {
    import graft.operators.TimeSeries
    // Segment A carries the planted spike; segment B is flat. A shared
    // band would smear A's spike into B — per-segment partitioning must
    // reproduce the GLOBAL operator run on each segment alone, exactly
    // (same integer-cents algebra ⇒ equality, not ≈).
    val rows = (0 until 40).flatMap { i =>
      val ts = java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).atStartOfDay)
      val va = if (i == 34) 1000.0 else if (i % 2 == 0) 100.0 else 102.0
      Seq(("A", ts, va), ("B", ts, 55.5))
    }
    val df = rows.toDF("seg", "ts", "v")
    val got = TimeSeries.rollingAnomalyBy(
        df, col("seg"), col("ts"), col("v"), window = 10, z = 3.0)
      .collect()
    assert(got.length == 60) // 30 full-window days per segment
    for (seg <- Seq("A", "B")) {
      val mine = got.filter(_.getAs[String]("segment") == seg)
        .map(r => (r.getAs[java.sql.Timestamp]("day"), r.getAs[Double]("revenue"),
          r.getAs[Double]("roll_mean"), r.getAs[Double]("roll_std"),
          r.getAs[Boolean]("is_anomaly"))).toSeq
      val global = TimeSeries.rollingAnomaly(
          df.filter($"seg" === seg), col("ts"), col("v"), window = 10, z = 3.0)
        .collect()
        .map(r => (r.getAs[java.sql.Timestamp]("day"), r.getAs[Double]("revenue"),
          r.getAs[Double]("roll_mean"), r.getAs[Double]("roll_std"),
          r.getAs[Boolean]("is_anomaly"))).toSeq
      assert(mine == global, s"segment $seg diverges from its global twin")
    }
    // only A's spike day flags; B (zero variance, zero deviation) never does
    val flagged = got.filter(_.getAs[Boolean]("is_anomaly"))
      .map(r => (r.getAs[String]("segment"),
        r.getAs[java.sql.Timestamp]("day").toLocalDateTime.getDayOfMonth))
    assert(flagged.toSeq == Seq(("A", 4)))
  }

  test("Pareto.skyline2D: dominance, equal-x/equal-point ties, null exclusion, staircase") {
    import graft.operators.Pareto
    // (5,1) and (1,5) are frontier corners; (3,3) survives between them;
    // (2,2) is dominated by (3,3); (3,1) dominated at equal x by (3,3);
    // duplicate (5,1) rows keep multiplicity; nulls are dropped.
    val df = Seq(
      (Some(5.0), Some(1.0)), (Some(5.0), Some(1.0)), (Some(1.0), Some(5.0)),
      (Some(3.0), Some(3.0)), (Some(2.0), Some(2.0)), (Some(3.0), Some(1.0)),
      (None, Some(9.0)), (Some(9.0), None)).toDF("x", "y")
    val got = Pareto.skyline2D(df, $"x", $"y").collect()
      .map(r => (r.getAs[Double]("x"), r.getAs[Double]("y"), r.getAs[Long]("n")))
    assert(got.toSeq == Seq((1.0, 5.0, 1L), (3.0, 3.0, 1L), (5.0, 1.0, 2L)))
    // staircase invariant: y strictly decreasing as x increases
    assert(got.map(_._2).sliding(2).forall { case Array(a, b) => a > b; case _ => true })
    // a globally dominant point collapses the frontier to itself
    val dom = df.union(Seq((Some(10.0), Some(10.0))).toDF("x", "y"))
    val top = Pareto.skyline2D(dom, $"x", $"y").collect()
    assert(top.length == 1 && top.head.getAs[Double]("x") == 10.0)
  }

  test("Pca.topComponent: recovers a planted dominant axis, unit norm, positive-sum sign") {
    import graft.operators.Pca
    // 40 vectors in R^4: huge variance along axis 1, tiny elsewhere —
    // the top component must concentrate on dimension 1 with the
    // sign-fixed (component-sum ≥ 0) orientation.
    val data = (0 until 40).map { k =>
      val main = if (k % 2 == 0) 10f + k else -10f - k
      Tuple1(Seq(0.01f * k, main, 0.02f * (k % 3), 0.01f))
    }
    val df = data.toDF("embedding")
    val rows = Pca.topComponent(df, $"embedding", 4, rounds = 30).collect()
    assert(rows.length == 4)
    val load = rows.sortBy(_.getAs[Int]("i")).map(_.getAs[Double]("loading"))
    assert(math.abs(load(1)) > 0.999, s"dominant axis not recovered: ${load.toSeq}")
    // unit norm (6dp rounding slack)
    val norm = math.sqrt(load.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-4)
    // sign rule: component sum non-negative
    assert(load.sum >= 0.0)
    // dominant axis explains essentially all variance
    val ratio = rows.head.getAs[Double]("var_ratio")
    assert(ratio > 0.999 && ratio <= 1.0 + 1e-9)
    // rows with wrong length or null elements are excluded, not poisoned
    val dirty = df.union(Seq(Tuple1(Seq(1f, 2f))).toDF("embedding"))
    val clean = Pca.topComponent(dirty, $"embedding", 4, rounds = 30).collect()
    assert(clean.sortBy(_.getAs[Int]("i")).map(_.getAs[Double]("loading")).toSeq == load.toSeq)
  }

  test("Pca.topComponentBy: per-group planted axes recovered; each group equals its global twin") {
    import graft.operators.Pca
    // group A dominates along axis 1, group B along axis 3 — the grouped
    // solve must find each group's OWN direction, and each group's rows
    // must be bit-identical to topComponent run on that group alone.
    val data = (0 until 40).flatMap { k =>
      val m = if (k % 2 == 0) 10f + k else -10f - k
      Seq(("A", Seq(0.01f * k, m, 0.02f * (k % 3), 0.01f)),
        ("B", Seq(0.02f * (k % 5), 0.01f, 0.01f * k, m)))
    }
    val df = data.toDF("g", "embedding")
    val got = Pca.topComponentBy(df, $"embedding", "g", 4, rounds = 30).collect()
    assert(got.length == 8)
    for (g <- Seq("A", "B")) {
      val mine = got.filter(_.getString(0) == g).sortBy(_.getAs[Int]("i"))
        .map(r => (r.getAs[Double]("loading"), r.getAs[Double]("var_ratio"))).toSeq
      val twin = Pca.topComponent(df.filter($"g" === g), $"embedding", 4, rounds = 30)
        .collect().sortBy(_.getAs[Int]("i"))
        .map(r => (r.getAs[Double]("loading"), r.getAs[Double]("var_ratio"))).toSeq
      assert(mine == twin, s"group $g diverges from its global twin")
      val axis = if (g == "A") 1 else 3
      assert(math.abs(mine(axis)._1) > 0.999, s"group $g axis not recovered: $mine")
    }
  }

  test("spearmanRho: monotone ±1, tie handling matches the closed form, independence near 0") {
    import graft.operators.Robust
    // strictly increasing relation (nonlinear) → ρ = 1; reversed → −1
    val mono = Seq.tabulate(50)(i => (i.toDouble, (i * i).toDouble)).toDF("x", "y")
    assert(Robust.spearmanRho(mono, $"x", $"y").head().getAs[Double]("rho") == 1.0)
    val anti = Seq.tabulate(50)(i => (i.toDouble, -(i * i).toDouble)).toDF("x", "y")
    assert(Robust.spearmanRho(anti, $"x", $"y").head().getAs[Double]("rho") == -1.0)
    // hand-checked tie case (average ranks: x → [1, 2.5, 2.5, 4],
    // y → [1,2,3,4]; Pearson on ranks = 0.9486832980…)
    val ties = Seq((1.0, 10.0), (2.0, 20.0), (2.0, 30.0), (3.0, 40.0)).toDF("x", "y")
    assert(Robust.spearmanRho(ties, $"x", $"y").head().getAs[Double]("rho") == 0.948683)
    // null rows on either side are excluded, not ranked
    val withNulls = Seq((Some(1.0), Some(1.0)), (Some(2.0), Some(2.0)),
      (None, Some(9.0)), (Some(9.0), None), (Some(3.0), Some(3.0))).toDF("x", "y")
    val r = Robust.spearmanRho(withNulls, $"x", $"y").head()
    assert(r.getAs[Long]("n") == 3L && r.getAs[Double]("rho") == 1.0)
    // x independent of a constant-then-alternating y: |rho| well below 1
    val weak = Seq.tabulate(40)(i => (i.toDouble, (i % 2).toDouble)).toDF("x", "y")
    assert(math.abs(Robust.spearmanRho(weak, $"x", $"y").head().getAs[Double]("rho")) < 0.2)
  }

  test("luhnValid: known card fixtures and checksum flip") {
    import graft.clean.Cleaning
    val df = Seq("4111111111111111", "4111111111111112", "79927398713", "79927398710")
      .toDF("acct")
    val got = df.select($"acct", Cleaning.luhnValid($"acct").as("ok")).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got("4111111111111111") && !got("4111111111111112"))
    assert(got("79927398713") && !got("79927398710"))
    // static-unroll fixed-length path agrees with the generic fold and
    // rejects other lengths
    val fixed = df.select($"acct",
      Cleaning.luhnValidFixed($"acct", 16).as("ok16"),
      Cleaning.luhnValid($"acct").as("okGen")).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2)))
    fixed.foreach { case (acct, ok16, okGen) =>
      if (acct.length == 16) assert(ok16 == okGen, acct) else assert(!ok16, acct)
    }
  }

  test("welchT: symmetric arms give t = 0; known two-sample value") {
    import graft.operators.Robust
    val sym = Seq((0, 10.0), (0, 20.0), (1, 10.0), (1, 20.0)).toDF("arm", "v")
    val r0 = Robust.welchT(sym, col("arm"), col("v")).head()
    assert(r0.getAs[Double]("t_stat") == 0.0)
    // arms {1,2,3} vs {2,4,6}: means 2 and 4, s² = 1 and 4
    // t = -2 / sqrt(1/3 + 4/3) = -2/sqrt(5/3); df = (5/3)²/((1/9)/2+(16/9)/2)
    val known = Seq((0, 1.0), (0, 2.0), (0, 3.0), (1, 2.0), (1, 4.0), (1, 6.0))
      .toDF("arm", "v")
    val r1 = Robust.welchT(known, col("arm"), col("v")).head()
    val t = -2.0 / math.sqrt(5.0 / 3.0)
    assert(math.abs(r1.getAs[Double]("t_stat") - t) < 1e-6)
    assert(r1.getAs[Long]("n_a") == 3L && r1.getAs[Long]("n_b") == 3L)
    val df = math.pow(5.0 / 3.0, 2) / ((1.0 / 9.0) / 2.0 + (16.0 / 9.0) / 2.0)
    assert(math.abs(r1.getAs[Double]("welch_df") - df) < 1e-5)
  }

  test("BPE training: hand-checked merges, early exhaustion, no cross-symbol matches") {
    import graft.operators.BpeTrain
    // freqs: abc:2, ab:1, c:1 → round 1 pairs (a,b):3 (b,c):2 → merge (a,b)
    // round 2: abc is now [ab, c] → (ab,c):2 is the ONLY pair — a naive
    // unwrapped string replace would still see "b c" inside "ab c" and
    // corrupt the counts; the sentinel wrapping forbids it
    val docs = Seq((1L, "abc abc ab c")).toDF("doc_id", "text")
    val m = BpeTrain.trainMerges(docs, rounds = 8).collect()
    assert(m.length == 2, m.mkString("; ")) // exhausted after 2 merges
    assert((m(0).getInt(0), m(0).getString(1), m(0).getString(2),
      m(0).getString(3), m(0).getLong(4)) == ((1, "a", "b", "ab", 3L)))
    assert((m(1).getInt(0), m(1).getString(1), m(1).getString(2),
      m(1).getString(3), m(1).getLong(4)) == ((2, "ab", "c", "abc", 2L)))
    // ties break by (lhs, rhs) ascending: "ba ab" has (b,a):1 and (a,b):1
    val tie = Seq((1L, "ba ab")).toDF("doc_id", "text")
    val t = BpeTrain.trainMerges(tie, rounds = 1).head()
    assert(t.getString(1) == "a" && t.getString(2) == "b")
    // apply: both learned merges compress every word of the fixture to one
    // subword → fertility exactly 1.0
    val applied = BpeTrain.applyMerges(docs,
      Seq(("a", "b", "ab"), ("ab", "c", "abc"))).head()
    assert(applied.getLong(1) == 4L && applied.getLong(2) == 4L &&
      applied.getDouble(3) == 1.0, applied.toString)
  }

  test("curriculum interleave: total order, easy-first per source, mixture in every window") {
    import graft.operators.TrainingOrder
    val docs = (0 until 90).map(i =>
      (i.toLong, s"s${i % 3}", "x" * (10 + (i * 37) % 200))).toDF("doc_id", "source", "text")
    val out = TrainingOrder.curriculumInterleave(docs, "source", length(col("text")), "doc_id")
      .orderBy(col("position")).collect()
    assert(out.length == 90)
    // positions are unique (a total order) and, with equal-size sources, dense
    assert(out.map(_.getLong(2)).toSet.size == 90)
    assert(out.map(_.getLong(2)).min == 0L && out.map(_.getLong(2)).max == 89L)
    // every consecutive window of 3 sees all 3 sources (round-robin)
    out.grouped(3).foreach(w => assert(w.map(_.getString(1)).toSet.size == 3))
    // easy-first within each source: lengths non-decreasing along positions
    out.groupBy(_.getString(1)).values.foreach { rows =>
      val lens = rows.sortBy(_.getLong(2)).map(r => docs.filter(col("doc_id") === r.getLong(0))
        .head.getString(2).length)
      assert(lens.zip(lens.tail).forall { case (a, b) => a <= b })
    }
  }

  test("shard shuffle: deterministic placement, dense per-shard positions, all shards used") {
    import graft.operators.TrainingOrder
    val docs = spark.range(2000).select(col("id").as("doc_id"))
    val out = TrainingOrder.shardShuffle(docs, "doc_id", nShards = 16).collect()
    assert(out.length == 2000)
    val byShard = out.groupBy(_.getLong(1))
    assert(byShard.keySet == (0L until 16L).toSet)
    // per-shard positions are dense 1..n (a reproducible offset within the shard file)
    byShard.values.foreach { rows =>
      assert(rows.map(_.getLong(2)).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // placement is a pure function of the id: a second run agrees row-for-row
    val again = TrainingOrder.shardShuffle(docs, "doc_id", nShards = 16).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("dowBandAnomaly: seasonal spike vs its own weekday, leave-one-out, <3-obs drop") {
    import graft.operators.TimeSeries
    def day(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).atStartOfDay)
    // 42 days (6 full weeks): Sundays 50, other days 100, one Sunday
    // (day 34 = 2024-02-04) spiked to 500. A trailing band would flag
    // every quiet Sunday; the weekday band must flag ONLY the spike.
    val rows = (0 until 42).map { i =>
      val dow = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).getDayOfWeek
      val v = if (i == 34) 500.0
              else if (dow == java.time.DayOfWeek.SUNDAY) 50.0 else 100.0
      (day(i), v)
    }
    val got = TimeSeries.dowBandAnomaly(rows.toDF("ts", "v"), col("ts"), col("v"))
      .collect()
    assert(got.length == 42) // every weekday has 6 obs, nothing drops
    val flagged = got.filter(_.getAs[Boolean]("is_anomaly"))
    assert(flagged.map(_.getAs[Double]("revenue")).toSeq == Seq(500.0),
      s"flagged: ${flagged.mkString(",")}")
    // leave-one-out: the spike's own baseline is the OTHER five Sundays —
    // exactly 50 with zero spread (the spike must not mask itself)
    val spike = flagged(0)
    assert(spike.getAs[Double]("dow_mean") == 50.0)
    assert(spike.getAs[Double]("dow_std") == 0.0)
    // ...while a normal Sunday's baseline absorbs the spike (mean 140,
    // wide band) and therefore does NOT flag: |50 − 140| < 3σ
    val quiet = got.find(r => r.getAs[Double]("revenue") == 50.0).get
    assert(quiet.getAs[Double]("dow_mean") == 140.0)
    assert(!quiet.getAs[Boolean]("is_anomaly"))
    // multiple rows on one day pre-aggregate: splitting day 0 into
    // 60 + 40 changes nothing
    val split = rows.flatMap { case (ts, v) =>
      if (ts == day(0)) Seq((ts, 60.0), (ts, 40.0)) else Seq((ts, v)) }
    val got2 = TimeSeries.dowBandAnomaly(split.toDF("ts", "v"), col("ts"), col("v"))
      .collect().map(r => (r.getAs[java.sql.Timestamp]("day"),
        r.getAs[Double]("revenue"), r.getAs[Boolean]("is_anomaly"))).toSeq
    assert(got2 == got.map(r => (r.getAs[java.sql.Timestamp]("day"),
      r.getAs[Double]("revenue"), r.getAs[Boolean]("is_anomaly"))).toSeq)
    // 15-day series: exactly one weekday reaches 3 observations (day 0's);
    // the other six weekdays have 2 and all their days drop loudly
    val short = (0 until 15).map(i => (day(i), 100.0 + i))
    val kept = TimeSeries.dowBandAnomaly(short.toDF("ts", "v"), col("ts"), col("v"))
      .collect()
    assert(kept.length == 3)
    assert(kept.map(_.getAs[java.sql.Timestamp]("day")).toSeq ==
      Seq(day(0), day(7), day(14)))
  }

  test("dowBandAnomalyBy equals the global gate per segment; profiles are independent") {
    import graft.operators.TimeSeries
    def day(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).atStartOfDay)
    // Segment A: quiet Sundays + one spiked Sunday; segment B: flat.
    // A shared weekday profile would smear A's Sunday dip into B.
    val rows = (0 until 42).flatMap { i =>
      val dow = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).getDayOfWeek
      val va = if (i == 34) 500.0
               else if (dow == java.time.DayOfWeek.SUNDAY) 50.0 else 100.0
      Seq(("A", day(i), va), ("B", day(i), 77.0))
    }
    val df = rows.toDF("seg", "ts", "v")
    val got = TimeSeries.dowBandAnomalyBy(
      df, col("seg"), col("ts"), col("v")).collect()
    assert(got.length == 84)
    for (seg <- Seq("A", "B")) {
      val mine = got.filter(_.getAs[String]("segment") == seg)
        .map(r => (r.getAs[java.sql.Timestamp]("day"), r.getAs[Long]("dow07"),
          r.getAs[Double]("revenue"), r.getAs[Double]("dow_mean"),
          r.getAs[Double]("dow_std"), r.getAs[Boolean]("is_anomaly"))).toSeq
      val global = TimeSeries.dowBandAnomaly(
          df.filter($"seg" === seg), col("ts"), col("v")).collect()
        .map(r => (r.getAs[java.sql.Timestamp]("day"), r.getAs[Long]("dow07"),
          r.getAs[Double]("revenue"), r.getAs[Double]("dow_mean"),
          r.getAs[Double]("dow_std"), r.getAs[Boolean]("is_anomaly"))).toSeq
      assert(mine == global, s"segment $seg diverges from its global twin")
    }
    // only A's planted spike flags anywhere
    val flagged = got.filter(_.getAs[Boolean]("is_anomaly"))
      .map(r => (r.getAs[String]("segment"), r.getAs[Double]("revenue"))).toSeq
    assert(flagged == Seq(("A", 500.0)))
  }

  test("mannKendallTrendBy equals the global test per segment; opposite trends resolved") {
    import graft.operators.TimeSeries
    def day(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).atStartOfDay)
    // A rises +2/day, B falls -3/day (they cancel in a global series),
    // C is constant (tie-corrected variance zero -> NULL z), D has a
    // single day (no pairs -> segment drops entirely).
    val rows = (0 until 20).flatMap { i =>
      Seq(("A", day(i), 100.0 + 2 * i), ("B", day(i), 900.0 - 3 * i),
        ("C", day(i), 5.0))
    } :+ (("D", day(0), 1.0))
    val df = rows.toDF("seg", "ts", "v")
    val got = TimeSeries.mannKendallTrendBy(
      df, col("seg"), col("ts"), col("v")).collect()
    assert(got.map(_.getAs[String]("segment")).toSeq == Seq("A", "B", "C"))
    for (row <- got) {
      val seg = row.getAs[String]("segment")
      val single = TimeSeries.mannKendallTrend(
        df.filter($"seg" === seg), col("ts"), col("v")).collect()(0)
      assert(row.getAs[Long]("n_days") == single.getAs[Long]("n_days"), seg)
      assert(row.getAs[Long]("s_stat") == single.getAs[Long]("s_stat"), seg)
      assert(Option(row.getAs[java.lang.Double]("z_stat")) ==
        Option(single.getAs[java.lang.Double]("z_stat")), seg)
      assert(row.getAs[Double]("sen_slope") == single.getAs[Double]("sen_slope"), seg)
    }
    val bySeg = got.map(r => r.getAs[String]("segment") -> r).toMap
    assert(bySeg("A").getAs[Long]("s_stat") == 190 &&
      bySeg("A").getAs[Double]("sen_slope") == 2.0)
    assert(bySeg("B").getAs[Long]("s_stat") == -190 &&
      bySeg("B").getAs[Double]("sen_slope") == -3.0)
    assert(bySeg("C").getAs[Long]("s_stat") == 0 &&
      bySeg("C").isNullAt(bySeg("C").fieldIndex("z_stat")))
  }

  test("mannKendallSeasonalBy equals the global seasonal test per segment") {
    import graft.operators.TimeSeries
    def day(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).atStartOfDay)
    // A: pure weekly cycle + drift (the seasonal test must see the
    // drift), B: pure weekly cycle only (must be silent, S = 0),
    // C: single day (no same-weekday pairs -> drops).
    val cycle = Array(10.0, 50.0, 20.0, 80.0, 30.0, 90.0, 40.0)
    val rows = (0 until 28).flatMap { i =>
      Seq(("A", day(i), cycle(i % 7) + 3.0 * i), ("B", day(i), cycle(i % 7)))
    } :+ (("C", day(0), 1.0))
    val df = rows.toDF("seg", "ts", "v")
    val got = TimeSeries.mannKendallSeasonalBy(
      df, col("seg"), col("ts"), col("v")).collect()
    assert(got.map(_.getAs[String]("segment")).toSeq == Seq("A", "B"))
    for (row <- got) {
      val seg = row.getAs[String]("segment")
      val single = TimeSeries.mannKendallSeasonal(
        df.filter($"seg" === seg), col("ts"), col("v")).collect()(0)
      assert(row.getAs[Long]("n_days") == single.getAs[Long]("n_days"), seg)
      assert(row.getAs[Long]("s_stat") == single.getAs[Long]("s_stat"), seg)
      assert(Option(row.getAs[java.lang.Double]("z_stat")) ==
        Option(single.getAs[java.lang.Double]("z_stat")), seg)
      assert(row.getAs[Double]("sen_slope") == single.getAs[Double]("sen_slope"), seg)
    }
    val bySeg = got.map(r => r.getAs[String]("segment") -> r).toMap
    // A: every within-season pair rises (4 obs per weekday -> 6 pairs x 7)
    assert(bySeg("A").getAs[Long]("s_stat") == 42)
    assert(bySeg("A").getAs[Double]("sen_slope") == 3.0)
    // B: constant within every season -> S = 0 and all-tied variance -> NULL z
    assert(bySeg("B").getAs[Long]("s_stat") == 0 &&
      bySeg("B").isNullAt(bySeg("B").fieldIndex("z_stat")))
  }

  test("forecastSkill: mase(lag_7) is exactly 1; cycle+trend favors the seasonal baseline") {
    import graft.operators.TimeSeries
    def day(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).atStartOfDay)
    // weekly cycle + 1/day trend: lag-7 errs exactly 7 every day; lag-1
    // errs |cycle step + 1| — far worse. 28 days -> 21 matched days.
    val cycle = Array(10.0, 50.0, 20.0, 80.0, 30.0, 90.0, 40.0)
    val df = (0 until 28).map(i => (day(i), cycle(i % 7) + i)).toDF("ts", "v")
    val got = TimeSeries.forecastSkill(df, col("ts"), col("v"))
      .collect().map(r => r.getAs[String]("model") -> r).toMap
    assert(got.keySet == Set("lag_1", "lag_7"))
    assert(got("lag_7").getAs[Long]("n_days") == 21)
    assert(got("lag_1").getAs[Long]("n_days") == 21)
    // the built-in self-check: the baseline scored against itself
    assert(got("lag_7").getAs[Double]("mase") == 1.0)
    assert(got("lag_7").getAs[Double]("skill") == 0.0)
    assert(got("lag_7").getAs[Double]("mae") ==
      got("lag_7").getAs[Double]("baseline_mae"))
    // hand-computed: lag-7 |err| = 7.0/day; lag-1 |err| = |Δcycle + 1|
    assert(got("lag_7").getAs[Double]("mae") == 7.0)
    val lag1Errs = (7 until 28).map { i =>
      math.abs(cycle(i % 7) - cycle((i - 1) % 7) + 1.0)
    }
    val expMae1 = BigDecimal(lag1Errs.sum / 21.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("lag_1").getAs[Double]("mae") == expMae1)
    assert(got("lag_1").getAs[Double]("mase") > 1.0) // seasonal baseline wins
    assert(got("lag_1").getAs[Double]("skill") < 0.0)
    // degenerate baseline: a PURE cycle makes sbe = 0 -> NULL mase/skill
    val pure = (0 until 28).map(i => (day(i), cycle(i % 7))).toDF("ts", "v")
    val g2 = TimeSeries.forecastSkill(pure, col("ts"), col("v"))
      .collect().map(r => r.getAs[String]("model") -> r).toMap
    assert(g2("lag_7").isNullAt(g2("lag_7").fieldIndex("mase")))
    assert(g2("lag_1").isNullAt(g2("lag_1").fieldIndex("skill")))
  }

  test("cusumSeasonalAdjusted: step under weekly seasonality; pure seasonality is silent") {
    import graft.operators.TimeSeries
    def day(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).atStartOfDay)
    // 8 weeks: Sundays 40, other days 100; +50 level step from day 28.
    // Each weekday's median over the full series is its PRE-step base
    // (4 of 8 obs at base, rank-4 pick), so residuals are exactly 0
    // before / 50 after: |S| peaks at day 27 with D-scaled max
    // 28*700*... = |28/56 * 1400| = 700.
    val rows = (0 until 56).map { i =>
      val dow = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).getDayOfWeek
      val base = if (dow == java.time.DayOfWeek.SUNDAY) 40.0 else 100.0
      (day(i), base + (if (i >= 28) 50.0 else 0.0))
    }
    val got = TimeSeries.cusumSeasonalAdjusted(
      rows.toDF("ts", "v"), col("ts"), col("v")).collect()(0)
    assert(got.getAs[Long]("n_days") == 56)
    assert(got.getAs[java.sql.Timestamp]("cp_day") == day(27))
    assert(got.getAs[Double]("cusum_max") == 700.0)
    assert(got.getAs[Double]("mean_resid_before") == 0.0)
    assert(got.getAs[Double]("mean_resid_after") == 50.0)
    // pure seasonality, no step: residuals identically zero -> silent
    // (cusum_max 0, earliest-day tie pick)
    val flat = (0 until 56).map { i =>
      val dow = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).getDayOfWeek
      (day(i), if (dow == java.time.DayOfWeek.SUNDAY) 40.0 else 100.0)
    }
    val quiet = TimeSeries.cusumSeasonalAdjusted(
      flat.toDF("ts", "v"), col("ts"), col("v")).collect()(0)
    assert(quiet.getAs[Double]("cusum_max") == 0.0)
    assert(quiet.getAs[java.sql.Timestamp]("cp_day") == day(0))
    // ...where the RAW gate on the same flat-but-seasonal series reports
    // a nonzero cusum_max (the weekly zig-zag IS its signal) — the
    // artifact this operator exists to remove
    val raw = TimeSeries.cusumChangepoint(
      flat.toDF("ts", "v"), col("ts"), col("v")).collect()(0)
    assert(raw.getAs[Double]("cusum_max") > 0.0)
  }

  test("forecastBacktest: seasonal-naive wins on a weekly-cyclic series, exact panel") {
    import graft.operators.TimeSeries
    def day(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).atStartOfDay)
    // 3 exact weekly repeats of [10..70]: lag-7 is a perfect forecast on
    // its 14 scorable days; lag-1 scores 20 days with 18 errors of +10
    // and 2 week-boundary errors of -60 — hand-computable panel.
    val pattern = Seq(10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0)
    val rows = (0 until 21).map(i => (day(i), pattern(i % 7)))
    val got = TimeSeries.forecastBacktest(
        rows.toDF("ts", "v"), col("ts"), col("v")).collect()
      .map(r => r.getAs[String]("model") -> r).toMap
    val l7 = got("lag_7")
    assert(l7.getAs[Long]("n_days") == 14)
    for (c <- Seq("mae", "rmse", "wape", "bias"))
      assert(l7.getAs[Double](c) == 0.0, c)
    val l1 = got("lag_1")
    assert(l1.getAs[Long]("n_days") == 20)
    assert(l1.getAs[Double]("mae") == 15.0)           // (18·10 + 2·60)/20
    assert(l1.getAs[Double]("bias") == 3.0)           // (180 − 120)/20
    assert(l1.getAs[Double]("rmse") == 21.213203)     // √((18·10² + 2·60²)/20)
    assert(l1.getAs[Double]("wape") == 0.361446)      // 300 / (840 − 10)
    // calendar gap: drop day 8 — lag-1 loses days 8 AND 9, lag-7 loses
    // days 8 and 15 (no imputation, both sides of the hole)
    val gapped = rows.filterNot(_._1 == day(8))
    val g = TimeSeries.forecastBacktest(
        gapped.toDF("ts", "v"), col("ts"), col("v")).collect()
      .map(r => r.getAs[String]("model") -> r.getAs[Long]("n_days")).toMap
    assert(g("lag_1") == 18 && g("lag_7") == 12)
  }

  test("cusumSeasonalAdjustedBy and forecastBacktestBy equal their global twins per segment") {
    import graft.operators.TimeSeries
    def day(i: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).atStartOfDay)
    // A: seasonal series with a +50 step at day 28; B: weekly-cyclic
    // pattern, no step. Shared profiles/joins would cross-contaminate.
    val rows = (0 until 56).flatMap { i =>
      val dow = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).getDayOfWeek
      val baseA = if (dow == java.time.DayOfWeek.SUNDAY) 40.0 else 100.0
      Seq(("A", day(i), baseA + (if (i >= 28) 50.0 else 0.0)),
        ("B", day(i), 10.0 + 10.0 * (i % 7)))
    }
    val df = rows.toDF("seg", "ts", "v")
    val cs = TimeSeries.cusumSeasonalAdjustedBy(
      df, col("seg"), col("ts"), col("v")).collect()
    assert(cs.map(_.getAs[String]("segment")).toSeq == Seq("A", "B"))
    for (row <- cs) {
      val seg = row.getAs[String]("segment")
      val single = TimeSeries.cusumSeasonalAdjusted(
        df.filter($"seg" === seg), col("ts"), col("v")).collect()(0)
      assert(row.getAs[java.sql.Timestamp]("cp_day") ==
        single.getAs[java.sql.Timestamp]("cp_day"), seg)
      for (c <- Seq("cusum_max", "mean_resid_before"))
        assert(row.getAs[Double](c) == single.getAs[Double](c), s"$c in $seg")
    }
    assert(cs(0).getAs[java.sql.Timestamp]("cp_day") == day(27) &&
      cs(0).getAs[Double]("cusum_max") == 700.0)
    assert(cs(1).getAs[Double]("cusum_max") == 0.0) // B's cycle nets out
    val fb = TimeSeries.forecastBacktestBy(
      df, col("seg"), col("ts"), col("v")).collect()
    assert(fb.length == 4)
    for (row <- fb) {
      val (seg, model) = (row.getAs[String]("segment"), row.getAs[String]("model"))
      val single = TimeSeries.forecastBacktest(
          df.filter($"seg" === seg), col("ts"), col("v")).collect()
        .find(_.getAs[String]("model") == model).get
      assert(row.getAs[Long]("n_days") == single.getAs[Long]("n_days"), s"$seg/$model")
      for (c <- Seq("mae", "rmse", "wape", "bias"))
        assert(row.getAs[Double](c) == single.getAs[Double](c), s"$c in $seg/$model")
    }
    // B repeats exactly weekly: its lag-7 panel is all zeros
    val b7 = fb.find(r => r.getAs[String]("segment") == "B" &&
      r.getAs[String]("model") == "lag_7").get
    assert(b7.getAs[Double]("mae") == 0.0 && b7.getAs[Double]("rmse") == 0.0)
  }

  test("isotonicCalibration: chain merge to the pooled rate; monotone input unchanged; empty") {
    import graft.operators.Robust
    def df(rows: Seq[(Double, Boolean)]) = rows.toDF("score", "label")
    // bins 0/5/9 with rates 1.0 / 0.5 / 0.0 — PAVA must chain-merge all
    // three pools: (4+2)/(4+4) = 0.75 still out-rates 0.0, so the final
    // pool is (4+2+0)/12 = 0.5 across every bin
    val anti = df(
      Seq.fill(4)((0.05, true)) ++
        Seq(((0.55, true)), ((0.55, true)), ((0.55, false)), ((0.55, false))) ++
        Seq.fill(4)((0.95, false)))
    val got = Robust.isotonicCalibration(anti, col("score"), col("label")).collect()
    assert(got.map(r => (r.getAs[Int]("bin"), r.getAs[Long]("n"),
      r.getAs[Double]("frac_pos"), r.getAs[Double]("frac_iso"))).toSeq ==
      Seq((0, 4L, 1.0, 0.5), (5, 4L, 0.5, 0.5), (9, 4L, 0.0, 0.5)))
    assert(got.head.getAs[Double]("avg_pred") == 0.05)
    // already-monotone bins are a PAVA no-op: frac_iso == frac_pos
    val mono = df(Seq((0.05, false), (0.05, false), (0.05, false), (0.05, true),
      (0.95, true), (0.95, true), (0.95, true), (0.95, false)))
    assert(Robust.isotonicCalibration(mono, col("score"), col("label")).collect()
      .forall(r => r.getAs[Double]("frac_iso") == r.getAs[Double]("frac_pos")))
    // strict-violation-only pooling: equal adjacent rates stay separate
    // but fit the same value either way (correctly-rounded division)
    assert(Robust.isotonicCalibration(df(Seq.empty), col("score"), col("label"))
      .count() == 0L)
  }

  test("fleissKappa: perfect = 1, uniform-combination panel = 0, unanimous-degenerate NULL") {
    import graft.operators.Robust
    def df(rows: Seq[(Boolean, Boolean, Boolean)]) = rows.toDF("a", "b", "c")
    val rat = Seq(col("a"), col("b"), col("c"))
    // perfect mixed agreement: P̄ = 1, Pe = 0.5, κ = 1
    val perfect = Robust.fleissKappa(df(Seq(
      (true, true, true), (true, true, true),
      (false, false, false), (false, false, false))), rat).head()
    assert(perfect.getAs[Long]("n") == 4L &&
      perfect.getAs[Double]("p_bar") == 1.0 &&
      perfect.getAs[Double]("p_e") == 0.5 &&
      perfect.getAs[Double]("kappa") == 1.0)
    // all 8 vote combinations once: agreement exactly at chance → κ = 0
    val combos = for (a <- Seq(true, false); b <- Seq(true, false);
      c <- Seq(true, false)) yield (a, b, c)
    val chance = Robust.fleissKappa(df(combos), rat).head()
    assert(chance.getAs[Double]("p_bar") == 0.5 &&
      chance.getAs[Double]("p_e") == 0.5 &&
      chance.getAs[Double]("kappa") == 0.0)
    // unanimous single category: Pe = 1 → NULL κ (the cohenKappa contract)
    val degen = Robust.fleissKappa(
      df(Seq((true, true, true), (true, true, true))), rat).head()
    assert(degen.getAs[Double]("p_bar") == 1.0 && degen.isNullAt(degen.fieldIndex("kappa")))
  }

  test("fleissKappaBy / isotonicCalibrationBy: per-segment rows equal the global gate per slice") {
    import graft.operators.Robust
    val rnd = new scala.util.Random(7)
    val rows = (0 until 120).map { i =>
      val g = if (i % 3 == 0) "web" else "book"
      val s = math.rint(rnd.nextDouble() * 1e6) / 1e6
      (g, s, rnd.nextBoolean(), rnd.nextBoolean(), rnd.nextBoolean())
    }
    val df = rows.toDF("src", "score", "a", "b", "c")
    val rat = Seq(col("a"), col("b"), col("c"))
    val grouped = Robust.fleissKappaBy(df, rat, "src").collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("book", "web"))
    for (row <- grouped) {
      val single = Robust.fleissKappa(
        df.filter($"src" === row.getString(0)), rat).head()
      for (c <- Seq("p_bar", "p_e", "kappa"))
        assert(row.getAs[Double](c) == single.getAs[Double](c), s"$c in ${row.getString(0)}")
      assert(row.getAs[Long]("n") == single.getAs[Long]("n"))
    }
    val gIso = Robust.isotonicCalibrationBy(
      df, col("score"), col("a"), "src").collect()
    for (g <- Seq("book", "web")) {
      val slice = Robust.isotonicCalibration(
        df.filter($"src" === g), col("score"), col("a")).collect()
      val mine = gIso.filter(_.getString(0) == g)
      assert(mine.length == slice.length, g)
      for ((m, s) <- mine.zip(slice)) {
        assert(m.getAs[Int]("bin") == s.getAs[Int]("bin"))
        for (c <- Seq("avg_pred", "frac_pos", "frac_iso"))
          assert(m.getAs[Double](c) == s.getAs[Double](c), s"$c bin ${s.getAs[Int]("bin")} in $g")
      }
      // and every per-segment fit is monotone in the bin order
      assert(mine.map(_.getAs[Double]("frac_iso")).toSeq ==
        mine.map(_.getAs[Double]("frac_iso")).toSeq.sorted)
    }
  }

  test("conformalGate: hand-computed q̂ and coverage; perfect score; rank overshoot") {
    import graft.operators.Robust
    val evens = (1L to 200L).filter(kh(_) % 2 == 0)
    val odds = (1L to 200L).filter(kh(_) % 2 == 1)
    // 9 calibration docs with nonconformity 0.1..0.9 (true labels, a = 1−q):
    // k = ⌈0.9·10⌉ = 9 → q̂ = 0.9; test docs at a = 0.85 (covered) and
    // a = 0.95 (not covered) → coverage 0.5
    val cal = evens.take(9).zipWithIndex.map { case (id, i) =>
      (id, 1.0 - (i + 1) * 0.1, true) }
    val tst = Seq((odds(0), 0.15, true), (odds(1), 0.05, true))
    val r = Robust.conformalGate(
      (cal ++ tst).toDF("doc_id", "score", "label"),
      col("doc_id"), col("score"), col("label")).head()
    assert(r.getAs[Long]("n_cal") == 9L && r.getAs[Long]("n_test") == 2L)
    assert(r.getAs[Double]("qhat") == 0.9 && r.getAs[Double]("coverage") == 0.5)
    // a perfect score: every nonconformity 0 → q̂ = 0, singleton sets,
    // full coverage
    val perfect = (evens.take(9).map(id => (id, 1.0, true)) ++
      odds.take(4).map(id => (id, 1.0, true)) ++
      Seq((odds(4), 0.0, false))).toDF("doc_id", "score", "label")
    val p = Robust.conformalGate(perfect, col("doc_id"), col("score"), col("label")).head()
    assert(p.getAs[Double]("qhat") == 0.0 && p.getAs[Double]("coverage") == 1.0 &&
      p.getAs[Double]("avg_set_size") == 1.0)
    // n_cal < 9 → k > n_cal: q̂ degrades to 1 (full sets, coverage 1)
    val tiny = Robust.conformalGate(
      (evens.take(3).map(id => (id, 0.4, true)) ++
        Seq((odds(0), 0.2, false))).toDF("doc_id", "score", "label"),
      col("doc_id"), col("score"), col("label")).head()
    assert(tiny.getAs[Double]("qhat") == 1.0 && tiny.getAs[Double]("coverage") == 1.0 &&
      tiny.getAs[Double]("avg_set_size") == 2.0)
  }

  test("conformalGateBy: per-segment rows equal the global gate per slice; test-less segment kept") {
    import graft.operators.Robust
    val rnd = new scala.util.Random(11)
    val rows = (1L to 160L).map { id =>
      val g = if (id % 2 == 0) "web" else "book" // independent of hash parity
      (g, id, math.rint(rnd.nextDouble() * 1e6) / 1e6, rnd.nextBoolean())
    }
    val df = rows.toDF("src", "doc_id", "score", "label")
    val grouped = Robust.conformalGateBy(
      df, col("doc_id"), col("score"), col("label"), "src").collect()
    assert(grouped.map(_.getString(0)).toSeq == Seq("book", "web"))
    for (row <- grouped) {
      val single = Robust.conformalGate(
        df.filter($"src" === row.getString(0)),
        col("doc_id"), col("score"), col("label")).head()
      assert(row.getAs[Long]("n_cal") == single.getAs[Long]("n_cal"))
      assert(row.getAs[Long]("n_test") == single.getAs[Long]("n_test"))
      for (c <- Seq("qhat", "coverage", "avg_set_size"))
        assert(row.getAs[Double](c) == single.getAs[Double](c),
          s"$c in ${row.getString(0)}")
    }
    // a segment whose rows ALL land in the calibration half keeps its
    // (n_test = 0, NULL coverage) row — the calibration-side contract
    val calOnly = (1000001L to 1000400L).filter(kh(_) % 2 == 0).take(5)
    val mixed = (rows ++ calOnly.map(id => ("calonly", id, 0.5, true)))
      .toDF("src", "doc_id", "score", "label")
    val co = Robust.conformalGateBy(
      mixed, col("doc_id"), col("score"), col("label"), "src").collect()
      .find(_.getString(0) == "calonly").get
    assert(co.getAs[Long]("n_test") == 0L && co.isNullAt(co.fieldIndex("coverage")))
  }

  test("labelNoiseKnn: planted mislabel flagged by its neighborhood; clean blobs stay clean") {
    import graft.operators.Similarity
    // three angular blobs (cosine = direction): A at 0 rad (label 0),
    // B at 1.2 (label 1), C at 2.4 (label 2); one point INSIDE A's
    // angular range carries label 9 — its whole neighborhood disagrees
    def vec(theta: Double) = Seq(math.cos(theta).toFloat, math.sin(theta).toFloat)
    val a = (0 until 8).map(j => (j.toLong, vec(j * 0.01), 0))
    val b = (0 until 8).map(j => (100L + j, vec(1.2 + j * 0.01), 1))
    val c = (0 until 8).map(j => (200L + j, vec(2.4 + j * 0.01), 2))
    val bad = Seq((999L, vec(0.035), 9))
    val df = (a ++ b ++ c ++ bad).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelNoiseKnn(df, df, k = 5).collect()
      .map(r => r.getAs[Long]("label") ->
        (r.getAs[Long]("n_checked"), r.getAs[Long]("n_suspect"),
          r.getAs[Double]("disagreement"))).toMap
    // the mislabel: all 5 neighbors are label 0 → disagreement 1, suspect
    assert(got(9L) == ((1L, 1L, 1.0)))
    // clean blobs: no suspects; B and C never see the planted point
    assert(got(1L) == ((8L, 0L, 0.0)) && got(2L) == ((8L, 0L, 0.0)))
    // A's points see at most the one intruder in their top-5 → below the
    // majority rule, and mean disagreement stays low
    assert(got(0L)._2 == 0L && got(0L)._3 < 0.3)
  }

  test("labelNoiseIvf: planted mislabel flagged THROUGH the probed path; flags agree with the exact twin") {
    import graft.operators.{IvfIndex, Similarity}
    // same angular-blob design as the brute-force test: the mislabeled
    // point sits INSIDE blob A's angular range, so its probed cell is A's
    // and its whole probed neighborhood disagrees with label 9
    def vec(theta: Double) = Seq(math.cos(theta).toFloat, math.sin(theta).toFloat)
    val a = (0 until 8).map(j => (j.toLong, vec(j * 0.01), 0))
    val b = (0 until 8).map(j => (100L + j, vec(1.2 + j * 0.01), 1))
    val c = (0 until 8).map(j => (200L + j, vec(2.4 + j * 0.01), 2))
    val bad = Seq((999L, vec(0.035), 9))
    val df = (a ++ b ++ c ++ bad).toDF("vec_id", "embedding", "label")
    val labels = df.select($"vec_id", $"label")
    val idx = IvfIndex.build(spark, df, nLists = 3)
    val per = IvfIndex.labelNoiseIvf(idx, labels, df, k = 5, nProbe = 1).collect()
    assert(per.filter(_.getAs[Boolean]("suspect"))
      .map(_.getAs[Long]("query_id")).toSeq == Seq(999L), per.mkString("\n"))
    // per-query suspect flags agree with the exact twin (nProbe = 1 on
    // well-separated blobs loses no neighbor that could flip a vote)
    val exact = Similarity.labelNoisePerQuery(df, df, k = 5).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Boolean]("suspect")).toMap
    assert(per.length == exact.size &&
      per.forall(r => exact(r.getAs[Long]("query_id")) == r.getAs[Boolean]("suspect")))
    // the shared rollup localizes the noise to class 9
    val roll = Similarity.labelNoiseRollup(
        IvfIndex.labelNoiseIvf(idx, labels, df, k = 5, nProbe = 1))
      .collect().map(r => r.getAs[Long]("label") ->
        (r.getAs[Long]("n_checked"), r.getAs[Long]("n_suspect"))).toMap
    assert(roll(9L) == ((1L, 1L)) && roll(0L)._2 == 0L &&
      roll(1L) == ((8L, 0L)) && roll(2L) == ((8L, 0L)))
  }

  test("mixtureWaterfill: hand-computed cutoff; overflow redistributes; no-saturation = proportional") {
    import graft.operators.Curation
    def doc(src: String, n: Int) = (src, List.fill(n)("x").mkString(" "))
    // A(100, w1) B(10, w1) C(100, w2), budget 50% of 210 = 105:
    // ratio order B(10) A(100) C(50) → wait, C ratio = 100/2 = 50 < A's 100
    // scan: B saturates (105·1 ≥ 10·4), leftover 95 over W=3 → C gets
    // ⌊95·2/3⌋ = 63, A gets ⌊95/3⌋ = 31
    val df = Seq(doc("A", 100), doc("B", 10), doc("C", 100)).toDF("source", "text")
    val got = Curation.mixtureWaterfill(df, Map("A" -> 1L, "B" -> 1L, "C" -> 2L), 50)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("alloc_tokens"), r.getAs[Boolean]("saturated"),
          r.getAs[Double]("rate"))).toMap
    assert(got("B") == ((10L, true, 1.0)))
    assert(got("C") == ((63L, false, 0.63)))
    assert(got("A") == ((31L, false, 0.31)))
    // nothing scarce → pure proportional split, nobody saturated
    val even = Seq(doc("A", 100), doc("B", 100)).toDF("source", "text")
    val g2 = Curation.mixtureWaterfill(even, Map("A" -> 1L, "B" -> 1L), 50)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("alloc_tokens"), r.getAs[Boolean]("saturated"))).toMap
    assert(g2("A") == ((50L, false)) && g2("B") == ((50L, false)))
    // a source outside the mixture drops
    assert(Curation.mixtureWaterfill(
      Seq(doc("A", 10), doc("Z", 10)).toDF("source", "text"),
      Map("A" -> 1L), 50).collect().map(_.getString(0)).toSeq == Seq("A"))
  }

  // scalar twin of PortableHash.keyHash for seed-placement arithmetic
  private def kh(id: Long): Long =
    ((id % 1000000007L + 1000000007L) % 1000000007L) * 2654435761L % 1000000007L

  test("kmeans: planted blobs recovered exactly; deterministic; brute-force argmin twin") {
    import graft.operators.Clustering
    // seeds are the k smallest (keyHash, id) — place one seed per blob so
    // 3 Lloyd iterations provably converge to the blob means
    val ids = (1L to 30L).sortBy(i => (kh(i), i))
    val (seedIds, restIds) = (ids.take(3), ids.drop(3))
    val centers = Seq((0f, 0f), (10f, 0f), (0f, 10f))
    // 4 members per blob with x-offsets {+.5, −.5, +.5, −.5} → mean = center
    val rows = centers.zipWithIndex.flatMap { case ((cx, cy), b) =>
      val members = seedIds(b) +: restIds.slice(b * 3, b * 3 + 3)
      members.zipWithIndex.map { case (id, j) =>
        val off = if (j % 2 == 0) 0.5f else -0.5f
        (id, Seq(cx + off, cy))
      }
    }
    val df = rows.toDF("vec_id", "embedding")
    val clean = Clustering.cleanVectors(df, dim = 2)
    val cents = Clustering.kmeans(clean, k = 3, iters = 3, dim = 2)
    assert(cents.map(_.toSeq).toSeq ==
      centers.map { case (x, y) => Seq(x.toDouble, y.toDouble) })
    // determinism: retraining gives bit-identical centroids
    assert(Clustering.kmeans(clean, k = 3, iters = 3, dim = 2)
      .map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    // rollup: each blob pure (n = 4), inertia = 4 · 0.25 = 1.0
    val roll = Clustering.kmeansRollup(clean, cents).collect()
    assert(roll.map(r => (r.getAs[Int]("cluster"), r.getAs[Long]("n"),
      r.getAs[Double]("inertia"))).toSeq ==
      Seq((0, 4L, 1.0), (1, 4L, 1.0), (2, 4L, 1.0)))
    // assignment twin: every row's cluster is the brute-force argmin
    val assigned = Clustering.assign(clean, cents)
      .select($"vec_id", $"cl").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((id, v) <- rows) {
      val d2s = cents.map(c => c.zip(v.map(_.toDouble)).map {
        case (m, x) => (x - m) * (x - m) }.sum)
      assert(assigned(id) == d2s.indexOf(d2s.min), s"vec $id")
    }
  }

  test("semDedup: planted near-dup PATH prunes only the max-key middle; pair-less cluster intact") {
    import graft.operators.Clustering
    // Blob A: three short vectors near the origin at angles 0°/60°/120° —
    // cos(0,60) = cos(60,120) = 0.5 ≥ τ = 0.3 but cos(0,120) = −0.5 < τ:
    // a near-dup PATH x–y–z, not a clique. The keeper rule ("pruned iff a
    // smaller-(keyHash, id) neighbor at ≥ τ exists") prunes ONLY y when y
    // holds the largest key — a count a clique could never discriminate
    // (any keeper rule prunes |clique|−1). Blob B: one far vector — no
    // pairs, prune_rate 0.
    val ids = (1L to 20L).sortBy(i => (kh(i), i))
    val (seedA, seedB) = (ids(0), ids(1))             // one seed per blob
    val rest = ids.drop(2)
    val (m120, m60) = (rest(0), rest(1))              // key(m60) > key(m120) > key(seedA)
    val a0 = Seq(0.5f, 0f)                            // 0° — the key minimum (seedA)
    val a60 = Seq(0.25f, 0.433f)                      // 60° — the path middle, max key
    val a120 = Seq(-0.25f, 0.433f)                    // 120°
    val df = Seq((seedA, a0), (m60, a60), (m120, a120), (seedB, Seq(10f, 10f)))
      .toDF("vec_id", "embedding")
    val clean = Clustering.cleanVectors(df, dim = 2)
    val cents = Clustering.kmeans(clean, k = 2, iters = 2, dim = 2)
    val got = Clustering.semDedup(clean, cents).collect()
      .map(r => (r.getAs[Long]("n"), r.getAs[Long]("n_pruned"),
        r.getAs[Long]("n_kept"), r.getAs[Double]("prune_rate"))).toSet
    assert(got == Set((3L, 1L, 2L, 0.333333), (1L, 0L, 1L, 0.0)), got.toString)
    // clique control: all three at 0°-ish (pairwise cosine 1) → keep ONE
    val cl = Seq((seedA, Seq(0.5f, 0f)), (m60, Seq(0.6f, 0f)), (m120, Seq(0.4f, 0f)),
      (seedB, Seq(10f, 10f))).toDF("vec_id", "embedding")
    val cleanCl = Clustering.cleanVectors(cl, dim = 2)
    val gotCl = Clustering.semDedup(cleanCl,
      Clustering.kmeans(cleanCl, k = 2, iters = 2, dim = 2)).collect()
      .map(r => (r.getAs[Long]("n"), r.getAs[Long]("n_pruned"))).toSet
    assert(gotCl == Set((3L, 2L), (1L, 0L)), gotCl.toString)
  }

  test("semanticLeakage: planted cross-split near-dup pair surfaces as an off-diagonal leak row") {
    import graft.operators.Clustering
    // a clique of parallel vectors (pairwise cosine 1) in one cell plus a
    // far singleton; expected split labels derive from the same hash rule
    val ids = (1L to 20L).sortBy(i => (kh(i), i))
    val (seedA, seedB) = (ids(0), ids(1))
    val rest = ids.drop(2)
    val members = Seq(seedA, rest(0), rest(1))
    val df = (members.zipWithIndex.map { case (id, j) =>
      (id, Seq(0.5f + j * 0.1f, 0f))
    } :+ (seedB, Seq(10f, 10f))).toDF("vec_id", "embedding")
    val clean = Clustering.cleanVectors(df, dim = 2)
    val cents = Clustering.kmeans(clean, k = 2, iters = 2, dim = 2)
    def split(id: Long): String = {
      val h = kh(id) % 100
      if (h < 90) "train" else if (h < 95) "val" else "test"
    }
    val exp = members.combinations(2).toSeq
      .map { case Seq(a, b) =>
        val (sa, sb) = (split(a), split(b))
        (Seq(sa, sb).min, Seq(sa, sb).max)
      }
      .groupBy(identity).map { case (k2, v) => k2 -> v.size.toLong }
    val got = Clustering.semanticLeakage(clean, cents).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Boolean]("is_leak")))).toMap
    assert(got.keySet == exp.keySet, s"got $got exp $exp")
    exp.foreach { case (k2, n) =>
      assert(got(k2) == ((n, k2._1 != k2._2)), s"$k2: ${got(k2)} vs $n")
    }
    // shares sum to 1 over the emitted rows
    val shares = Clustering.semanticLeakage(clean, cents).collect()
      .map(_.getAs[Double]("share")).sum
    assert(math.abs(shares - 1.0) < 1e-6)
  }

  test("splitBySemCluster: cross-split clique reunites under the root hash; re-audit leak-free") {
    import graft.operators.Clustering
    def split(id: Long): String = {
      val h = kh(id) % 100
      if (h < 90) "train" else if (h < 95) "val" else "test"
    }
    // seeds = the two smallest (kh, id) keys (the kmeans seeding rule):
    // seedA anchors the clique cell, seedB the far singleton's cell.
    // Pick a clique member whose NAIVE split differs from seedA's — the
    // planted contamination the remedy must reunite.
    val ids = (1L to 400L).sortBy(i => (kh(i), i))
    val (seedA, seedB) = (ids(0), ids(1))
    val rest = ids.drop(2)
    val mOther = rest.find(split(_) != split(seedA)).get
    val mSame = rest.find(i => i != mOther && split(i) == split(seedA)).get
    val members = Seq(seedA, mOther, mSame) // clique: pairwise cosine 1
    assert(members.map(split).distinct.size >= 2) // naive split WOULD leak
    val df = (members.zipWithIndex.map { case (id, j) =>
      (id, Seq(0.5f + j * 0.1f, 0f))
    } :+ (seedB, Seq(10f, 10f))).toDF("vec_id", "embedding")
    val clean = Clustering.cleanVectors(df, dim = 2)
    val cents = Clustering.kmeans(clean, k = 2, iters = 2, dim = 2)
    // sanity: the naive audit sees the planted leak
    val naive = Clustering.semanticLeakage(clean, cents).collect()
    assert(naive.exists(_.getAs[Boolean]("is_leak")))
    val got = Clustering.splitBySemCluster(clean, cents).collect()
    // reunification: ALL clique members land in the ROOT's split (the
    // component min id), every vec assigned exactly once, re-audit green
    val rootSplit = split(members.min)
    val bySplit = got.map(r => r.getString(0) ->
      ((r.getAs[Long]("n_vecs"), r.getAs[Long]("n_clustered_vecs")))).toMap
    assert(bySplit(rootSplit)._2 == 3L, bySplit.toString)
    assert(got.map(_.getAs[Long]("n_vecs")).sum == 4L)
    assert(got.map(_.getAs[Long]("n_clustered_vecs")).sum == 3L)
    assert(got.forall(_.getAs[Boolean]("leak_free")), got.mkString(","))
    // the singleton keeps its own id hash (it joins no cluster)
    val singletonRow = bySplit(split(seedB))
    assert(singletonRow._1 - singletonRow._2 >= 1L)
  }

  test("semDedupQuota: budget fills over the POST-prune pool — the pruned member carries no capacity") {
    import graft.operators.Clustering
    // the path fixture: blob A = {seedA(0°), m60, m120} with m60 (max
    // key) pruned → survivors {seedA, m120}; blob B = {seedB} untouched
    val ids = (1L to 20L).sortBy(i => (kh(i), i))
    val (seedA, seedB) = (ids(0), ids(1))
    val rest = ids.drop(2)
    val (m120, m60) = (rest(0), rest(1))
    val df = Seq((seedA, Seq(0.5f, 0f)), (m60, Seq(0.25f, 0.433f)),
      (m120, Seq(-0.25f, 0.433f)), (seedB, Seq(10f, 10f)))
      .toDF("vec_id", "embedding")
    val clean = Clustering.cleanVectors(df, dim = 2)
    val cents = Clustering.kmeans(clean, k = 2, iters = 2, dim = 2)
    // keeps among SURVIVORS: A keeps only seedA (m120 fails the gate;
    // m60's quality is irrelevant — it is pruned); B keeps seedB
    val quality = Seq((seedA, true), (m60, true), (m120, false), (seedB, true))
      .toDF("doc_id", "keep")
    // budget 90% of the 3 survivors = 2: ratios A = 2/1, B = 1/1 →
    // order B, A; B saturates exactly (2·1 ≥ 1·2) → 1; A ⌊1·1/1⌋ = 1
    val got = Clustering.semDedupQuota(clean, cents, quality, budgetPct = 90)
      .collect().map(r => (r.getAs[Long]("n"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("keeps"), r.getAs[Long]("quota"),
        r.getAs[Boolean]("saturated"), r.getAs[Double]("fill_rate"))).toSet
    assert(got == Set((3L, 2L, 1L, 1L, false, 0.5), (1L, 1L, 1L, 1L, true, 1.0)),
      got.toString)
  }

  test("sampleQuota: hand-computed waterfill over clusters; saturation; zero-keep cluster drops") {
    import graft.operators.Clustering
    // two planted blobs of 4 (one seed each, the established arrangement)
    val ids = (1L to 30L).sortBy(i => (kh(i), i))
    val (seedIds, restIds) = (ids.take(2), ids.drop(2))
    val blobs = Seq((0f, 0f), (10f, 0f)).zipWithIndex.map { case ((cx, cy), b) =>
      (seedIds(b) +: restIds.slice(b * 3, b * 3 + 3)).zipWithIndex.map {
        case (id, j) => (id, Seq(cx + (if (j % 2 == 0) 0.5f else -0.5f), cy))
      }
    }
    val df = blobs.flatten.toDF("vec_id", "embedding")
    val clean = Clustering.cleanVectors(df, dim = 2)
    val cents = Clustering.kmeans(clean, k = 2, iters = 3, dim = 2)
    def quality(keepsA: Seq[Long], keepsB: Seq[Long]) =
      blobs.flatten.map { case (id, _) =>
        (id, keepsA.contains(id) || keepsB.contains(id))
      }.toDF("doc_id", "keep")
    val qal = quality(blobs(0).map(_._1).take(2), blobs(1).map(_._1))
    def run(budget: Int, q: org.apache.spark.sql.DataFrame) =
      Clustering.sampleQuota(clean, cents, q, budget).collect()
        .map(r => r.getAs[Long]("keeps") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("quota"),
            r.getAs[Boolean]("saturated"), r.getAs[Double]("fill_rate")))).toMap
    // budget 50% of 8 = 4; ratios A = 4/2, B = 4/4 → order B, A; nobody
    // saturates (4·4 < 4·6): level (4, 6) → B ⌊16/6⌋ = 2, A ⌊8/6⌋ = 1
    assert(run(50, qal) == Map(4L -> ((4L, 2L, false, 0.5)),
      2L -> ((4L, 1L, false, 0.25))), run(50, qal).toString)
    // budget 75% = 6: B saturates exactly (6·4 ≥ 4·6) → 4; A ⌊2·2/2⌋ = 2
    assert(run(75, qal) == Map(4L -> ((4L, 4L, true, 1.0)),
      2L -> ((4L, 2L, false, 0.5))), run(75, qal).toString)
    // zero-keep cluster DROPS and stops counting toward the budget base:
    // only A remains (keeps 2), budget 50% of ITS 4 rows = 2
    val qa = quality(blobs(0).map(_._1).take(2), Seq.empty)
    val got = run(50, qa)
    assert(got == Map(2L -> ((4L, 2L, false, 0.5))), got.toString)
  }

  test("kmeans: empty cluster carries its centroid; silhouette degenerate and planted cases") {
    import graft.operators.Clustering
    // 3 ids at the SAME point + 1 far id, k = 3: at least two seeds
    // coincide, ties go to the lower cluster id, so ≥1 cluster empties
    // and must carry its (duplicate) centroid instead of crashing
    val dup = Seq(0f, 0f)
    val df = Seq((1L, dup), (2L, dup), (3L, dup), (4L, Seq(10f, 10f)))
      .toDF("vec_id", "embedding")
    val clean = Clustering.cleanVectors(df, dim = 2)
    val cents = Clustering.kmeans(clean, k = 3, iters = 2, dim = 2)
    assert(cents.length == 3)
    val roll = Clustering.kmeansRollup(clean, cents).collect()
    assert(roll.map(_.getAs[Long]("n")).sum == 4L && roll.length <= 2)
    // all-identical corpus under coincident centroids: every distance 0,
    // the max(a,b) = 0 guard pins s to 0 instead of 0/0
    val same = Seq((1L, dup), (2L, dup), (3L, dup)).toDF("vec_id", "embedding")
    val sameClean = Clustering.cleanVectors(same, dim = 2)
    val sil0 = Clustering.silhouette(
      sameClean, Clustering.kmeans(sameClean, k = 2, iters = 1, dim = 2)).collect()
    assert(sil0.map(r => (r.getAs[Long]("n"), r.getAs[Double]("silhouette"))).toSeq ==
      Seq((3L, 0.0)))
    // planted far blobs: a = 0.5, b = √(100 + …) ≫ a → silhouette > 0.9
    val ids = (1L to 30L).sortBy(i => (kh(i), i))
    val (seedIds, restIds) = (ids.take(2), ids.drop(2))
    val blobs = Seq((0f, 0f), (20f, 0f)).zipWithIndex.flatMap { case ((cx, cy), b) =>
      (seedIds(b) +: restIds.slice(b * 3, b * 3 + 3)).zipWithIndex.map {
        case (id, j) => (id, Seq(cx + (if (j % 2 == 0) 0.5f else -0.5f), cy))
      }
    }.toDF("vec_id", "embedding")
    val bClean = Clustering.cleanVectors(blobs, dim = 2)
    val silP = Clustering.silhouette(
      bClean, Clustering.kmeans(bClean, k = 2, iters = 3, dim = 2)).collect()
    assert(silP.length == 2 && silP.forall(_.getAs[Double]("silhouette") > 0.9))
  }
}
