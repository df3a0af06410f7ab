package graft

import graft.operators.{Dedup, Multimodal, Quantize, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Operator-level tests for the training-data-pipeline operators (dedup,
  * similarity search, text analysis, multimodal plumbing) on crafted
  * fixtures with known answers. */
class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"), // near dup of 1
    (4L, "completely unrelated text about spark catalyst optimizer internals and shuffles"),
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exactDedup keeps lowest id per payload") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("exactDupGroups finds the duplicate cluster") {
    val g = Dedup.exactDupGroups(docs, "doc_id", "text").collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("keep_id") == 1L)
    assert(g.head.getAs[Long]("n_copies") == 2L)
  }

  test("minhashNearDups finds exact+near dup pairs and nothing else") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))   // exact dup, jaccard 1.0
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L)) // < 3 tokens: no shingles
  }

  test("connectedComponents: min-label per component, transitivity across chains") {
    // two components: {1,2,3} via chain 1-2, 2-3 (1 and 3 never share an
    // edge) and {7,9}; singleton 5 has no edges and does not appear
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 7L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("connectedComponents converges on a deep chain via pointer doubling") {
    // a 300-node path graph has diameter 299: plain min-label propagation
    // would need 300 rounds (past maxIter); doubling needs ~log2
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 300)
    assert(labels.forall(_._2 == 0L))
  }

  test("connectedComponents and dropNearDups are no-ops on duplicate-free input") {
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(noPairs).count() == 0)
    val cleanDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "entirely different words with no overlap at all")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropNearDups(cleanDocs, "doc_id", "text", threshold = 0.6)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 2L))
  }

  test("dropNearDups keeps one representative per near-dup cluster") {
    val kept = Dedup.dropNearDups(docs, "doc_id", "text", threshold = 0.6)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // {1,2,3} collapse to 1 (2 exact-dups 1, 3 near-dups both); 4, 5 untouched
    assert(kept.toSeq == Seq(1L, 4L, 5L))
  }

  test("dedup pipelines leave no cached blocks behind (deterministic release)") {
    // Dataset.unpersist() on a localCheckpointed frame is a cache-manager
    // no-op, so without Dedup.release the CC loop would leak one block per
    // round and each pipeline its result chain. The only block allowed to
    // survive a pipeline call is the returned result's own checkpoint,
    // released here the way a caller would.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val clusters = Dedup.nearDupClusters(docs, "doc_id", "text", threshold = 0.6)
    assert(clusters.count() >= 1)
    Dedup.release(clusters)
    val kept = Dedup.dropNearDups(docs, "doc_id", "text", threshold = 0.6)
    assert(kept.count() >= 1)
    // dropNearDups' result is a lazy anti-join against a checkpointed
    // loser set it owns; consuming it doesn't release that set — walk the
    // plan the same way release() does for the test's own cleanup
    kept.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ =>
    }
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"leaked persistent RDDs: ${(after -- before).mkString(", ")}")
  }

  test("hash-based Jaccard equals string-based Jaccard") {
    val hashes = Dedup.shingleHashTable(docs, "doc_id", "text", 3)
    val cands = Dedup.minhashCandidatesFromHashes(hashes)
    val byHash = Dedup.verifyJaccardFromHashes(hashes, cands)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val byString = Dedup.verifyJaccard(docs, cands, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(byHash == byString)
  }

  test("minhash LSH agrees with brute-force jaccardAllPairs at threshold 0.6") {
    val lsh = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.jaccardAllPairs(docs, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute)
  }

  test("keepCanonical keeps the highest-score member per cluster, min id on ties") {
    // docs 1/2/3 form one near-dup cluster; score = text length makes 3
    // (the longest, 'yesterday') the canonical pick over min-id 1
    val kept = Dedup.keepCanonical(docs, "doc_id", "text",
        length(col("text")), threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(3L, 4L, 5L))
    // min-id tiebreak: equal scores keep the lowest id (doc 1)
    val keptTie = Dedup.keepCanonical(docs, "doc_id", "text",
        lit(7), threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptTie == Seq(1L, 4L, 5L))
  }

  test("incrementalDedup: two snapshots = full greedy recompute; dropped docs still block") {
    // X~Y (jaccard 0.6), Y~Z (0.6), X~Z (0.33): Y drops in batch 1 (X is
    // smaller), and Z in batch 2 must STILL drop — it near-dups the
    // DROPPED Y, which only an all-docs index can see. A survivors-only
    // index would keep Z; this test pins the design.
    val x = (1L, "p q r s t u v w m n")
    val y = (2L, "p q r s t u v w x y")
    val z = (6L, "o k r s t u v w x y")
    // cross-batch pair: b(7) in batch 2 near-dups a(3) kept in batch 1
    // (last token differs: 5 of 7 distinct shingles shared, jaccard 0.71)
    val a = (3L, "alpha beta gamma delta epsilon zeta eta theta")
    val b = (7L, "alpha beta gamma delta epsilon zeta eta iota")
    val batch1 = Seq(x, y, a, (4L, "solo document with nothing similar at all")).toDF("doc_id", "text")
    val batch2 = Seq(z, b).toDF("doc_id", "text")
    val union = batch1.unionByName(batch2)
    val idx = Artifacts.dir("sig_index").toString + "/idx"
    val kept1 = Dedup.incrementalDedup(spark, idx, batch1, "doc_id", "text",
        threshold = 0.55, nShards = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept2 = Dedup.incrementalDedup(spark, idx, batch2, "doc_id", "text",
        threshold = 0.55, nShards = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val full = Dedup.dropNearDupsGreedy(union, "doc_id", "text", threshold = 0.55)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((kept1 ++ kept2) == full) // incremental ≡ full recompute
    assert(kept1 == Set(1L, 3L, 4L)) // Y dropped (X smaller)
    assert(kept2 == Set.empty[Long]) // Z blocked by DROPPED Y; b by a
    // out-of-order batch ids are rejected (the equivalence depends on it)
    intercept[IllegalArgumentException] {
      Dedup.incrementalDedup(spark, idx,
        Seq((5L, "a late arriving snapshot document with shingles"))
          .toDF("doc_id", "text"), "doc_id", "text")
    }
  }

  test("incrementalDedup index upsert leaves untouched signature shards byte-identical") {
    val idx = Artifacts.dir("sig_index2").toString + "/idx"
    // batch 1 covers all 4 shards; batch 2 ids ≡ 1 (mod 4) → only shard 1
    val mk = (ids: Seq[Long]) =>
      ids.map(i => (i, s"document number $i about topic ${i % 3} with enough tokens"))
        .toDF("doc_id", "text")
    Dedup.incrementalDedup(spark, idx, mk(Seq(0L, 1L, 2L, 3L)),
      "doc_id", "text", nShards = 4).count()
    def files(shard: Int): Set[(String, Long)] =
      new java.io.File(idx, s"shard=$shard").listFiles()
        .filter(_.getName.startsWith("part-"))
        .map(f => f.getName -> f.lastModified).toSet
    val before = (0 until 4).map(files)
    Dedup.incrementalDedup(spark, idx, mk(Seq(101L, 105L)),
      "doc_id", "text", nShards = 4).count()
    assert(files(0) == before(0) && files(2) == before(2) && files(3) == before(3))
    assert(files(1) != before(1))
    // and the index now serves reads: all six docs present
    assert(graft.sources.Sinks.readSharded(spark, idx).count() == 6)
  }

  test("cascade = keepCanonical after exactDedup; catches shingle-less exact dups d28 misses") {
    // shingle-less exact dups ("hi there" ×2 — under 3 tokens, no shingles)
    // never reach LSH banding: plain keepCanonical keeps BOTH, the cascade's
    // exact stage culls one. The long docs behave identically in both.
    val cd = docs.union(Seq(
      (6L, "hi there"), (7L, "hi there")).toDF("doc_id", "text"))
    val cascade = Dedup.cascade(cd, "doc_id", "text",
        length(col("text")), threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val composed = Dedup.keepCanonical(
        Dedup.exactDedup(cd, "doc_id", "text"), "doc_id", "text",
        length(col("text")), threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(cascade == composed) // one operator ≡ composing the stages
    // docs 1/2 exact dups (keep 1), 1/3 near dups (keep 3: longer), 6/7
    // shingle-less exact dups (keep 6)
    assert(cascade == Seq(3L, 4L, 5L, 6L))
    val plain = Dedup.keepCanonical(cd, "doc_id", "text",
        length(col("text")), threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(plain.contains(7L)) // the LSH-only path keeps the short clone
  }

  test("fuzzyPairs: segment-banded Levenshtein equals brute force, each pair once") {
    val fd = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumped"),   // dist 2 from 1
      (3L, "the quick brown fox jumps"),    // exact dup of 1 (dist 0)
      (4L, "a completely different text"),
      (5L, "xy"),                           // short: different bucket entirely
      (6L, "the quick brown ox jumps")      // dist 1 from 1/3
    ).toDF("doc_id", "text")
    val got = Dedup.fuzzyPairs(fd, "doc_id", "text", maxDist = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
    // exactly-once emission: no duplicate (id_a, id_b) keys
    assert(got.map(_._1).distinct.length == got.length)
    val brute = fd.as("a").crossJoin(fd.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        levenshtein(col("a.text"), col("b.text")).as("dist"))
      .filter(col("dist") <= 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toSet
    assert(got.toSet == brute)
    assert(got.toMap == Map((1L, 3L) -> 0, (1L, 2L) -> 2, (2L, 3L) -> 2,
      (1L, 6L) -> 1, (3L, 6L) -> 1, (2L, 6L) -> 3))
  }

  test("fuzzyPairs recall: randomized ≤maxDist edits are all found (PassJoin pigeonhole)") {
    // adversarial-ish randomized property: seed strings of varied lengths
    // (including < maxDist+1, around the segment-count boundary, and long),
    // each mutated by exactly j ∈ [0, maxDist] random char edits — every
    // (seed, mutant) pair must be recalled by the segment banding
    val rnd = new scala.util.Random(20260813L)
    val alpha = "abcdefgh"
    def randStr(n: Int) = (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    def mutate(s: String, edits: Int): String = {
      var t = s
      (0 until edits).foreach { _ =>
        val op = rnd.nextInt(3)
        val pos = if (t.isEmpty) 0 else rnd.nextInt(t.length)
        t = op match {
          case 0 if t.nonEmpty => t.updated(pos, alpha(rnd.nextInt(alpha.length))) // sub
          case 1 if t.nonEmpty => t.take(pos) + t.drop(pos + 1)                    // del
          case _ => t.take(pos) + alpha(rnd.nextInt(alpha.length)) + t.drop(pos)   // ins
        }
      }
      t
    }
    val maxDist = 4
    val rows = (0 until 40).flatMap { g =>
      val len = Seq(2, 4, 5, 6, 11, 40, 90)(g % 7)
      val s = randStr(len)
      Seq((g * 2L, s), (g * 2L + 1, mutate(s, g % (maxDist + 1))))
    }
    val fd = rows.toDF("doc_id", "text")
    val got = Dedup.fuzzyPairs(fd, "doc_id", "text", maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = fd.as("a").crossJoin(fd.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .filter(levenshtein(col("a.text"), col("b.text"), maxDist) >= 0)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute) // zero missed, zero spurious
    assert((0 until 40).forall(g => brute.contains((g * 2L, g * 2L + 1))))
  }

  test("fuzzyCandidates: uniform-length corpus stays content-governed, not all-pairs") {
    // 200 same-length random strings: the old length-only banding put all
    // of them in ONE bucket → 19900 candidate pairs; content-segment keys
    // must collapse that to near zero (only genuinely similar pairs)
    val rnd = new scala.util.Random(7L)
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val n = 200
    val fd = (0 until n).map(i =>
        (i.toLong, (0 until 64).map(_ => alpha(rnd.nextInt(26))).mkString))
      .toDF("doc_id", "text")
    val cands = Dedup.fuzzyCandidates(fd, "doc_id", "text", maxDist = 6).count()
    val allPairs = n.toLong * (n - 1) / 2 // what length-only banding produced
    assert(cands < allPairs / 50,
      s"expected content banding to prune uniform-length candidates, got $cands of $allPairs")
  }

  test("dropFuzzyNearDupsCascade: clone families collapse before banding; greedy keep by id") {
    // 8 distinct texts × 10 exact clones each, plus one near-dup (dist 2) of
    // text 0: the exact stage must shrink the PassJoin input from 81 docs to
    // 9 (zero dist-0 pairs reach the verify), and the greedy stage drops the
    // near-dup (its rep id is larger than text 0's)
    val rnd = new scala.util.Random(99L)
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val seeds = (0 until 8).map(_ => (0 until 48).map(_ => alpha(rnd.nextInt(26))).mkString)
    val clones = for (t <- 0 until 8; c <- 0 until 10)
      yield ((t * 100 + c).toLong, seeds(t))
    val near = Seq((900L, seeds(0).take(46) + "zz")) // dist 2 from seeds(0)
    val fd = (clones ++ near).toDF("doc_id", "text")
    val repCount = Dedup.exactDedup(fd, "doc_id", "text").count()
    assert(repCount == 9)
    val kept = Dedup.dropFuzzyNearDupsCascade(fd, "doc_id", "text", maxDist = 6)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(0L, 100L, 200L, 300L, 400L, 500L, 600L, 700L))
    // candidate-shrink property: post-exact the verify join sees only the
    // genuine near-dup pair, not the 45-per-family clone cliques
    val postExact = Dedup.fuzzyPairs(
      Dedup.exactDedup(fd, "doc_id", "text"), "doc_id", "text", maxDist = 6).count()
    assert(postExact == 1L)
  }

  test("simhashNearDups finds the exact-dup pair at hamming 0") {
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((1L, 2L)).contains(0))
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("repetitionStats: distinct fraction and top-token share on a crafted doc") {
    val df = Seq((1L, "a a a b"), (2L, "x y z"), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(1L) == ((4L, 2L, 0.5, 0.75)))
    assert(got(2L) == ((3L, 3L, 0.0, 0.3333))) // floor-quantized 1/3
    assert(!got.contains(3L)) // zero tokens: nothing to repeat, no row
  }

  test("topNgrams counts every occurrence with a deterministic cut") {
    val df = Seq(
      (1L, "a b c a b c"),   // "a b c" ×2, "b c a" ×1, "c a b" ×1
      (2L, "a b c"),         // "a b c" ×1
      (3L, "x y")            // < 3 tokens: no trigrams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.topNgrams(df, "text", n = 3, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a b c", 3L), ("b c a", 1L))) // tie broken by ngram asc
  }

  test("bernoulliSample is deterministic, rate-monotone, and subset-nested") {
    val df = spark.range(0, 400).toDF("doc_id")
    def kept(k: Int) = Sampling.bernoulliSample(df, "doc_id", k)
      .collect().map(_.getLong(0)).toSet
    val k4 = kept(4)
    assert(kept(4) == k4)                       // same data → same sample
    assert(k4.subsetOf(kept(8)))                // raising the rate only adds
    assert(kept(16).size == 400)                // 16/16 keeps everything
    assert(k4.size > 40 && k4.size < 160)       // ~25% of 400, loose bounds
  }

  test("quotaSample takes min(quota, stratum size) per stratum via WindowGroupLimit") {
    val df = spark.range(0, 300)
      .select(col("id").as("doc_id"),
        (col("id") % 3).cast("string").as("stratum"))
    val sampled = Sampling.quotaSample(df, "doc_id", "stratum", quota = 10)
    val counts = sampled.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("0" -> 10L, "1" -> 10L, "2" -> 10L))
    val ranks = sampled.select("sample_rank").collect().map(_.getInt(0))
    assert(ranks.min == 1 && ranks.max == 10)
    // a tiny stratum is taken whole
    val small = Sampling.quotaSample(
      df.filter(col("doc_id") < 4), "doc_id", "stratum", quota = 10)
    assert(small.count() == 4)
    // the rank<=k shape must hit Spark's map-side group-limit optimization
    assert(sampled.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("temperatureMix upweights rare domains, is deterministic, and caps rates at 1") {
    // 640 docs in domain A vs 40 in B: with alpha = 0.5 the weight ratio is
    // sqrt(16) = 4, so B's keep RATE must exceed A's by ~4x (multinomial
    // rebalancing), while plain proportional sampling would keep the rates
    // equal
    val df = spark.range(0, 680)
      .select(col("id").as("doc_id"),
        when(col("id") < 640, "A").otherwise("B").as("domain"))
    val mixed = Sampling.temperatureMix(df, "doc_id", "domain",
      targetFrac = 0.5)
    val counts = mixed.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rateA = counts("A") / 640.0
    val rateB = counts.getOrElse("B", 0L) / 40.0
    assert(rateB > 2.0 * rateA,
      s"rare domain must sample at a higher rate: A=$rateA B=$rateB")
    assert(counts("B") <= 40, "rate must cap at 1 (never oversample)")
    // deterministic: same data -> same kept set, regardless of layout
    val again = Sampling.temperatureMix(df.repartition(7), "doc_id", "domain",
      targetFrac = 0.5).collect().map(_.getLong(0)).toSet
    assert(again == mixed.collect().map(_.getLong(0)).toSet)
    // output keeps the input schema only (helper columns dropped)
    assert(mixed.columns.toSeq == Seq("doc_id", "domain"))
  }

  test("IncrementalAgg: batched replay == one-shot; empty delta is a no-op; new keys arrive") {
    import graft.operators.IncrementalAgg
    val state = Artifacts.dir("aggstate").toString + "/s"
    val df = spark.range(0, 300)
      .select(col("id").as("k0"), (col("id") % 3).cast("string").as("key"),
        (col("id") * 7 % 100).as("v"))
    def snap() = IncrementalAgg.readState(spark, state)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).longValue(), r.getLong(3))).sortBy(_._1).toSeq
    // three uneven batches
    IncrementalAgg.refresh(spark, state, df.filter(col("k0") < 50), "key", "v")
    IncrementalAgg.refresh(spark, state,
      df.filter(col("k0") >= 50 && col("k0") < 60), "key", "v")
    IncrementalAgg.refresh(spark, state, df.filter(col("k0") >= 60), "key", "v")
    val replayed = snap()
    val oneShot = df.groupBy("key")
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("vsum"), max(col("v")).as("vmax"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(replayed == oneShot, s"replay $replayed != one-shot $oneShot")
    // empty delta changes nothing
    IncrementalAgg.refresh(spark, state, df.filter(col("k0") < 0), "key", "v")
    assert(snap() == replayed)
    // a batch with an unseen key adds exactly that key's row
    val extra = Seq(("zz", 5L)).toDF("key", "v")
    val after = IncrementalAgg.refresh(spark, state, extra, "key", "v")
    assert(after.count() == 4 &&
      after.filter(col("key") === "zz").select("cnt").head.getLong(0) == 1L)
    IncrementalAgg.reset(spark, state)
  }

  test("IncrementalAgg versioned commits: crash garbage is inert; stale batchIds skip") {
    import graft.operators.IncrementalAgg
    val state = Artifacts.dir("aggver").toString + "/s"
    def snap() = IncrementalAgg.readState(spark, state)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    IncrementalAgg.refreshOnce(spark, state,
      Seq(("a", 1L)).toDF("key", "v"), "key", "v", batchId = 0L)
    IncrementalAgg.refreshOnce(spark, state,
      Seq(("a", 1L), ("b", 2L)).toDF("key", "v"), "key", "v", batchId = 1L)
    val committed = snap()
    assert(committed == Seq(("a", 2L), ("b", 1L)))
    assert(IncrementalAgg.latestVersion(spark, state).contains(1L))
    // a crashed attempt's staging dir must neither count as committed
    // state nor break the next commit (it is simply overwritten)
    val tmp = new java.io.File(s"$state/.tmp-5"); tmp.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$state/.tmp-5/garbage"), "partial write")
    assert(snap() == committed, "staging garbage must be invisible to reads")
    IncrementalAgg.refreshOnce(spark, state,
      Seq(("c", 9L)).toDF("key", "v"), "key", "v", batchId = 5L)
    assert(snap() == Seq(("a", 2L), ("b", 1L), ("c", 1L)))
    assert(IncrementalAgg.latestVersion(spark, state).contains(5L))
    // replays of any batchId AT OR BELOW the committed horizon are no-ops
    // even though their version dirs were pruned (ids are monotone under
    // Structured Streaming's replay contract)
    IncrementalAgg.refreshOnce(spark, state,
      Seq(("ghost", 1L)).toDF("key", "v"), "key", "v", batchId = 0L)
    IncrementalAgg.refreshOnce(spark, state,
      Seq(("ghost", 1L)).toDF("key", "v"), "key", "v", batchId = 5L)
    assert(snap() == Seq(("a", 2L), ("b", 1L), ("c", 1L)),
      "stale batchIds must never re-merge")
    IncrementalAgg.reset(spark, state)
  }

  test("IncrementalAgg: legacy flat-parquet state migrates, never re-bootstraps") {
    import graft.operators.IncrementalAgg
    val state = Artifacts.dir("agglegacy").toString + "/s"
    // fabricate the pre-versioning layout: part files at the root plus the
    // old write-then-marker scheme's replay marker at horizon 3
    Seq(("a", 2L, java.math.BigDecimal.valueOf(10.50), 7L),
        ("b", 1L, java.math.BigDecimal.valueOf(3.00), 3L))
      .toDF("key", "cnt", "vsum", "vmax")
      .select(col("key"), col("cnt"),
        col("vsum").cast(org.apache.spark.sql.types.DecimalType(38, 2)).as("vsum"),
        col("vmax"))
      .write.mode("overwrite").parquet(state)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$state/_batch_3"))
    // first touch migrates: latest version = legacy horizon, state intact
    assert(IncrementalAgg.latestVersion(spark, state).contains(3L))
    def snap() = IncrementalAgg.readState(spark, state)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).doubleValue(), r.getLong(3))).sortBy(_._1).toSeq
    assert(snap() == Seq(("a", 2L, 10.5, 7L), ("b", 1L, 3.0, 3L)))
    assert(!new java.io.File(s"$state/_batch_3").exists,
      "legacy markers must be swept")
    // a replay AT the legacy horizon skips (exactly-once preserved)
    IncrementalAgg.refreshOnce(spark, state,
      Seq(("ghost", 1L)).toDF("key", "v"), "key", "v", batchId = 3L)
    assert(snap() == Seq(("a", 2L, 10.5, 7L), ("b", 1L, 3.0, 3L)))
    // the next refresh MERGES into migrated state (no re-bootstrap)
    IncrementalAgg.refresh(spark, state, Seq(("a", 4L)).toDF("key", "v"),
      "key", "v")
    assert(snap() == Seq(("a", 3L, 14.5, 7L), ("b", 1L, 3.0, 3L)),
      "migrated legacy state must merge, not be discarded")
    IncrementalAgg.reset(spark, state)
  }

  test("tokenBudgetSample: budget cut with ≤1-doc overshoot, nonempty strata") {
    val df = spark.range(0, 100).select(col("id").as("doc_id"),
      (col("id") % 2).cast("string").as("stratum"), lit(50L).as("n_tokens"))
    val got = Sampling.tokenBudgetSample(df, "doc_id", "stratum", "n_tokens",
      budget = 200)
    val counts = got.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("0" -> 4L, "1" -> 4L)) // 4 × 50 tokens fill 200 exactly
    assert(got.agg(max("cum_tokens")).collect().head.getLong(0) == 200L)
    // a budget below one document still takes the stratum's first doc
    val tiny = Sampling.tokenBudgetSample(df, "doc_id", "stratum", "n_tokens",
      budget = 10)
    assert(tiny.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("0" -> 1L, "1" -> 1L))
    // deterministic: same input → same kept set
    val again = Sampling.tokenBudgetSample(df, "doc_id", "stratum", "n_tokens",
      budget = 200).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == got.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("writeSharded: deterministic layout, shard pruning, lossless roundtrip") {
    import graft.sources.Sinks
    val df = spark.range(0, 64).select(col("id").as("doc_id"),
      (col("id") * 7 % 13).as("payload"))
    val tmp = Artifacts.dir("shards_spec").toString
    Sinks.writeSharded(df, tmp, "doc_id", nShards = 4)
    val back = Sinks.readSharded(spark, tmp)
    // lossless: same rows, shard = id % 4
    val rows = back.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("payload"), r.getAs[Int]("shard")))
    assert(rows.length == 64)
    assert(rows.forall { case (id, p, s) => s == (id % 4) && p == id * 7 % 13 })
    // exactly one directory per shard, addressable without an index
    val dirs = new java.io.File(tmp).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.sorted.toSeq == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    // a shard filter prunes to one partition directory at the scan
    val pruned = back.filter(col("shard") === 2)
    assert(pruned.count() == 16)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("shard"))
  }

  test("iqrFilter drops per-stratum outliers and keeps inliers") {
    // stratum a: 20 values around 10 plus a huge outlier; b: tight cluster
    val a = (1L to 20L).map(i => (i, "a", 10L + (i % 3)))
    val rows = a :+ ((99L, "a", 1000L)) :+ ((100L, "b", 5L)) :+ ((101L, "b", 6L))
    val df = rows.toDF("doc_id", "stratum", "v")
    val kept = TextAnalysis.iqrFilter(df, "stratum", "v")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(99L))             // the outlier is fenced out
    assert((1L to 20L).forall(kept.contains)) // inliers survive
    assert(kept.contains(100L) && kept.contains(101L))
  }

  test("withGlobalRowNumber: contiguous global ranks equal the naive global window") {
    import graft.operators.GlobalOrder
    import org.apache.spark.sql.expressions.Window
    // keys with ties on the first column so the tiebreaker and the
    // no-straddle range partitioning are both exercised
    val df = spark.range(0, 500).select(
      (col("id") % 37).as("k"), col("id").as("tie"))
    val got = GlobalOrder.withGlobalRowNumber(df, Seq("k", "tie"), nPartitions = 7)
      .select(col("k"), col("tie"), col("global_rn"))
    val naive = df.withColumn("global_rn",
      row_number().over(Window.orderBy(col("k"), col("tie"))).cast("long"))
    assert(got.count() == 500)
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
    // contiguity: ranks are exactly 1..n
    assert(got.agg(min("global_rn"), max("global_rn"), countDistinct("global_rn"))
      .collect().head.toSeq == Seq(1L, 500L, 500L))
  }

  test("embeddingNearDups finds parallel vectors") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f, 0.0f)),   // parallel to 1 -> cosine 1
      (3L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("banded embeddingNearDups matches exact all-pairs on planted near-dups") {
    // real embeddings + planted jittered copies (cosine ≈ 0.999)
    val base = Tables.embeddings(spark, sf).limit(100)
      .select($"vec_id", $"embedding")
    val planted = base.filter(pmod($"vec_id", lit(10)) === 0)
      .select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding", x => x * 1.001f + 0.0001f).as("embedding"))
    val emb = base.union(planted)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = pairs(Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.95))
    val exact = pairs(Dedup.embeddingNearDupsExact(emb, "vec_id", "embedding", 0.95))
    assert(exact.nonEmpty)          // the planted copies are really there
    assert(banded == exact)         // full recall on true near-dups
  }

  test("semDedup: within-cluster pairs only; min-id representative survives") {
    val cents = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f))).toDF("cell_id", "centroid")
    val emb = Seq(
      (1L, Array(1f, 0.05f, 0f, 0f)),   // cell 0
      (2L, Array(1f, 0.06f, 0f, 0f)),   // cell 0, near-dup of 1
      (3L, Array(0.05f, 1f, 0f, 0f)),   // cell 1
      (4L, Array(0.06f, 1f, 0f, 0f)),   // cell 1, near-dup of 3
      (5L, Array(0.5f, 0.5f, 0f, 0f))   // lone member, no near-dup anywhere
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.semDedupPairs(emb, "vec_id", "embedding", cents, 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
    val kept = Dedup.semDedup(emb, "vec_id", "embedding", cents, 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L))
  }

  test("dropEmbeddingNearDups keeps one representative per vector cluster") {
    val base = Tables.embeddings(spark, sf).limit(50)
      .select($"vec_id", $"embedding")
    val planted = base.filter($"vec_id" < 5)
      .select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding", x => x * 1.001f).as("embedding"))
    val kept = Dedup.dropEmbeddingNearDups(base.union(planted),
        "vec_id", "embedding", 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // originals win (lower id); their jittered copies are dropped
    assert((0L until 5L).forall(kept.contains))
    assert(!kept.exists(_ >= 100000L))
    assert(kept.size == 50)
  }

  test("embeddingNearDups plan joins on band keys, not a nested-loop product") {
    val emb = Tables.embeddings(spark, sf)
    val plan = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.95)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("bruteForceTopK: correct neighbors, self excluded, rank deterministic") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val probes = emb.filter($"vec_id" === 0L)
    val got = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 3)
      .orderBy("rank").select("neighbor_id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 2L, 3L)) // by decreasing cosine to (1,0)
  }

  test("srpTopK returns correctly-ranked subset of brute-force candidates") {
    val emb = Tables.embeddings(spark, sf)
    val probes = emb.filter(pmod($"vec_id", lit(100)) === 0)
    val got = Similarity.srpTopK(emb, probes, "vec_id", "embedding", k = 3,
        bands = 8, bitsPerBand = 4)
      .collect()
    assert(got.nonEmpty)
    // ranks are 1..k per probe, cosine non-increasing within probe
    got.groupBy(_.getAs[Long]("probe_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val cos = sorted.map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("contaminationScores: full, partial, zero and shingle-less overlap") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // identical → 1.0
      (2L, "the quick brown fox went somewhere else entirely today"), // shares a prefix
      (3L, "completely unrelated words about something different"),   // 0.0
      (4L, "two words")                                               // no shingles
    ).toDF("doc_id", "text")
    val got = graft.operators.Contamination
      .contaminationScores(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L)._3 == 1.0)
    assert(got(2L)._3 > 0.0 && got(2L)._3 < 1.0) // "the quick brown"/"quick brown fox"
    assert(got(3L) == ((4L, 0L, 0.0))) // 6 tokens → 4 trigram shingles
    assert(got(4L) == ((0L, 0L, 0.0)))
    val kept = graft.operators.Contamination
      .decontaminate(corpus, bench, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L, 3L, 4L))
  }

  test("packTokens: per-shard offsets are contiguous, pack = offset div budget") {
    // one shard (nShards=1), crafted token counts 3,4,5,6 → offsets 0,3,7,12
    val docs = Seq(
      (0L, "a b c"), (1L, "a b c d"), (2L, "a b c d e"), (3L, "a b c d e f")
    ).toDF("doc_id", "text")
    val got = graft.operators.Packing
      .packTokens(docs, "doc_id", "text", budget = 5, nShards = 1)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getAs[Long]("token_offset"),
        r.getAs[Long]("pack_id")))
    assert(got.toSeq == Seq((0L, 0L, 0L), (1L, 3L, 0L), (2L, 7L, 1L), (3L, 12L, 2L)))
    // sharded: offsets restart per shard
    val sharded = graft.operators.Packing
      .packTokens(docs, "doc_id", "text", budget = 5, nShards = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getAs[Long]("shard"),
        r.getAs[Long]("token_offset")))
    assert(sharded.toSeq == Seq((0L, 0L, 0L), (1L, 1L, 0L), (2L, 0L, 3L), (3L, 1L, 4L)))
  }

  test("kmeansCentroids: k cells, deterministic across runs, recovers planted clusters") {
    // three tight planted clusters around orthogonal axes
    def jitter(base: Array[Float], i: Int): Array[Float] =
      base.zipWithIndex.map { case (v, j) => v + 0.01f * ((i + j) % 3) }
    val data = (0 until 30).map { i =>
      val base = (i % 3) match {
        case 0 => Array(1f, 0f, 0f)
        case 1 => Array(0f, 1f, 0f)
        case _ => Array(0f, 0f, 1f)
      }
      (i.toLong, jitter(base, i))
    }.toDF("vec_id", "embedding")
    val c1 = Similarity.kmeansCentroids(data, "vec_id", "embedding", k = 3, iters = 3)
      .orderBy("cell_id").collect().map(r => r.getSeq[Float](1).toSeq)
    val c2 = Similarity.kmeansCentroids(data, "vec_id", "embedding", k = 3, iters = 3)
      .orderBy("cell_id").collect().map(r => r.getSeq[Float](1).toSeq)
    assert(c1.length == 3)
    assert(c1.toSeq == c2.toSeq) // seeded draw + fixed iteration → deterministic
    // each trained centroid points dominantly along one distinct axis
    val axes = c1.map(_.zipWithIndex.maxBy(_._1)._2).toSet
    assert(axes == Set(0, 1, 2))
  }

  test("Bloom-prescreened decontamination == exact path; prescreen actually prunes") {
    import graft.operators.Contamination
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sf)
    val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 3)
    val corpus = docs.filter(pmod(col("doc_id"), lit(97)) =!= 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.floor(r.getDouble(3) * 1e9))).sortBy(_._1).toSeq
    val exact = rows(Contamination.contaminationScores(
      corpus, bench, "doc_id", "text"))
    val bloom = rows(Contamination.contaminationScoresBloom(
      corpus, bench, "doc_id", "text"))
    // no false negatives (Bloom) + confirm join kills false positives ⇒
    // per-doc scores identical
    assert(bloom == exact)
    // the prescreen must genuinely shrink the confirm join's input: with a
    // benchmark containing NONE of the corpus shingles (planted disjoint
    // vocab), survivors are fpp-bounded — far below the corpus shingles
    val alien = Seq((1L, "qqxx yyzz wwvv uuaa bbcc ddee ffgg hhii"))
      .toDF("doc_id", "text")
    val zeroed = rows(Contamination.contaminationScoresBloom(
      corpus, alien, "doc_id", "text"))
    assert(zeroed.forall(_._3 == 0L), "disjoint benchmark must match nothing")
    // EMPTY benchmark (no bloom at all): every doc scores 0-of-n; a null
    // text scores 0-of-0 (no null n_shingles), and a STRING id survives
    // the empty-frame join without coercion
    val strCorpus = Seq(("alpha", "the cat sat on the mat today"),
        ("beta", null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val emptyBench = strCorpus.filter(lit(false))
    val emptied = Contamination.contaminationScoresBloom(
        strCorpus, emptyBench, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq
    assert(emptied == Seq(("alpha", 5L, 0L, 0.0), ("beta", 0L, 0L, 0.0)))
    // the UNHINTED confirm variant (the leakFreeSplit path for a
    // corpus-sized bench side) is result-identical to both
    val (b, bb) = Contamination.prepBenchmark(bench, "text")
    val shuffled = rows(Contamination.contaminationScoresPreppedShuffled(
      corpus, b, bb, "doc_id", "text"))
    assert(shuffled == exact)
  }

  test("ctLangId: rank-order classification recovers planted language signal") {
    graft.functions.GraftFunctions.register(spark)
    // char_ngrams: sliding codepoint grams, lowercased, multiplicity kept
    val g = Seq("AbCd").toDF("t")
      .select(graft.functions.GraftFunctions.charNgramsOf(col("t"), 3).as("g"))
      .head.getSeq[String](0)
    assert(g == Seq("abc", "bcd"))
    // CJK codepoints gram correctly (the zh plant path)
    val zh = Seq("的一是不").toDF("t")
      .select(graft.functions.GraftFunctions.charNgramsOf(col("t"), 3).as("g"))
      .head.getSeq[String](0)
    assert(zh == Seq("的一是", "一是不"))
    // two planted languages with disjoint function words classify exactly
    val docs = Seq(
      (1L, "en", "the cat and the dog in the house of the king"),
      (2L, "en", "it was the end of the day and the rain"),
      (3L, "xx", "zuz qex zuz qex vov zuz qex vov zuz qex"),
      (4L, "xx", "vov zuz qex vov zuz qex zuz vov qex zuz"))
      .toDF("doc_id", "lang", "text")
    val pred = TextAnalysis.ctLangId(docs, "doc_id", "text", "lang", 20)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(pred == Seq((1L, "en"), (2L, "en"), (3L, "xx"), (4L, "xx")))
  }

  test("ctLangId plan: doc profile is row-local (no corpus gram shuffle)") {
    graft.functions.GraftFunctions.register(spark)
    // char_ngram_counts: distinct grams pre-sorted (count DESC, gram ASC)
    val cnt = Seq("ababa").toDF("t")
      .select(graft.functions.GraftFunctions.charNgramCountsOf(col("t"), 3).as("gc"))
      .selectExpr("explode(gc) as e").selectExpr("e.g", "e.c")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(cnt == Seq(("aba", 2L), ("bab", 1L)))
    val docs = Seq(
      (1L, "en", "the cat and the dog in the house of the king"),
      (2L, "xx", "zuz qex zuz qex vov zuz qex vov zuz qex"))
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.ctLangId(docs, "doc_id", "text", "lang", 20)
    val plan = out.queryExecution.executedPlan.toString
    // the serving plan re-reads the checkpointed histograms — the gram
    // kernel itself must not appear (it ran exactly once, at checkpoint)
    assert(!plan.contains("char_ngram"),
      s"gram kernel leaked into the serving plan:\n$plan")
    // doc profiles come from a slice of the pre-ranked histogram: the
    // only Window left is the per-doc argmin over |langs| rows
    val windows = "\\bWindow\\b".r.findAllIn(plan).length
    assert(windows == 1, s"expected exactly the argmin window, got $windows:\n$plan")
  }

  test("BPE apply: boundary-aware greedy merges on known vocab") {
    def toks(w: String, merges: Seq[(String, String)]): Seq[String] =
      Seq(w).toDF("w")
        .select(TextAnalysis.bpeApply(col("w"), merges).as("t"))
        .head.getSeq[String](0)
    // ordered merges compose: (l,o) then (lo,w) builds the 3-char symbol
    assert(toks("lower", Seq(("l", "o"), ("lo", "w"))) == Seq("low", "e", "r"))
    // left-to-right NON-OVERLAPPING within one merge pass
    assert(toks("aaa", Seq(("a", "a"))) == Seq("aa", "a"))
    // boundary-aware: after (a,b) merges, the b is INSIDE the symbol "ab"
    // and a later (b,c) merge must not fire across the boundary
    assert(toks("abc", Seq(("a", "b"), ("b", "c"))) == Seq("ab", "c"))
    // empty merge list tokenizes to characters
    assert(toks("ab", Nil) == Seq("a", "b"))
  }

  test("BPE learn: deterministic pair picks; learn-then-apply round-trips") {
    graft.functions.GraftFunctions.register(spark)
    val docs = Seq("aaab aaab aaab").toDF("text")
    // pairs in "aaab": (a,a)×2, (a,b)×1, ×3 docs-words → (a,a)=6 wins;
    // after merging: [aa,a,b] → (aa,a)=3 ties (a,b)=3 → lexicographic
    // a < aa picks (a,b)
    val merges = TextAnalysis.bpeLearnCollected(docs, "text", numMerges = 2)
    assert(merges == Seq(("a", "a"), ("a", "b")))
    val rows = TextAnalysis.bpeTokenize(
        Seq((1L, "aaab aaab"), (2L, "ab")).toDF("doc_id", "text"),
        "doc_id", "text", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // "aaab" → [aa, ab] (2 tokens); "ab" → [ab]
    assert(rows == Seq((1L, 2L, 4L), (2L, 1L, 1L)))
    // plan pin: the corpus side explodes the row-local word HISTOGRAM
    // (per-(doc, distinct word) rows), never per-token rows
    val plan = TextAnalysis.bpeTokenize(
        Tables.documents(spark, sf), "doc_id", "text", merges)
      .queryExecution.executedPlan.toString
    assert(plan.contains("word_counts"),
      s"corpus side must explode the row-local histogram:\n$plan")
    assert(!plan.contains("split("),
      s"a per-token split explode leaked into the tokenize plan:\n$plan")
  }

  test("BPE learn: driver vocab bound — identical picks on the real corpus") {
    // the distributed-side truncation (minFreq / top-maxVocab) exists to
    // bound the collect at 100 TB; on a corpus whose vocabulary fits the
    // cap the merge picks must be IDENTICAL to the unbounded defaults
    val docs = Tables.documents(spark, sf)
    val unbounded = TextAnalysis.bpeLearnCollected(docs, "text", numMerges = 5)
    val bounded = TextAnalysis.bpeLearnCollected(docs, "text", numMerges = 5,
      minFreq = 1L, maxVocab = 100000)
    assert(bounded == unbounded)
    // a cap SMALLER than the vocab learns only from the most frequent
    // words — still deterministic, still non-empty
    val tight = TextAnalysis.bpeLearnCollected(docs, "text", numMerges = 5,
      minFreq = 1L, maxVocab = 10)
    assert(tight.nonEmpty && tight == TextAnalysis.bpeLearnCollected(
      docs, "text", numMerges = 5, minFreq = 1L, maxVocab = 10))
    // the truncation happens DISTRIBUTED-side: the collected plan is a
    // map-side top-k, never a full-vocab global sort
    val plan = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab cut must be a top-k, not a global sort:\n$plan")
  }

  test("kmeansRound/pqRound: row-local assignment — no Exchange before the partial means") {
    val emb = Tables.embeddings(spark, sf)
    val kc = Similarity.kmeansCentroidsCollected(
      emb, "vec_id", "embedding", k = 4, iters = 1)
    val kp = Similarity.kmeansRound(emb, "embedding", kc)
      .queryExecution.executedPlan.toString
    // the codebook is baked into the projection: corpus rows are never
    // shuffled for assignment — the only exchanges move partial means
    assert(!kp.contains("Window"), "assignment must not use a per-row window")
    assert(!kp.contains("Join"), "assignment must not join the codebook")
    assert("Exchange hashpartitioning".r.findAllIn(kp).size == 2,
      s"expected exactly the two mean-aggregate exchanges, got:\n$kp")
    val pc = Similarity.pqTrainNormalizedCollected(
      emb, "vec_id", "embedding", m = 8, ksub = 4, iters = 1)
    val dim = 64; val sd = dim / 8
    val sub = emb.select(col("vec_id").as("__vid"),
        posexplode(transform(sequence(lit(0), lit(7)),
          i => slice(col("embedding"), i * sd + 1, lit(sd)))))
      .toDF("__vid", "sub_id", "sv")
    val pp = Similarity.pqRound(sub, pc)
      .queryExecution.executedPlan.toString
    assert(!pp.contains("Window"), "PQ assignment must not use a per-row window")
    assert(!pp.contains("Join"), "PQ assignment must not join the codebook")
    assert("Exchange hashpartitioning".r.findAllIn(pp).size == 2,
      s"expected exactly the two mean-aggregate exchanges, got:\n$pp")
    // the SERVING side reuses the kernel: IVF corpus assignment is the
    // row-local expression, not a crossJoin+window
    val sp = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", k = 3)
      .queryExecution.executedPlan.toString
    assert(sp.contains("nearest_cell_f32"),
      "IVF corpus assignment must use the reference-object kernel")
  }

  test("ivfTopKKMeans produces complete ranked neighbors per probe") {
    val emb = Tables.embeddings(spark, sf)
    val probes = emb.filter(pmod($"vec_id", lit(200)) === 0)
    val rows = Similarity.ivfTopKKMeans(emb, probes, "vec_id", "embedding",
        k = 3, nProbe = 6).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("probe_id") != r.getAs[Long]("neighbor_id")))
  }

  test("ivfTopK produces ranked neighbors per probe") {
    val emb = Tables.embeddings(spark, sf)
    val probes = emb.filter(pmod($"vec_id", lit(200)) === 0)
    val got = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", k = 3)
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("probe_id") != r.getAs[Long]("neighbor_id")))
  }

  test("Classifier: logistic GD recovers a planted linear rule; scoring is row-local") {
    import graft.operators.Classifier
    // two features on wildly different scales (standardization must make
    // the fixed learning rate work anyway); y = 1 iff 3*x1 - x2/100 > 1
    val rows = (0 until 400).map { i =>
      val x1 = (i % 20) * 0.1          // 0.0 .. 1.9
      val x2 = ((i * 7) % 400) * 1.0   // 0 .. 399
      (i.toLong, x1, x2, if (3 * x1 - x2 / 100.0 > 1.0) 1 else 0)
    }
    val df = rows.toDF("id", "x1", "x2", "y")
    assert(rows.count(_._4 == 1) > 50 && rows.count(_._4 == 0) > 50)
    val w = Classifier.logisticTrain(df, Seq("x1", "x2"), "y",
      iters = 60, learningRate = 1.0)
    // sign recovery: positive on x1, negative on x2
    assert(w(1) > 0 && w(2) < 0, w.toSeq.toString)
    // the collected trainer is the same algebra run locally: same signs,
    // same separation (bitwise weights differ — float order); cap honored
    val wc = Classifier.logisticTrainCollected(df, Seq("x1", "x2"), "y",
      iters = 60, learningRate = 1.0)
    assert(wc(1) > 0 && wc(2) < 0, wc.toSeq.toString)
    intercept[IllegalArgumentException] {
      Classifier.logisticTrainCollected(df, Seq("x1", "x2"), "y",
        iters = 1, maxRows = 100)
    }
    // null feature/label cells are dropped up front (same signs), and an
    // all-null set fails with an actionable message, not a bare NPE
    val withNulls = df.select(col("id"),
      when(col("id") % 50 === 0, lit(null)).otherwise(col("x1")).as("x1"),
      col("x2"),
      when(col("id") % 70 === 0, lit(null)).otherwise(col("y")).as("y"))
    val wn = Classifier.logisticTrainCollected(withNulls, Seq("x1", "x2"), "y",
      iters = 60, learningRate = 1.0)
    assert(wn(1) > 0 && wn(2) < 0, wn.toSeq.toString)
    val wnd = Classifier.logisticTrain(withNulls, Seq("x1", "x2"), "y",
      iters = 20, learningRate = 1.0)
    assert(wnd(1) > 0 && wnd(2) < 0, wnd.toSeq.toString)
    val allNull = df.select(col("id"), lit(null).cast("double").as("x1"),
      col("x2"), col("y"))
    val eEmpty = intercept[IllegalArgumentException] {
      Classifier.logisticTrain(allNull, Seq("x1", "x2"), "y", iters = 1)
    }
    assert(eEmpty.getMessage.contains("empty training set"), eEmpty.getMessage)
    val eEmptyC = intercept[IllegalArgumentException] {
      Classifier.logisticTrainCollected(allNull, Seq("x1", "x2"), "y", iters = 1)
    }
    assert(eEmptyC.getMessage.contains("empty training set"), eEmptyC.getMessage)
    // separable data → near-perfect training accuracy
    val acc = df.select(
        avg(when((Classifier.logisticScore(Seq("x1", "x2"), w) > 0.5)
          .cast("int") === col("y"), 1.0).otherwise(0.0)))
      .head.getDouble(0)
    assert(acc >= 0.97, s"accuracy $acc")
    // scoring plan: a pure per-row projection — no join, no exchange
    val plan = df.select(Classifier.logisticScore(Seq("x1", "x2"), w).as("p"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"scoring must be a narrow map:\n$plan")
  }

  test("perceptualHash64: sign bits MSB-first; clones collide, strangers far apart") {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.Multimodal
    // known vector: bit i = sign of feature i, folded MSB-first
    val f = Array.tabulate(64)(i => if (i % 3 == 0) 1.0f else -1.0f)
    val expected = (63 to 0 by -1).foldLeft(0L) { (acc, i) =>
      (acc << 1) | (if (i % 3 == 0) 1L else 0L)
    }
    val got = Seq(Tuple1(f)).toDF("features")
      .select(Multimodal.perceptualHash64(col("features"))).head.getLong(0)
    assert(got == expected, f"got=$got%x expected=$expected%x")
    // corpus-level: identical texts → Hamming 0; distinct texts ~32 bits
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .limit(50)
    val sig = Multimodal.extractFeatures(Multimodal.assetsFromDocuments(
        docs.select(col("doc_id"), concat(md5(col("text")), col("text")).as("text"))))
      .toDF().select(col("asset_id"),
        Multimodal.perceptualHash64(col("features")).as("sh"))
    val dists = sig.as("a").crossJoin(sig.as("b"))
      .filter(col("a.asset_id") < col("b.asset_id"))
      .select(graft.functions.GraftFunctions
        .hamming64(col("a.sh"), col("b.sh")).as("h"))
      .agg(min("h"), avg("h")).head
    assert(dists.getInt(0) > 10, s"distinct docs too close: ${dists.getInt(0)}")
    assert(math.abs(dists.getDouble(1) - 32.0) < 8.0)
  }

  test("repetitionSignals: spam concentrates, varied text passes; row-local plan") {
    graft.functions.GraftFunctions.register(spark)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near a river bank today"),
      (2L, "spam spam click here spam spam click here spam spam click here"),
      (3L, "one two"), // no 5-grams: dup5 vacuously 0, flags pass
      (4L, "x")        // no 2-grams either
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(5),
        r.getBoolean(9))).toSeq
    // doc 1: "the" twice gives top2=1 (all 2-grams distinct? "the lazy"/
    // "the quick" differ) → keep; doc 2: "spam spam" dominates → reject
    assert(got(0)._4, got.toString)   // varied text keeps
    assert(!got(1)._4, got.toString)  // spam rejected
    assert(got(1)._2 >= 3)            // top 2-gram multiplicity high
    // tiny docs: a 2-token doc's single 2-gram is trivially 100%
    // concentrated (fraction rules degenerate below Gopher's ≥50-word
    // gate — compose with gopherRules' ok_count); a 1-token doc has no
    // n-grams at all and passes vacuously
    assert(got(2) == (3L, 1L, 0L, false) && got(3) == (4L, 0L, 0L, true))
    // the whole audit is one narrow map: no Exchange except the orderBy
    val plan = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"repetition audit must be row-local:\n$plan")
  }

  test("unigramCrossEntropy: gibberish surprises, common text does not") {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.Sampling
    val base = "the cat sat on the mat and the dog ran"
    val docs = ((1L to 10L).map(i => (i, Option(base))) ++ Seq(
      (99L, Option("qqz1 qqz2 qqz3 qqz4 qqz5")),
      (100L, Option("")), (101L, Option.empty[String])))
      .toDF("doc_id", "text")
    val scored = Sampling.unigramCrossEntropy(docs, "doc_id", "text",
        buckets = 512)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // the OOV doc is strictly more surprising than every common doc
    val gib = scored(99L)
    assert((1L to 10L).forall(i => scored(i) < gib), scored.toString)
    // and by a wide margin: near-empty buckets cost ~ -log(alpha/total)
    assert(gib > scored(1L) + 1.0)
    // token-less docs are present and maximally surprising (+Inf): a
    // perplexity filter drops them instead of never seeing them
    assert(scored(100L) == Double.PositiveInfinity &&
      scored(101L) == Double.PositiveInfinity, scored.toString)
  }

  test("dsirScores: target-affine docs outrank, length-normalized by default") {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.Sampling
    val base = "the cat sat on the mat and the dog ran"
    val target = (0 until 20)
      .map(i => (1000L + i, s"$base zz xx vv")).toDF("doc_id", "text")
    // source: two target-affine docs (one SHORT, one LONG) + long plain docs
    val source = ((Seq(
      (1L, s"$base zz xx vv"),
      (2L, (base + " ") * 20 + "zz xx vv")) ++
      (3L to 12L).map(i => (i, (base + " ") * 20)))
        .map { case (i, t) => (i, Option(t)) } ++
      // token-less docs must still get a score (0.0), not vanish
      Seq((98L, Option("")), (99L, Option.empty[String])))
      .toDF("doc_id", "text")
    val ranked = Sampling.dsirScores(source, target, "doc_id", "text",
        buckets = 512)
      .orderBy(col("dsir_score").desc, col("doc_id").asc)
      .collect().map(_.getLong(0)).toSeq
    // both affine docs lead regardless of their lengths
    assert(ranked.take(2).toSet == Set(1L, 2L), ranked.toString)
    // every source doc is scored — token-less docs pin to -Inf (present
    // in the output but unselectable by any top-k), so they rank LAST
    assert(ranked.size == 14 && ranked.takeRight(2).toSet == Set(98L, 99L),
      ranked.toString)
    val infScores = Sampling.dsirScores(source, target, "doc_id", "text",
        buckets = 512)
      .filter(col("doc_id") >= 98L)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(infScores == Map(98L -> Double.NegativeInfinity,
      99L -> Double.NegativeInfinity), infScores.toString)
    // the un-normalized likelihood-ratio sum is length-dominated: the
    // SHORT affine doc beats every long doc (fewer negative base tokens)
    val raw = Sampling.dsirScores(source, target, "doc_id", "text",
        buckets = 512, lengthNormalize = false)
      .orderBy(col("dsir_score").desc).collect().map(_.getLong(0)).toSeq
    assert(raw.head == 1L, raw.toString)
  }

  test("mixtureAllocate/Materialize: Hamilton apportionment, caps, WindowGroupLimit") {
    import graft.operators.Sampling
    // budget 10, weights a:3 b:3 c:2 (W=8): bases 3,3,2 (sum 8), two
    // leftovers go to the largest remainders — a and b tie at 30%8=6
    // over c's 20%8=4, so both get +1 (domain order breaks the tie
    // deterministically) → 4,4,2. c's availability then caps 2→1.
    val stats = Seq(("a", 100L), ("b", 100L), ("c", 1L))
      .toDF("dom", "n_avail")
    val weight = when(col("dom") === "c", 2L).otherwise(3L)
    val alloc = Sampling.mixtureAllocate(stats, "dom", weight, budget = 10L)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(alloc == Map("a" -> 4L, "b" -> 4L, "c" -> 1L), alloc.toString)
    // cap binds: an over-weighted scarce domain can't exceed availability
    // (total then lands under budget — the documented single pass)
    val capped = Sampling.mixtureAllocate(stats, "dom",
        when(col("dom") === "c", 8L).otherwise(1L), budget = 10L)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(capped("c") == 1L && capped.values.sum < 10L, capped.toString)
    // materialization: kept counts equal the allocation, ranks are the
    // deterministic (md5, id) order, and the window compiles to the
    // map-side-trimmed WindowGroupLimit (the literal max-alloc bound)
    val docs = Tables.documents(spark, sf)
    val out = Sampling.mixtureMaterialize(docs, "doc_id", "lang",
      when(col("lang") === "zh", 8L).otherwise(1L), budget = 100L)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"mixture cut must compile to WindowGroupLimit:\n$plan")
    val byLang = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = Sampling.mixtureAllocate(
        docs.groupBy(col("lang")).agg(count(lit(1)).as("n_avail")), "lang",
        when(col("lang") === "zh", 8L).otherwise(1L), budget = 100L)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(byLang == expect.filter(_._2 > 0), s"$byLang vs $expect")
  }

  test("jlExtendIndex: batched index == rebuild; replayed batchId is a no-op") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sf)
    val state = Artifacts.dir("jlinc").toString + "/s"
    val cut = emb.agg(org.apache.spark.sql.functions.max(col("vec_id")))
      .head.getLong(0) / 2
    Similarity.jlExtendIndex(spark, state,
      emb.filter(col("vec_id") <= cut), "vec_id", "embedding", batchId = 0L)
    Similarity.jlExtendIndex(spark, state,
      emb.filter(col("vec_id") > cut), "vec_id", "embedding", batchId = 1L)
    val n1 = graft.operators.IncrementalAgg.readState(spark, state).count()
    // replay: nothing merges
    Similarity.jlExtendIndex(spark, state,
      emb.filter(col("vec_id") > cut), "vec_id", "embedding", batchId = 1L)
    assert(graft.operators.IncrementalAgg.readState(spark, state).count() == n1)
    // row-for-row equality with the one-shot build (projection row-local)
    val idx = graft.operators.IncrementalAgg.readState(spark, state)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val rebuilt = Similarity.jlBuildIndex(emb, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(idx == rebuilt)
    // the same delta under a NEW batchId is an id overlap — the monotone
    // guard must refuse it (a silent bag-union would duplicate neighbors)
    val e = intercept[IllegalArgumentException] {
      Similarity.jlExtendIndex(spark, state,
        emb.filter(col("vec_id") > cut), "vec_id", "embedding", batchId = 2L)
    }
    assert(e.getMessage.contains("append-only"), e.getMessage)
    assert(graft.operators.IncrementalAgg.readState(spark, state).count() == n1)
    graft.operators.IncrementalAgg.reset(spark, state)
  }

  test("signalBundle: one narrow pass — no Exchange, no Join; signals agree with singles") {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sf)
    val out = TextAnalysis.signalBundle(docs, "doc_id", "text")
    // THE point of the bundle: every signal in one scan-stage map
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"signal bundle must be a narrow map:\n$plan")
    // spot-agreement with the single-signal operators on a sample
    val sample = out.orderBy("doc_id").limit(20).collect()
    val lang = docs.select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("l"))
      .orderBy("doc_id").limit(20).collect()
    sample.zip(lang).foreach { case (b, l) =>
      assert(b.getAs[String]("lang_pred") == l.getString(1))
    }
    val score = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("s"))
      .orderBy("doc_id").limit(20).collect()
    sample.zip(score).foreach { case (b, s) =>
      assert(b.getAs[Double]("quality_score") == s.getDouble(1))
    }
  }

  test("leakAttribution: planted leaks attribute to their own anchor; floor binds") {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.Contamination
    val b1 = "alpha beta gamma delta epsilon zeta"
    val b2 = "one two three four five six seven"
    val bench = Seq((100L, b1), (200L, b2)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, b1 + " with a tail"), // carries b1 → attributes to 100
      (2L, "prefix here " + b2), // carries b2 → attributes to 200
      // shares shingles with BOTH; more with b1 → argmax picks 100
      (3L, b1 + " " + "one two three"),
      (4L, "nothing in common at all here")).toDF("doc_id", "text")
    val out = Contamination.leakAttribution(corpus, bench, "doc_id", "text",
        minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(out == Seq((1L, 100L), (2L, 200L), (3L, 100L)), out.toString)
  }

  test("leakFreeSplit: test intact, contaminated train dropped, rest tagged") {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.Contamination
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val out = Contamination.leakFreeSplit(docs, "doc_id", "text",
      testSixteenths = 4)
    val cutoff = "0123456789abcdefg".charAt(4).toString
    val isTest = substring(md5(col("doc_id").cast("string")), 1, 1) < cutoff
    // every test doc survives with split='test'; no train doc is mislabeled
    val test = docs.filter(isTest)
    assert(out.filter(col("split") === "test").count() == test.count())
    assert(out.filter(col("split") === "test")
      .join(test, Seq("doc_id"), "left_anti").count() == 0)
    // dropped train docs are exactly those contaminated by the test side
    val train = docs.filter(!isTest)
    val dirty = Contamination.contaminationScores(train, test,
        "doc_id", "text")
      .filter(col("contamination") >= 0.5)
    assert(out.filter(col("split") === "train").count() ==
      train.count() - dirty.count())
    assert(out.join(dirty.select(col("doc_id")), Seq("doc_id"),
      "left_semi").count() == 0)
  }

  test("mmrTopK: a clone clique yields distinct picks where plain top-k repeats") {
    graft.functions.GraftFunctions.register(spark)
    // probe q; a and its EXACT clone (sim 1) are most relevant; b is
    // slightly less relevant but diverse. Plain top-2 = {a, clone};
    // MMR top-2 must swap the clone for b (clone score 0.5·0.9−0.5·1 < 0,
    // b score 0.5·0.85−0.5·0.54 ≈ +0.16).
    val vecs = Seq(
      (1L, Array(0.9f, 0.436f, 0f)),
      (2L, Array(0.9f, 0.436f, 0f)),
      (3L, Array(0.85f, -0.527f, 0f)),
      (100L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") === 100L)
    val plain = Similarity.bruteForceTopK(vecs, probes, "vec_id", "embedding",
        k = 2)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(plain == Set(1L, 2L), plain.toString)
    val mmr = Similarity.mmrTopK(vecs, probes, "vec_id", "embedding",
        k = 2, poolSize = 3)
      .orderBy("mmr_rank")
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(mmr == Seq((1, 1L), (2, 3L)), mmr.toString)
    // ranks 1..k per probe on real data, no duplicate picks
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.mmrTopK(emb,
      emb.filter(pmod(col("vec_id"), lit(50)) === 0),
      "vec_id", "embedding", k = 3, poolSize = 8)
    val perProbe = out.groupBy("probe_id")
      .agg(count(lit(1)).as("n"),
        count_distinct(col("neighbor_id")).as("nd"),
        max(col("mmr_rank")).as("mx"))
    assert(perProbe.filter(col("n") =!= 3 || col("nd") =!= 3 ||
      col("mx") =!= 3).count() == 0)
  }

  test("ivfExtendIndex: batched index == rebuild; serving equal; overlap refused") {
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sf)
    val state = Artifacts.dir("ivfinc").toString + "/s"
    val cut = emb.agg(org.apache.spark.sql.functions.max(col("vec_id")))
      .head.getLong(0) / 2
    val b0 = emb.filter(col("vec_id") <= cut)
    val b1 = emb.filter(col("vec_id") > cut)
    // quantizer FROZEN from the first snapshot (deltas never retrain)
    val cents = Similarity.centroidsDF(spark,
      Similarity.kmeansCentroidsCollected(b0, "vec_id", "embedding",
        k = 8, iters = 2, seed = 7L))
    Similarity.ivfExtendIndex(spark, state, b0, "vec_id", "embedding",
      cents, batchId = 0L)
    Similarity.ivfExtendIndex(spark, state, b1, "vec_id", "embedding",
      cents, batchId = 1L)
    val n1 = graft.operators.IncrementalAgg.readState(spark, state).count()
    assert(n1 == emb.count())
    // replay: nothing merges
    Similarity.ivfExtendIndex(spark, state, b1, "vec_id", "embedding",
      cents, batchId = 1L)
    assert(graft.operators.IncrementalAgg.readState(spark, state).count() == n1)
    // cell assignment is row-local under a frozen codebook, so the
    // incremental index equals the one-shot build row-for-row
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("neighbor_id", "cell_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val idx = graft.operators.IncrementalAgg.readState(spark, state)
    assert(rows(idx) == rows(
      Similarity.ivfBuildIndex(emb, "vec_id", "embedding", cents)))
    // serving from the committed index == the one-shot IVF path
    val probes = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
    def served(df: org.apache.spark.sql.DataFrame) = df
      .select("probe_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sorted.toSeq
    assert(served(Similarity.ivfTopKFromIndex(idx, cents, probes,
        "vec_id", "embedding", k = 3, nProbe = 3)) ==
      served(Similarity.ivfTopKWith(cents, emb, probes,
        "vec_id", "embedding", k = 3, nProbe = 3)))
    // id overlap under a NEW batchId: the monotone guard refuses
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfExtendIndex(spark, state, b1, "vec_id", "embedding",
        cents, batchId = 2L)
    }
    assert(e.getMessage.contains("append-only"), e.getMessage)
    graft.operators.IncrementalAgg.reset(spark, state)
  }

  test("pqEncode: a gapped external codebook fails loudly, not silently") {
    // the row-local argmin kernel emits the sorted-array INDEX as the
    // code, so contiguity (sub_ids 0..m-1, codes 0..ksub-1) is a hard
    // precondition — a gapped persisted codebook must throw, never
    // silently mislabel
    val emb = Tables.embeddings(spark, sf).limit(4)
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    def book(rows: Seq[(Int, Int)]) = rows
      .map { case (s, c) => (s, c, Array.fill(dim / 2)(0.1f * (c + 1))) }
      .toDF("sub_id", "code", "centroid")
    // contiguous: encodes fine
    val ok = Similarity.pqEncode(
      book(Seq((0, 0), (0, 1), (1, 0), (1, 1))), emb, "vec_id", "embedding", m = 2)
    assert(ok.count() == 8)
    // gapped codes within a subspace: rejected
    val e1 = intercept[IllegalArgumentException] {
      Similarity.pqEncode(
        book(Seq((0, 0), (0, 2), (1, 0), (1, 1))), emb, "vec_id", "embedding", m = 2)
        .count()
    }
    assert(e1.getMessage.contains("contiguous"))
    // gapped sub_ids: rejected
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pqEncode(
        book(Seq((0, 0), (0, 1), (2, 0), (2, 1))), emb, "vec_id", "embedding", m = 2)
        .count()
    }
    assert(e2.getMessage.contains("contiguous"))
  }

  test("pqTopK: planted duplicate is top-1 through the ADC shortlist") {
    val emb = Tables.embeddings(spark, sf)
    // plant an exact copy of vector 0 under a fresh id: PQ codes of probe
    // and copy are identical, so ADC distance is minimal and the re-rank
    // puts it first at cosine 1
    val v0 = emb.filter($"vec_id" === 0L)
    val planted = emb.unionByName(
      v0.withColumn("vec_id", lit(999999L)))
    val probes = v0
    val rows = Similarity.pqTopK(planted, probes, "vec_id", "embedding",
        k = 3, shortlist = 32).collect()
    assert(rows.nonEmpty)
    val top = rows.minBy(_.getAs[Int]("rank"))
    assert(top.getAs[Long]("neighbor_id") == 999999L)
    assert(math.abs(top.getAs[Double]("cosine") - 1.0) < 1e-6)
    // deterministic across runs (seeded init + driver-held means)
    val again = Similarity.pqTopK(planted, probes, "vec_id", "embedding",
        k = 3, shortlist = 32).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      again.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("packed IVF-PQ index serves the same neighbors as the exploded layout") {
    val emb = Tables.embeddings(spark, sf)
    val probes = emb.filter(pmod($"vec_id", lit(100)) === 0)
    val coarse = Similarity.centroidsDF(spark,
      Similarity.kmeansCentroidsCollected(emb, "vec_id", "embedding",
        k = 4, iters = 2, seed = 42L))
    val cents = Similarity.pqCodebookDF(spark,
      Similarity.pqTrainNormalizedCollected(emb, "vec_id", "embedding"))
    val exploded = Similarity.ivfPqBuildIndex(coarse, cents, emb,
      "vec_id", "embedding")
    val packed = Similarity.ivfPqBuildIndexPacked(coarse, cents, emb,
      "vec_id", "embedding")
    // the packed row IS the exploded rows, re-shaped
    assert(packed.count() == exploded.select("neighbor_id").distinct().count())
    assert(packed.select(size($"codes")).distinct().head.getInt(0) == 8)
    // with the shortlist not binding (small corpus), the exact-cosine
    // re-rank makes both layouts return identical ranked neighbors
    def serve(idx: org.apache.spark.sql.DataFrame, packedIdx: Boolean) = {
      val f = if (packedIdx)
        Similarity.ivfPqTopKFromPackedIndex(coarse, cents, idx, emb, probes,
          "vec_id", "embedding", k = 3, nProbe = 2, shortlist = 1000)
      else
        Similarity.ivfPqTopKFromIndex(coarse, cents, idx, emb, probes,
          "vec_id", "embedding", k = 3, nProbe = 2, shortlist = 1000)
      f.select("probe_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    }
    assert(serve(packed, packedIdx = true) == serve(exploded, packedIdx = false))
    // same equivalence for the PQ-only pair (no coarse stage)
    val pqExploded = Similarity.pqEncodeNormalized(cents, emb, "vec_id", "embedding")
    val pqPacked = Similarity.pqEncodePackedNormalized(cents, emb, "vec_id", "embedding")
    def servePq(explodedPath: Boolean) = {
      val f = if (explodedPath)
        Similarity.pqTopKFromIndex(cents, pqExploded, emb, probes,
          "vec_id", "embedding", k = 3, shortlist = 1000)
      else
        Similarity.pqTopKFromPackedCodes(cents, pqPacked, emb, probes,
          "vec_id", "embedding", k = 3, shortlist = 1000)
      f.select("probe_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    }
    assert(servePq(explodedPath = false) == servePq(explodedPath = true))
  }

  test("int8 quantization: codes bounded, dequantization error within one step") {
    val emb = Tables.embeddings(spark, sf)
    val codes = Quantize.int8Codes(emb, "vec_id", "embedding")
    // codes are genuine int8: |q| <= 127
    assert(codes.filter(exists(col("codes"),
      c => abs(c) > 127)).isEmpty, "code out of int8 range")
    // reconstruction: |x - q*scale/127| < scale/127 (one quantization step,
    // floor truncates at most one step below)
    val bad = codes.join(emb, "vec_id")
      .filter(exists(zip_with(col("embedding"), col("codes"), (x, q) =>
        abs(x.cast("double") - q.cast("double") * col("scale") / 127.0) >=
          col("scale") / 127.0 + 1e-12), b => b))
    assert(bad.isEmpty, "dequantization error exceeds one quantization step")
    // stats row agrees with an independently computed error bound:
    // err_ticks < 64 elements * scale/127 * 1e4 ticks
    val stats = Quantize.int8Stats(emb, "vec_id", "embedding")
      .join(codes.select($"vec_id", $"scale"), "vec_id")
      .filter($"err_ticks" >= $"scale" / 127.0 * 10000 * 64)
    assert(stats.isEmpty, "aggregate error ticks exceed the per-step bound")
  }

  test("salientTerms: k rows per doc, scores descending, df consistent") {
    val docs = Seq(
      (1L, "alpha alpha beta common"),
      (2L, "beta gamma common"),
      (3L, "delta common common")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.salientTerms(docs, "doc_id", "text", k = 2).collect()
    assert(got.length == 6)
    // per-doc ranks are 1..k with non-increasing scores
    got.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("term_rank"))
      assert(byRank.map(_.getAs[Int]("term_rank")).toSeq == Seq(1, 2))
      assert(byRank.sliding(2).forall(p =>
        p.head.getAs[Double]("score") >= p.last.getAs[Double]("score")))
    }
    // doc 1's top term is the repeated rare "alpha": tf=2, df=1 → score 2*3/1
    val top1 = got.filter(r => r.getAs[Long]("doc_id") == 1L &&
      r.getAs[Int]("term_rank") == 1).head
    assert(top1.getAs[String]("term") == "alpha" &&
      top1.getAs[Double]("score") == 6.0)
    // "common" appears in every doc → df=3, score tf*3/3 = tf
    assert(got.filter(_.getAs[String]("term") == "common")
      .forall(r => r.getAs[Long]("df") == 3L))
  }

  test("asOfJoinLeft: latest right row at or before each left ts, per key") {
    import java.sql.Timestamp
    def t(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val clicks = Seq(
      (1L, t(10), 100L), (1L, t(20), 101L), (1L, t(5), 102L),
      (2L, t(30), 200L)
    ).toDF("user_id", "ts", "event_id")
    val views = Seq(
      (1L, t(8), 7.0), (1L, t(20), 9.0),  // t(20) ties click 101 -> matched
      (3L, t(1), 1.0)                      // other key: never matched
    ).toDF("user_id", "ts", "view_value")
    val got = graft.operators.AsOf
      .asOfJoinLeft(clicks, views, "user_id", "ts", Seq("view_value"))
      .select($"event_id", $"__asof.view_value")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got == Map(
      100L -> 7.0,   // latest view <= 10:10 is 10:08
      101L -> 9.0,   // tie at 10:20 matches (<=)
      102L -> null,  // no view before 10:05
      200L -> null)) // user 2 has no views
  }

  test("rangeJoin matches brute-force BETWEEN join, including bin boundaries") {
    val points = Seq(0L, 4L, 5L, 9L, 10L, 23L).toDF("pt")
    val intervals = Seq(
      (1L, 0L, 4L),    // fits one bin
      (2L, 3L, 12L),   // spans three bins
      (3L, 10L, 10L),  // degenerate, on a bin boundary
      (4L, 50L, 60L)   // matches nothing
    ).toDF("iid", "lo", "hi")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("pt", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val binned = pairs(graft.operators.Ranges
      .rangeJoin(points, "pt", intervals, "lo", "hi", binWidth = 5L))
    val brute = pairs(points.join(intervals,
      $"pt" >= $"lo" && $"pt" <= $"hi"))
    assert(binned == brute)
    assert(brute.contains((10L, 3L)) && brute.contains((10L, 2L)))
  }

  test("rangeJoin bin ids stay exact past 2^53 (integral div, not double)") {
    // base is representable as a double but base+1 .. base+6 round to it:
    // double division would put point and interval bounds in corrupted bins
    // and corrupt bin ids; integral div keeps them exact (and negative
    // points keep floor, not truncate-toward-zero, semantics)
    val base = (1L << 60)
    val points = Seq(base + 1, base + 6, base - 1, -base - 1).toDF("pt")
    val intervals = Seq(
      (1L, base + 1, base + 5),
      (2L, base - 3, base + 2),
      (3L, -base - 2, -base)
    ).toDF("iid", "lo", "hi")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("pt", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val binned = pairs(graft.operators.Ranges
      .rangeJoin(points, "pt", intervals, "lo", "hi", binWidth = 3L))
    val brute = pairs(points.join(intervals,
      $"pt" >= $"lo" && $"pt" <= $"hi"))
    assert(binned == brute && brute.nonEmpty)
  }

  test("TextAnalysis: token counts and ratios on crafted input") {
    val df = Seq((1L, "Hello, world! 123 test")).toDF("doc_id", "text")
    val r = df.select(
      TextAnalysis.tokenCount($"text"),
      size(TextAnalysis.words($"text")),
      TextAnalysis.charClassCount($"text", "[0-9]")).collect().head
    assert(r.getInt(0) == 4) // whitespace tokens: "hello," "world!" "123" "test"
    assert(r.getInt(1) == 4) // words: hello, world, 123, test
    assert(r.getInt(2) == 3) // digits: 1 2 3
  }

  test("bpeTokenCount: words + standalone punctuation as GPT-2-ish chunks") {
    val got = Seq((1L, "Hello, world! 123 test-case"))
      .toDF("doc_id", "text")
      .select(TextAnalysis.bpeTokenCount($"text")).collect().head.getInt(0)
    assert(got == 8) // hello , world ! 123 test - case
  }

  test("TextAnalysis.langId identifies stopword-rich languages") {
    val df = Seq(
      (1L, "the cat is on the mat and it was happy with this"),
      (2L, "der Hund ist nicht mit der Katze und das ist gut"),
      (3L, "le chat est dans la maison avec le chien et la souris"),
      (4L, "el perro y el gato son amigos en la casa con su familia"),
      (5L, "zzz qqq xxx")
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextAnalysis.langId($"text")).orderBy("doc_id")
      .collect().map(_.getString(1))
    assert(got.toSeq == Seq("en", "de", "fr", "es", "und"))
  }

  test("fingerprintKey is invariant to word order, duplication, punctuation") {
    val df = Seq(
      (1L, "Spark and Catalyst!"),
      (2L, "catalyst AND spark"),
      (3L, "spark spark, and catalyst")
    ).toDF("doc_id", "text")
    val keys = df.select(TextAnalysis.fingerprintKey($"text")).collect().map(_.getString(0))
    assert(keys.distinct.length == 1)
  }

  test("text operators tolerate null and empty text") {
    val df = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "some ok text here"))
      .toDF("doc_id", "text")
    val analyzed = TextAnalysis.analyze(df)
    assert(analyzed.count() == 3) // no throw under ANSI mode
    val quality = analyzed.orderBy("doc_id")
      .select("quality_score").collect()
    assert(!quality(2).isNullAt(0)) // real text still scores
    val lang = df.select(TextAnalysis.langId($"text")).collect()
    assert(lang.forall(r => r.isNullAt(0) || r.getString(0).nonEmpty))
  }

  test("duplicateSpans: copied docs cover fully, unique docs score 0, short docs 0-gram") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // 6 tokens → 2 5-grams
      (2L, "alpha beta gamma delta epsilon zeta"),   // exact copy of 1
      (3L, "one two three four five six seven"),     // unique → dup_frac 0
      (4L, "too short"),                             // < 5 tokens → 0 grams
      (5L, "pad alpha beta gamma delta epsilon tail") // shares ONE 5-gram with 1/2
    ).toDF("doc_id", "text")
    val out = TextAnalysis.duplicateSpans(docs, "doc_id", "text", n = 5, minDocs = 2)
      .orderBy("doc_id").collect()
    def row(i: Int) = (out(i).getAs[Long]("n_grams"),
      out(i).getAs[Long]("n_dup"), out(i).getAs[Double]("dup_frac"))
    assert(row(0) == ((2L, 2L, 1.0)) && row(1) == ((2L, 2L, 1.0)))
    assert(row(2) == ((3L, 0L, 0.0)))
    assert(row(3) == ((0L, 0L, 0.0)))
    // doc 5: 3 5-grams, exactly "alpha beta gamma delta epsilon" is shared
    assert(row(4) == ((3L, 1L, 1.0 / 3.0)))
  }

  test("removeDuplicateSpans: a planted shared span is excised exactly, singletons untouched") {
    graft.functions.GraftFunctions.register(spark)
    // a 50-token span planted inside two otherwise-distinct documents
    val span = (1 to 50).map(i => s"shared$i").mkString(" ")
    val aHead = (1 to 7).map(i => s"ahead$i").mkString(" ")
    val aTail = (1 to 9).map(i => s"atail$i").mkString(" ")
    val bHead = (1 to 11).map(i => s"bhead$i").mkString(" ")
    val docs = Seq(
      (1L, s"$aHead $span $aTail"),
      (2L, s"$bHead $span"),
      (3L, "a fully unique document with enough tokens to carry grams"),
      (4L, "tiny doc"), // below the n-gram floor: no spans possible
      (5L, s"$span")    // the span IS the whole doc → cleaned to empty
    ).toDF("doc_id", "text")
    val out = TextAnalysis.removeDuplicateSpans(docs, "doc_id", "text",
        n = 5, minDocs = 2)
      .orderBy("doc_id").collect()
    def row(i: Int) = (out(i).getAs[Long]("n_tokens"),
      out(i).getAs[Long]("n_spans"), out(i).getAs[Long]("dup_tokens"),
      out(i).getAs[String]("cleaned_text"))
    // doc 1: exactly the 50 shared tokens go; head and tail survive intact
    assert(row(0) == ((66L, 1L, 50L, s"$aHead $aTail")), row(0).toString)
    // doc 2: span at the end — head survives
    assert(row(1) == ((61L, 1L, 50L, bHead)), row(1).toString)
    // doc 3: no shared grams → full normalized stream back, zero spans
    assert(row(2) == ((10L, 0L, 0L,
      "a fully unique document with enough tokens to carry grams")))
    assert(row(3) == ((2L, 0L, 0L, "tiny doc")))
    // doc 5: wholly duplicated → cleaned to the empty string
    assert(row(4) == ((50L, 1L, 50L, "")), row(4).toString)
    // two DISJOINT shared spans in one doc stay two spans (no over-merge:
    // the 6-token unique gap is wider than any n-gram bridge)
    val span2 = (1 to 20).map(i => s"dup$i").mkString(" ")
    val gap = (1 to 6).map(i => s"gap$i").mkString(" ")
    val docs2 = Seq(
      (1L, s"$span2 $gap $span"),
      (2L, span2), (3L, span)).toDF("doc_id", "text")
    val two = TextAnalysis.removeDuplicateSpans(docs2, "doc_id", "text",
        n = 5, minDocs = 2)
      .filter(col("doc_id") === 1L).collect()(0)
    assert(two.getAs[Long]("n_spans") == 2L &&
      two.getAs[Long]("dup_tokens") == 70L &&
      two.getAs[String]("cleaned_text") == gap, two.toString)
  }

  test("removeDuplicateSpans: mask indices align with the gram kernel on non-ASCII whitespace") {
    graft.functions.GraftFunctions.register(spark)
    // U+2028 (LINE SEPARATOR) is whitespace to the WordNGrams kernel
    // (Character.isWhitespace) but NOT to an ASCII \s+ regex split — a
    // regex-derived __toks would see one fewer token, shift every index,
    // and mask the WRONG tokens. The doc's head "x y" must survive
    // as the two tokens (x y) while exactly the shared 5-gram is excised.
    val shared = (1 to 5).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, "x" + (0x2028).toChar + "y " + shared),
      (2L, shared)).toDF("doc_id", "text")
    val out = TextAnalysis.removeDuplicateSpans(docs, "doc_id", "text",
        n = 5, minDocs = 2)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_tokens") == 7L &&
      out(0).getAs[Long]("dup_tokens") == 5L &&
      out(0).getAs[String]("cleaned_text") == "x y", out(0).toString)
    assert(out(1).getAs[String]("cleaned_text") == "", out(1).toString)
  }

  test("UrlCuration: host parse hazards, registrable blocklist, cap binds only above it") {
    import graft.operators.UrlCuration
    // every parsing hazard once: scheme variants, no scheme, userinfo,
    // port, mixed case, path/query/fragment
    val parsed = Seq(
      "https://Example.COM/path",
      "http://user:pw@example.com:8080/p?q=1",
      "example.com/no-scheme",
      "ftp://sub.example.com#frag",
      "https://example.com?query-right-after-host",
      "weird"
    ).map(Option(_)).:+(Option.empty[String])
      .toDF("url").select(UrlCuration.hostOf(col("url")).as("h"))
      .collect().map(_.getString(0)).toSeq
    // a NULL url parses to "" (the unparseable contract) — never to a
    // null that a downstream filter would silently drop
    assert(parsed == Seq("example.com", "example.com", "example.com",
      "sub.example.com", "example.com", "weird", ""), parsed.toString)
    // corpus: a mega-host (cap binds), a small host (cap doesn't), a
    // blocklisted domain and a subdomain of it, and a LOOKALIKE host that
    // merely ends in the same string (must survive: not a subdomain)
    val docs = ((1L to 40L).map(i => (i, s"https://big.example/p/$i")) ++
      (41L to 43L).map(i => (i, s"https://small.example/p/$i")) ++
      Seq((50L, "https://blocked.example/x"),
        (51L, "https://deep.spam.blocked.example/y"),
        (52L, "https://notblocked.example/z"))).toDF("doc_id", "url")
    val out = UrlCuration.curate(docs, "doc_id", "url",
      blocklist = Seq("blocked.example"), maxPerDomain = 10)
    val byHost = out.groupBy("host").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byHost == Map("big.example" -> 10L, "small.example" -> 3L,
      "notblocked.example" -> 1L), byHost.toString)
    // the cap's rank shape must stay the map-side-trimmed WindowGroupLimit
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"domain cap must compile to WindowGroupLimit:\n$plan")
  }

  test("canonicalizeUrl: identity under case/ports/tracking/order/fragment noise") {
    import graft.operators.UrlCuration
    val cases = Seq(
      // case + default port + fragment + userinfo all erase
      "HTTPS://User:pw@WWW.Site7.EXAMPLE:443/Article/9#frag" ->
        "https://www.site7.example/Article/9",
      // path case is PRESERVED (paths are case-sensitive); host case isn't
      "https://www.site7.example/Article/9" ->
        "https://www.site7.example/Article/9",
      // non-default port survives
      "http://a.example:8080/x" -> "http://a.example:8080/x",
      // default http port dropped; https:80 is NOT a default — kept
      "http://a.example:80/x" -> "http://a.example/x",
      "https://a.example:80/x" -> "https://a.example:80/x",
      // trailing slashes trim; bare host gets '/'
      "https://a.example/x///" -> "https://a.example/x",
      "https://a.example" -> "https://a.example/",
      "https://a.example/" -> "https://a.example/",
      // tracking params drop, survivors sort, all-tracking query vanishes
      "https://a.example/x?b=2&utm_source=f&a=1" -> "https://a.example/x?a=1&b=2",
      "https://a.example/x?gclid=1&fbclid=2&ref=h&utm_campaign=c" ->
        "https://a.example/x",
      // bare tracking name (no '=') drops too; lookalike param survives
      "https://a.example/x?ref&reference=1" -> "https://a.example/x?reference=1",
      // schemeless input defaults to http
      "a.example/x?z=1" -> "http://a.example/x?z=1",
      // NULL canonicalizes like any unparseable value — a deterministic
      // identity, never a null group key
      (null: String) -> "http:///"
    )
    val got = cases.map(_._1).toDF("url")
      .select(UrlCuration.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    cases.map(_._2).zip(got).zipWithIndex.foreach { case ((want, g), i) =>
      assert(g == want, s"case ${cases(i)._1}: got $g want $want")
    }
    // canonicalDedup keeps the lowest id per canonical identity
    val docs = Seq(
      (1L, "https://a.example/x?b=2&a=1"),
      (2L, "https://A.EXAMPLE:443/x/?a=1&b=2&utm_source=s"),
      (3L, "https://a.example/x"),
      (4L, "http://a.example/x?a=1&b=2")).toDF("doc_id", "url")
    val out = UrlCuration.canonicalDedup(docs, "doc_id", "url")
      .orderBy("canon_url")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(
      ("http://a.example/x?a=1&b=2", 4L, 1L),
      ("https://a.example/x", 3L, 1L),
      ("https://a.example/x?a=1&b=2", 1L, 2L)), out.toString)
  }

  test("vectorContaminated: planted analogues all flagged, natural corpus clean, bench broadcast") {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.Contamination
    val emb = Tables.embeddings(spark, sf)
    val bench = emb.filter(pmod(col("vec_id"), lit(50)) === 13)
      .select(col("vec_id"), col("embedding"))
    val nBench = bench.count()
    assert(nBench >= 5, s"bench too small: $nBench")
    val natural = emb.filter(pmod(col("vec_id"), lit(50)) =!= 13)
      .select(col("vec_id"), col("embedding"))
    val scaled = bench.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => lit(3.0f) * x).as("embedding"))
    val noised = bench.select((col("vec_id") + 2000000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.03125f)).as("embedding"))
    val corpus = natural.unionByName(scaled).unionByName(noised)
    val flagged = Contamination.vectorContaminated(corpus, bench,
      "vec_id", "embedding", threshold = 0.9)
    val ids = flagged.select("vec_id").collect().map(_.getLong(0)).toSet
    // RECALL: every planted analogue (both kinds) is flagged
    val plantedIds = (scaled.select("vec_id").collect() ++
      noised.select("vec_id").collect()).map(_.getLong(0)).toSet
    assert(plantedIds.subsetOf(ids),
      s"missed planted: ${plantedIds -- ids}")
    // PRECISION: nothing natural is flagged (corpus max inter-cos ~0.4)
    assert(ids == plantedIds, s"natural FPs: ${ids -- plantedIds}")
    // plan: benchmark side broadcast, no shuffle of corpus-vs-corpus
    val plan = flagged.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), s"bench must broadcast:\n$plan")
  }

  test("HtmlExtract: subtrees die, entities decode after strip, density kills link farms") {
    import graft.operators.HtmlExtract
    // stripHtml: the flatten baseline
    val flat = Seq(Tuple1(
      "<html><head><script>var x='<p>evil</p>';</script><style>p{}</style>" +
        "</head><body><!-- c --><P CLASS=\"x\">A &amp; B&nbsp;&lt;tag&gt;</p>" +
        "</body></html>")).toDF("h")
      .select(HtmlExtract.stripHtml(col("h"))).head.getString(0)
    assert(flat == "A & B <tag>", s"[$flat]")
    val docs = Seq(
      (1L, "<body><div><a href=\"/\">Home</a> <a href=\"/a\">About</a></div>" +
        "<p>real body prose with plenty of words here</p>" +
        "<div><a>one two</a> <a>three four</a> <a>five six</a> <a>seven eight</a></div>" +
        "<p>short</p></body>"),
      (2L, "<div></div>"), // markup-only: present with zero counts
      (3L, "no markup at all just plain prose flowing along")
    ).toDF("doc_id", "html")
    val out = HtmlExtract.extractBlocks(docs, "doc_id", "html", minWords = 4)
      .orderBy("doc_id").collect()
    def row(i: Int) = (out(i).getLong(1), out(i).getLong(2), out(i).getString(3))
    // doc 1: nav (2 link words) dies on minWords, prose kept, the 8-word
    // all-anchor farm dies ONLY on density, "short" dies on minWords
    assert(row(0) == ((4L, 1L, "real body prose with plenty of words here")),
      row(0).toString)
    assert(row(1) == ((0L, 0L, "")), row(1).toString)
    assert(row(2) == ((1L, 1L, "no markup at all just plain prose flowing along")))
    // the whole extraction is scan-stage narrow work: one doc_id-keyed
    // aggregation, no join of payload against payload
    val plan = HtmlExtract.extractBlocks(docs, "doc_id", "html")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"extraction must not payload-join:\n$plan")
  }

  test("dedupLines: global first occurrence wins, clones excised, order kept") {
    graft.functions.GraftFunctions.register(spark)
    val t20 = (1 to 20).map(i => s"w$i").mkString(" ") // exactly 2 lines
    val rep = ("x " * 10).trim                          // one 10-token line
    val docs = Seq(
      (1L, t20),                            // owns both lines
      (2L, s"$t20 extra tail tokens here"), // prefix clone + own tail
      (3L, "totally different and unique tokens"),
      (4L, t20),                            // full clone → empty
      (5L, s"$rep $rep")                    // within-doc repeat → keeps one
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupLines(docs, "doc_id", "text", lineTokens = 10)
      .orderBy("doc_id").collect()
    def row(i: Int) = (out(i).getLong(1), out(i).getLong(2), out(i).getString(3))
    assert(row(0) == ((2L, 2L, t20)), row(0).toString)
    assert(row(1) == ((3L, 1L, "extra tail tokens here")), row(1).toString)
    assert(row(2) == ((1L, 1L, "totally different and unique tokens")))
    assert(row(3) == ((2L, 0L, "")), row(3).toString)
    assert(row(4) == ((2L, 1L, rep)), row(4).toString)
  }

  test("curriculumOrder: contiguous positions, easy-first levels, hash-shuffled within level") {
    import graft.operators.Sampling
    // three quality levels via a synthetic score column
    val docs = (1L to 9L).map(i => (i, (i % 3).toDouble / 4)).toDF("doc_id", "s")
    val out = Sampling.curriculumOrder(docs, "doc_id", col("s"))
      .select(col("doc_id"), col("score_q"), col("curriculum_pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // positions are a contiguous 1..n permutation
    assert(out.map(_._3).sorted == (1L to 9L), out.toString)
    // levels descend: every pos in a higher-score level precedes every
    // pos in a lower one
    val byLevel = out.groupBy(_._2).view.mapValues(_.map(_._3)).toMap
    assert(byLevel(5000L).max < byLevel(2500L).min)
    assert(byLevel(2500L).max < byLevel(0L).min)
    // within a level the order is the md5 hash order, not id order
    val lvl0 = out.filter(_._2 == 0L).sortBy(_._3).map(_._1)
    val hashOrder = lvl0.sortBy(id => (
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString, id))
    assert(lvl0 == hashOrder, s"$lvl0 vs $hashOrder")
  }

  test("dedupAttribution: copies charged to their source, cross-source flagged, nulls accounted") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "A", "original text here"),
      (2L, "B", "original text here"),  // cross-source copy of 1
      (3L, "A", "original text here"),  // same-source copy of 1
      (4L, "B", "unique b content"),
      (5L, "C", null.asInstanceOf[String]), // null digests as '' — keeper
      (6L, "C", "")                          // '' copies the null doc
    ).toDF("doc_id", "source", "text")
    val out = Dedup.dedupAttribution(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(_._1)
    assert(out == Seq(
      ("A", 2L, 1L, 0L),  // doc 3 is a copy; keeper (doc 1) same source
      ("B", 2L, 1L, 1L),  // doc 2 is a copy of A's keeper — cross-source
      ("C", 2L, 1L, 0L)), // doc 6 copies doc 5 ('' ≡ null), same source
      out.toString)
  }

  test("withGroupedRunningTotal: equals a per-group local scan at any partitioning") {
    import graft.operators.GlobalOrder
    val rows = (1L to 200L).map(i => (i, i % 5, (i * 7) % 23 + 1))
    val df = rows.toDF("id", "grp", "v").repartition(7) // adversarial layout
    val out = GlobalOrder.withGroupedRunningTotal(df, "grp",
        Seq("id"), "v", "run")
      .select($"id", $"grp", $"v", $"run")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val expected = rows.groupBy(_._2).flatMap { case (_, g) =>
      val sorted = g.sortBy(_._1)
      sorted.zip(sorted.scanLeft(0L)(_ + _._3)).map {
        case ((id, grp, v), run) => (id, grp, v, run)
      }
    }.toSeq.sortBy(_._1)
    assert(out.sortBy(_._1) == expected)
  }

  test("lengthStratifiedPacks: contiguous equal-count strata; per-stratum offsets pack") {
    import graft.operators.Packing
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // 16 docs, lengths 1..16 — 4 strata of exactly 4 docs each
    val docs = (1L to 16L).map(i => (i, words(i.toInt))).toDF("doc_id", "text")
    val out = Packing.lengthStratifiedPacks(docs, "doc_id", "text",
        nStrata = 4, budget = 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // equal-count strata, contiguous in the length order
    val byStratum = out.groupBy(_._4)
    assert(byStratum.keySet == Set(0L, 1L, 2L, 3L))
    assert(byStratum.values.forall(_.size == 4))
    for (s <- 0L to 2L)
      assert(byStratum(s).map(_._2).max <= byStratum(s + 1).map(_._2).min,
        "strata must be contiguous length ranges")
    // within a stratum: offsets are the exclusive hash-order running sum,
    // restarting at 0, and pack = offset div budget
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    for ((_, segs) <- byStratum) {
      val sorted = segs.sortBy(t => (md5(t._1.toString), t._1))
      assert(sorted.head._5 == 0L)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._5 + a._2 == b._5)
        case _ =>
      }
      segs.foreach(t => assert(t._6 == t._5 / 8L))
    }
  }

  test("paddingWasteReport: exact per-layout totals; stratification wins on mixed lengths") {
    import graft.operators.Packing
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // bimodal lengths: 8 short (2 tokens), 8 long (20) — a shuffled
    // 4-doc batch usually mixes them (pads shorts to 20); stratified
    // batches are pure
    val docs = (1L to 16L)
      .map(i => (i, words(if (i % 2 == 0) 2 else 20))).toDF("doc_id", "text")
    val out = Packing.paddingWasteReport(docs, "doc_id", "text",
        batchSize = 4, nStrata = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(_._1)
    val Seq(sh, st, bfd) = out.sortBy(_._1)
    assert(sh._1 == "shuffled" && st._1 == "stratified" &&
      bfd._1 == "stratified_bfd", out.toString)
    // all layouts batch all 16 docs and count the same real tokens
    assert(sh._2 == 4L && st._2 == 4L && bfd._2 == 4L)
    assert(sh._3 == 176L && st._3 == 176L && bfd._3 == 176L) // 8·2 + 8·20
    // two equal-count strata split exactly at the mode boundary → zero
    // padding stratified (and a fortiori bfd); the hash order mixes
    // lengths → positive waste
    assert(st._4 == 0L && bfd._4 == 0L, out.toString)
    assert(sh._4 > 0L, out.toString)
  }

  test("bfdStratifiedPacks: length-desc within stratum is the fixed-count padding floor") {
    import graft.operators.Packing
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // ONE stratum, graded lengths 1..8, batchSize 2: hash order mixes
    // lengths; the desc order pairs (8,7)(6,5)(4,3)(2,1) → waste 4
    val docs = (1L to 8L).map(i => (i, words(i.toInt))).toDF("doc_id", "text")
    val out = Packing.bfdStratifiedPacks(docs, "doc_id", "text",
        nStrata = 1, budget = 8L, batchSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._4).toSeq
    // bfd_pos follows length DESC: doc 8 first, doc 1 last
    assert(out.map(_._1) == Seq(8L, 7L, 6L, 5L, 4L, 3L, 2L, 1L), out.toString)
    assert(out.map(_._4) == (1L to 8L), "contiguous per-stratum positions")
    // batches pair consecutive sorted lengths → total padding
    // Σ(max−min) per pair = (8−7)+(6−5)+(4−3)+(2−1) = 4, the floor
    val waste = out.groupBy(_._5).values.map(b =>
      b.map(_._2).max * b.size - b.map(_._2).sum).sum
    assert(waste == 4L, out.toString)
    // token offsets run in the SAME desc order: exclusive prefix sums of
    // 8,7,6,... and pack = offset div budget
    assert(out.map(_._6) == Seq(0L, 8L, 15L, 21L, 26L, 30L, 33L, 35L))
    assert(out.map(_._7) == Seq(0L, 1L, 1L, 2L, 3L, 3L, 4L, 4L))
    // every stratum restarts its own offsets: two strata of the same
    // corpus each start at 0
    val two = Packing.bfdStratifiedPacks(docs, "doc_id", "text",
        nStrata = 2, budget = 8L, batchSize = 2)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(5)))
    assert(two.filter(_._2 == 1L).forall(_._3 == 0L),
      "per-stratum offsets must restart at 0")
    assert(two.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L))
  }

  test("packSegments: segments tile each pack; straddling docs split; totals conserve") {
    import graft.operators.Packing
    // one shard (ids ≡ 0 mod 32), budget 8: doc 0 has 5 tokens, doc 32
    // has 7 (straddles packs 0/1: 3 + 4), doc 64 has 9 (straddles 1/2),
    // doc 96 is empty (no segment)
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq((0L, words(5)), (32L, words(7)), (64L, words(9)),
      (96L, "")).toDF("doc_id", "text")
    val out = Packing.packSegments(docs, "doc_id", "text",
        budget = 8, nShards = 32)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sortBy(t => (t._1, t._3))
    assert(out == Seq(
      (0L, 0L, 0L, 5L),   // doc 0: [0,5) of pack 0
      (0L, 32L, 5L, 3L),  // doc 32: fills pack 0 to the boundary...
      (1L, 32L, 0L, 4L),  // ...and continues at the start of pack 1
      (1L, 64L, 4L, 4L),  // doc 64: rest of pack 1...
      (2L, 64L, 0L, 5L)), // ...and 5 tokens into pack 2; doc 96 absent
      out.toString)
    // invariants: per-doc conservation and gapless tiling per pack
    assert(out.groupBy(_._2).map { case (id, segs) => id -> segs.map(_._4).sum }
      == Map(0L -> 5L, 32L -> 7L, 64L -> 9L))
    for ((_, segs) <- out.groupBy(_._1)) {
      val sorted = segs.sortBy(_._3)
      assert(sorted.head._3 == 0L)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._3 + a._4 == b._3, s"gap in $sorted")
        case _ =>
      }
    }
  }

  test("retrievalEval: first relevant rank within k; misses 0; fixed-point rr exact") {
    import graft.operators.Similarity
    val ranked = Seq(
      (1L, 1, 10L), (1L, 2, 20L), (1L, 3, 30L),   // q1: rel 20 at rank 2
      (2L, 1, 40L), (2L, 2, 50L),                  // q2: rel 60 never → miss
      (3L, 1, 60L), (3L, 2, 61L), (3L, 12, 62L)    // q3: rel 61 at 2, rel 62
                                                   //     outside k — 2 wins
    ).toDF("query_id", "rank", "doc_id")
    val qrels = Seq((1L, 20L), (2L, 60L), (3L, 61L), (3L, 62L))
      .toDF("query_id", "doc_id")
    val out = Similarity.retrievalEval(ranked, qrels, "query_id", "doc_id",
        k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    assert(out == Seq(
      (1L, 2L, 500000L),   // 10⁶ div 2
      (2L, 0L, 0L),        // miss: rank 0, rr 0
      (3L, 2L, 500000L)),  // multi-qrel: min rank inside k
      out.toString)
  }

  test("rrfFusePerQuery: per-query fusion; single-modality items surface per query") {
    import graft.operators.Similarity
    // q1: item (1,0) only in list A, item (2,0) only in list B — both must
    // surface with the other list contributing 0; q2: (3,0) in both lists
    // outscores (4,0) in one
    val a = Seq((10L, 1L, 0L, 1), (20L, 3L, 0L, 1), (20L, 4L, 0L, 2))
      .toDF("query_id", "doc_id", "chunk_id", "rank")
    val b = Seq((10L, 2L, 0L, 1), (20L, 3L, 0L, 2))
      .toDF("query_id", "doc_id", "chunk_id", "rank")
    val out = Similarity.rrfFusePerQuery(Seq(a, b), "query_id",
        Seq("doc_id", "chunk_id"), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(4))).toSeq.sortBy(t => (t._1, t._2))
    val r1 = 1000000L / 61; val r2 = 1000000L / 62
    assert(out == Seq(
      // q1: tie at 1/(60+1) each, broken by doc_id — both single-modality
      (10L, 1, 1L, r1), (10L, 2, 2L, r1),
      // q2: doc 3 scores from BOTH lists, doc 4 from one
      (20L, 1, 3L, r1 + r2), (20L, 2, 4L, r2)), out.toString)
  }

  test("bm25TopKBatch: per-query term sets; integer fixed-point scores; no score-0 tail") {
    import graft.operators.TextAnalysis
    val corpus = Seq(
      (1L, 0L, "apple banana apple"),
      (1L, 1L, "banana cherry"),
      (2L, 0L, "durian elderberry fig")
    ).toDF("doc_id", "chunk_id", "text")
    val queries = Seq((100L, "apple"), (200L, "fig banana")).toDF("qid", "qtext")
    val out = TextAnalysis.bm25TopKBatch(corpus, queries,
        Seq("doc_id", "chunk_id"), "text", "qid", "qtext", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSeq.sortBy(t => (t._1, t._5))
    // query 100 ("apple"): only chunk (1,0) contains it — exactly one row
    val q100 = out.filter(_._1 == 100L)
    assert(q100.map(t => (t._2, t._3)) == Seq((1L, 0L)), out.toString)
    // query 200: fig hits (2,0), banana hits (1,0) and (1,1) — the
    // score-0 chunk never materializes, and scores are positive longs
    val q200 = out.filter(_._1 == 200L)
    assert(q200.map(t => (t._2, t._3)).toSet ==
      Set((1L, 0L), (1L, 1L), (2L, 0L)), out.toString)
    assert(out.forall(_._4 > 0L), out.toString)
    // rarer term (fig: df=1 vs banana: df=2) outranks for query 200 at
    // equal tf — idf monotone in df
    assert(q200.head._2 == 2L, q200.toString)
  }

  test("Bm25Index: served ranking equals the recompute path bit-for-bit; bucket drift raises") {
    import graft.operators.{Bm25Index, TextAnalysis}
    val corpus = Seq(
      (1L, 0L, "apple banana apple"),
      (1L, 1L, "banana cherry"),
      (2L, 0L, "durian elderberry fig"),
      (3L, 0L, "apple fig cherry banana"),
      (3L, 1L, "grape")
    ).toDF("doc_id", "chunk_id", "text")
    val queries = Seq((100L, "apple"), (200L, "fig banana"),
      (300L, "grape cherry apple"), (400L, "nowhere")).toDF("qid", "qtext")
    val dir = Artifacts.dir("bm25ix").toPath
      .resolve("state").toString
    Bm25Index.extendIndex(spark, dir, corpus,
      Seq("doc_id", "chunk_id"), "text", batchId = 0L)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"query_id", $"doc_id", $"chunk_id", $"bm25_fp", $"rank")
      .collect().map(_.toString).sorted.toSeq
    val served = Bm25Index.bm25TopKBatchFromIndex(spark, dir, queries,
      Seq("doc_id", "chunk_id"), "qid", "qtext", k = 5)
    val recompute = TextAnalysis.bm25TopKBatch(corpus, queries,
      Seq("doc_id", "chunk_id"), "text", "qid", "qtext", k = 5)
    // same rows, same exact fixed-point scores, same ranks — the shared
    // scoring tail plus the persisted df/stats reproduce the recompute
    // path bit-for-bit (a no-hit query contributes no rows on both sides)
    assert(canon(served) == canon(recompute),
      s"served=${canon(served)} recompute=${canon(recompute)}")
    assert(canon(served).nonEmpty)
    // a delta indexed under a DIFFERENT bucket count would split terms
    // across partitions — the stats merge raises instead
    val delta = Seq((9L, 0L, "apple")).toDF("doc_id", "chunk_id", "text")
    val e = intercept[Exception] {
      Bm25Index.extendIndex(spark, dir, delta,
        Seq("doc_id", "chunk_id"), "text", batchId = 1L, nBuckets = 8)
    }
    assert(e.getMessage != null && e.getMessage.contains("bucket count"),
      e.toString)
  }

  test("releaseLineage: exclusive reasons, per-stage arithmetic, per-source breakdown") {
    import graft.operators.Pipelines
    graft.functions.GraftFunctions.register(spark)
    def qual(pfx: String) =
      "the a " + (1 to 53).map(i => s"$pfx$i").mkString(" ")
    // id 3 ≡ 3 (mod 97) → benchmark; corpus: 1 = unique quality doc (A),
    // 2 = exact copy of 1 (B → duplicate, rep is min id), 4 = copy of the
    // BENCH text (A → contaminated), 5 = short (B → fail_count)
    val docs = Seq(
      (3L, "X", qual("bench")),
      (1L, "A", qual("uniq")),
      (2L, "B", qual("uniq")),
      (4L, "A", qual("bench")),
      (5L, "B", "too short")).toDF("doc_id", "source", "text")
    val out = Pipelines.releaseLineage(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5)))
      .sortBy(t => (t._1, t._3, t._4)).toSeq
    // md5("1") starts with 'c' → doc 1 lands in the val split
    assert(out == Seq(
      (0, "raw", "A", "input", 2L, 5L),
      (0, "raw", "B", "input", 2L, 7L),
      (1, "quality", "A", "kept", 2L, 5L),
      (1, "quality", "B", "fail_count", 1L, 5L),
      (1, "quality", "B", "kept", 1L, 2L),
      (2, "dedup", "A", "kept", 2L, 5L),
      (2, "dedup", "B", "exact_duplicate", 1L, 2L),
      (3, "decontam", "A", "contaminated", 1L, 4L),
      (3, "decontam", "A", "kept", 1L, 1L),
      (4, "split", "A", "val", 1L, 1L)), out.toString)
    // reconciliation: each stage's per-source totals equal the previous
    // stage's kept rows — the release-manager arithmetic the table exists
    // to make checkable
    def tot(stage: String, keep: String => Boolean) =
      out.filter(t => t._2 == stage && keep(t._4))
        .groupBy(_._3).view.mapValues(v => (v.map(_._5).sum, v.map(_._6).sum))
        .toMap
    assert(tot("raw", _ => true) == tot("quality", _ => true))
    assert(tot("quality", _ == "kept") == tot("dedup", _ => true))
    assert(tot("dedup", _ == "kept") == tot("decontam", _ => true))
    assert(tot("decontam", _ == "kept") == tot("split", _ => true))
  }

  test("retrievalEvalGraded: graded gains, idcg truncation, best-rank dedup, miss zeros") {
    import graft.operators.Similarity
    val disc = Similarity.ndcgDiscountsFp(3)
    // query 1: rel items 10 (gain 3M, ranks 2 AND 3 — finer-grained list,
    // must count ONCE at rank 2) and 11 (gain 1M, rank 5 — outside k=3);
    // plus 12 (gain 2M, never retrieved). query 2: no relevant retrieved.
    val ranked = Seq(
      (1L, 1, 99L), (1L, 2, 10L), (1L, 3, 10L), (1L, 4, 98L), (1L, 5, 11L),
      (2L, 1, 97L), (2L, 2, 96L)
    ).toDF("q", "rank", "item")
    val qrels = Seq(
      (1L, 10L, 3000000L), (1L, 11L, 1000000L), (1L, 12L, 2000000L),
      (2L, 50L, 1000000L)
    ).toDF("q", "item", "g")
    val out = Similarity.retrievalEvalGraded(ranked, qrels, "q", "item",
        "g", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1).toSeq
    // query 1: first rank 2, rr 500000; 1 of 3 rels in top-3 → recall 1/3;
    // DCG = 3M·disc(2); IDCG truncates to the 3 largest gains at
    // positions 1..3 = 3M·disc(1) + 2M·disc(2) + 1M·disc(3)
    val dcg = 3000000L * disc(1)
    val idcg = 3000000L * disc(0) + 2000000L * disc(1) + 1000000L * disc(2)
    assert(out.head == (1L, 2L, 500000L, 3L, 1L, 1000000L / 3L,
      dcg * 1000000L / idcg), out.toString)
    // query 2: all-zero metrics, n_rel carried
    assert(out(1) == (2L, 0L, 0L, 1L, 0L, 0L, 0L), out.toString)
    // the discount table is the driver-side literal contract both engines
    // bake in: positive, strictly decreasing, disc(1) = 10⁶
    assert(disc.head == 1000000L && disc == disc.sorted.reverse &&
      disc.forall(_ > 0))
  }

  test("curriculumEpochOrder: epoch-major, quality-desc within, per-epoch reshuffle") {
    import graft.operators.Sampling
    // 6 docs × 2 epochs, two quality levels (score 0.9 / 0.1 → levels
    // 9000 / 1000); all ids present in both epochs
    val rows = for (id <- 1L to 6L; e <- 0L to 1L)
      yield (id, e, if (id <= 3) 0.9 else 0.1)
    val df = rows.toDF("doc_id", "epoch", "score")
    val out = Sampling.curriculumEpochOrder(df, "doc_id", "epoch",
        col("score"))
      .select($"doc_id", $"epoch", $"score_q", $"curriculum_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._4).toSeq
    // contiguous 1..12
    assert(out.map(_._4) == (1L to 12L), out.toString)
    // epoch-major: all of epoch 0 precedes all of epoch 1
    assert(out.take(6).forall(_._2 == 0L) && out.drop(6).forall(_._2 == 1L))
    // quality-desc within each epoch
    for (ep <- Seq(out.take(6), out.drop(6)))
      assert(ep.take(3).forall(_._3 == 9000L) &&
        ep.drop(3).forall(_._3 == 1000L), ep.toString)
    // within-level order is the md5(epoch:id) hash order — and therefore
    // DIFFERS across epochs (the per-epoch reshuffle)
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def lvl(ep: Long, hi: Boolean) = out.filter(r => r._2 == ep &&
      (r._3 == 9000L) == hi).sortBy(_._4).map(_._1)
    for (ep <- 0L to 1L; hi <- Seq(true, false)) {
      val ids = lvl(ep, hi)
      assert(ids == ids.sortBy(id => (md5(s"$ep:$id"), id)),
        s"epoch $ep level $hi must follow the salted hash order")
    }
    assert(lvl(0L, true) != lvl(1L, true) || lvl(0L, false) != lvl(1L, false),
      "per-epoch reshuffle must change at least one level's order")
  }

  test("nearDupAttribution: cluster keeper by score; near-dup copies charged cross-source") {
    import graft.operators.Dedup
    graft.functions.GraftFunctions.register(spark)
    val base = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, "s1", base),            // exact-dup cluster member
      (2L, "s2", base),            // cross-source exact copy of 1
      (3L, "s1", s"$base tail"),   // near-dup (J = 4/5 = 0.8), LONGEST —
                                   // wins the canonical (score DESC) rule
      (4L, "s2", "totally different words here entirely now")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.nearDupAttribution(docs, "doc_id", "text", "source",
        org.apache.spark.sql.functions.length(col("text")), threshold = 0.8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(_._1)
    // cluster {1,2,3}: keeper = 3 (longest, NOT the min id) — so doc 1 is
    // a same-source copy and doc 2 a cross-source copy; doc 4 = singleton
    assert(out == Seq(
      ("s1", 2L, 1L, 0L),
      ("s2", 2L, 1L, 1L)), out.toString)
  }

  test("chunkRetrieveTopK: a query matching one chunk verbatim retrieves it at rank 1") {
    import graft.operators.Similarity
    graft.functions.GraftFunctions.register(spark)
    val c1 = (1 to 16).map(i => s"alpha$i").mkString(" ") // doc 1 chunk 0
    val c2 = (1 to 16).map(i => s"beta$i").mkString(" ")  // doc 1 chunk 1
    val docs = Seq(
      (1L, s"$c1 $c2"),
      (2L, (1 to 10).map(i => s"gamma$i").mkString(" ")) // disjoint vocab
    ).toDF("doc_id", "text")
    val queries = Seq((100L, c2)).toDF("doc_id", "text")
    val out = Similarity.chunkRetrieveTopK(docs, queries, "doc_id", "text",
        k = 2, chunkSize = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq.sortBy(_._2)
    // verbatim chunk: identical hashed-BoW vector → cosine exactly 1.0
    assert(out.head == ((100L, 1, 1L, 1L, 1.0)), out.toString)
    // nothing else shares vocabulary: every other chunk scores ~0, and
    // rank 2 goes to the deterministic (cos, doc, chunk) tie-break
    assert(out(1)._5 < 0.5, out.toString)
  }

  test("qualityWeightedAllocate: higher-scoring domain earns the larger allocation at equal availability") {
    import graft.operators.Sampling
    // equal availability (10 docs each); hi scores 1.0 per doc, lo 0.25 —
    // weights 10⁶ vs 250000, so a 10-row budget splits 8:2
    val docs = ((1 to 10).map(i => (i.toLong, "hi", 1.0)) ++
      (11 to 20).map(i => (i.toLong, "lo", 0.25)))
      .toDF("doc_id", "domain", "score")
    val out = Sampling.qualityWeightedAllocate(docs, "domain",
        col("score"), budget = 10L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("hi") == ((10L, 1000000L, 8L)), out.toString)
    assert(out("lo") == ((10L, 250000L, 2L)), out.toString)
    assert(out("hi")._3 > out("lo")._3)
  }

  test("rrfFuse: a doc top-ranked by only one modality still surfaces; scores exact") {
    import graft.operators.Similarity
    // list A (keyword): docs 10,11,12; list B (vector): docs 20,11,21.
    // Doc 10 is rank 1 in A ONLY — it must surface in the fused top-k
    // ahead of every doc that appears mid-list in a single modality.
    // Doc 11 appears in BOTH (ranks 2 and 2) and must fuse to the top.
    val a = Seq((10L, 1), (11L, 2), (12L, 3)).toDF("doc_id", "rank")
    val b = Seq((20L, 1), (11L, 2), (21L, 3)).toDF("doc_id", "rank")
    val out = Similarity.rrfFuse(Seq(a, b), "doc_id", k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(_._1)
    def c(rank: Int) = 1000000L / (60 + rank)
    // doc 11: both lists at rank 2; docs 10/20: one list at rank 1 (tie →
    // id asc); docs 12/21: one list at rank 3
    assert(out == Seq(
      (1, 11L, 2 * c(2)),
      (2, 10L, c(1)),
      (3, 20L, c(1)),
      (4, 12L, c(3)),
      (5, 21L, c(3))), out.toString)
  }

  test("dedupLines: struct-min winner stays correct beyond the packed-key id domain") {
    graft.functions.GraftFunctions.register(spark)
    // doc ids above Long.MaxValue/1e6 ≈ 9.2e12: the former packed
    // doc_id*1e6+chunk_id winner key overflowed (ANSI abort) — and
    // pre-ANSI would alias across documents and elect wrong winners.
    // The struct-min winner is ordered lexicographically on
    // (doc_id, chunk_id), correct at any id range or chunk count.
    val big1 = 9300000000000L
    val big2 = 9400000000000L
    val line = "alpha beta gamma delta"
    val docs = Seq(
      (big2, line), // clone with the HIGHER doc id — must lose
      (big1, line), // global first (smaller doc id) — must win
      (1L, "unique one two three")).toDF("doc_id", "text")
    val out = TextAnalysis.dedupLines(docs, "doc_id", "text", lineTokens = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 1L, 1L, "unique one two three"),
      (big1, 1L, 1L, line),
      (big2, 1L, 0L, "")), out.toString)
  }

  test("epochMaterialize: scarce domain repeats with epoch indexes, abundant subsamples, budget exact") {
    import graft.operators.Sampling
    val docs = (Seq((1L, "a"), (2L, "a")) ++ (3L to 6L).map(i => (i, "b")))
      .toDF("doc_id", "domain")
    val weight = when(col("domain") === "a", 3L).otherwise(1L)
    // W=4, budget=8: a -> 8*3/4 = 6 = 3 full passes of its 2 rows;
    // b -> 2 = partial pass of its first 2 hash-priority rows
    val out = Sampling.epochMaterialize(docs, "doc_id", "domain", weight, 8L)
      .select("domain", "doc_id", "epoch").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out.size == 8, s"budget must be exact: $out")
    val a = out.filter(_._1 == "a")
    assert(a.size == 6 && Seq(1L, 2L).forall(id =>
      a.filter(_._2 == id).map(_._3).sorted == Seq(0L, 1L, 2L)),
      s"each scarce-domain row appears once per epoch 0..2: $a")
    val bOut = out.filter(_._1 == "b")
    assert(bOut.size == 2 && bOut.forall(_._3 == 0L) &&
      bOut.map(_._2).distinct.size == 2,
      s"abundant domain subsamples 2 distinct rows at epoch 0: $bOut")
    // multiplicities within a domain differ by at most 1 (balanced copies)
    val mult = out.groupBy(t => (t._1, t._2)).view.mapValues(_.size).toMap
    Seq("a", "b").foreach { dom =>
      val ms = mult.collect { case ((d2, _), m) if d2 == dom => m }
      assert(ms.max - ms.min <= 1, s"$dom multiplicities: $ms")
    }
  }

  test("c4LineRules and clipScorePairs: totality and invariants over randomized text") {
    import graft.operators.{Multimodal, TextAnalysis}
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(42L)
    val vocab = Vector("the", "quick", "fox!", "a.b", "{", "lorem", "ipsum",
      "JavaScript", "badword", "one?", "\"q\"", "x", "123", "&amp;")
    def randText(): Option[String] =
      if (rnd.nextInt(10) == 0) None
      else Some((0 until rnd.nextInt(30)).map { _ =>
        if (rnd.nextInt(8) == 0) "\n"
        else vocab(rnd.nextInt(vocab.size))
      }.mkString(" "))
    val rows = (1L to 60L).map(i => (i, randText()))
    val docs = rows.toDF("doc_id", "text")
    val c4 = TextAnalysis.c4LineRules(docs, "doc_id", "text",
      badwords = Seq("badword")).collect()
    assert(c4.length == rows.size, "one audit row per input doc, always")
    c4.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"n_kept ≤ n_lines: $r")
      assert(!r.isNullAt(3) && !r.isNullAt(4), s"audit never null-flags: $r")
      if (!r.getBoolean(3)) assert(r.getString(4) == "", s"dropped ⇒ empty: $r")
    }
    val pairs = docs.select(col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      reverse(col("text")).as("caption"))
    val clip = Multimodal.clipScorePairs(pairs, "doc_id", "payload", "caption")
      .collect()
    assert(clip.length == rows.size, "one scored row per pair, always")
    clip.foreach { r =>
      val cos = r.getDouble(4)
      assert(cos >= -1.0001 && cos <= 1.0001, s"cosine bounded: $r")
      assert(r.getBoolean(5) == (cos >= 0.8), s"keep ⇔ threshold: $r")
      assert(!r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3),
        s"integer columns never null: $r")
    }
  }

  test("mixtureAllocate: fractional weights allocate proportionally, not truncate to zero") {
    import graft.operators.Sampling
    val stats = Seq(("a", 100L), ("b", 100L)).toDF("domain", "n_avail")
    // 0.5 : 1.5 = 1 : 3 — a raw long cast would truncate 0.5 to weight 0
    val weight = when(col("domain") === "a", 0.5).otherwise(1.5)
    val alloc = Sampling.mixtureAllocate(stats, "domain", weight, budget = 80L)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(alloc == Map("a" -> 20L, "b" -> 60L), alloc.toString)
    // integer weights are unchanged by the fixed-point quantization
    // (Hamilton is scale-invariant): 8:1:2 over three domains
    val stats3 = Seq(("x", 10L), ("y", 10L), ("z", 10L)).toDF("domain", "n_avail")
    val w3 = when(col("domain") === "x", 8L)
      .when(col("domain") === "y", 1L).otherwise(2L)
    val a3 = Sampling.epochAllocate(stats3, "domain", w3, budget = 11L)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(a3.values.sum == 11L && a3("x") == 8L, a3.toString)
  }

  test("epochMaterialize: budget exactness and balance hold over randomized corpora") {
    import graft.operators.Sampling
    val rnd = new scala.util.Random(20260815L)
    for (kase <- 1 to 6) {
      val nDomains = 1 + rnd.nextInt(4)
      val docs = (0 until nDomains).flatMap { dIdx =>
        val n = 1 + rnd.nextInt(7)
        (0 until n).map(i => (dIdx * 100L + i, s"dom$dIdx"))
      }.toDF("doc_id", "domain")
      val wts = (0 until nDomains).map(i => s"dom$i" -> (1L + rnd.nextInt(8)))
      val weight = wts.tail.foldLeft(when(col("domain") === wts.head._1, wts.head._2)) {
        case (acc, (dom, wv)) => acc.when(col("domain") === dom, wv)
      }.otherwise(1L)
      // budgets below, at, and above corpus size — incl. budget < #domains
      val budget = 1L + rnd.nextInt(40)
      val out = Sampling.epochMaterialize(docs, "doc_id", "domain", weight, budget)
        .select("domain", "doc_id", "epoch").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(out.size == budget, s"case $kase: budget $budget, got ${out.size}")
      // within every domain, per-row multiplicities (incl. zero) differ ≤1
      val byDom = docs.collect().map(r => (r.getString(1), r.getLong(0)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      byDom.foreach { case (dom, ids) =>
        val mult = ids.map(id => out.count(t => t._1 == dom && t._2 == id))
        assert(mult.max - mult.min <= 1,
          s"case $kase dom $dom multiplicities $mult")
      }
      // each row's epochs are exactly 0..copies-1 (no gaps, no dups)
      out.groupBy(t => (t._1, t._2)).foreach { case (k, copies) =>
        assert(copies.map(_._3).sorted == (0L until copies.size).toSeq,
          s"case $kase $k epochs ${copies.map(_._3)}")
      }
    }
  }

  test("rrfFuse: randomized lists fuse to the independently-computed reference ranking") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(20260815L)
    for (kase <- 1 to 5) {
      val nLists = 2 + rnd.nextInt(2)
      val universe: List[Long] = (1L to (5L + rnd.nextInt(10))).toList
      val lists: Seq[List[(Long, Int)]] = (0 until nLists).map { _ =>
        val members = rnd.shuffle(universe).take(2 + rnd.nextInt(universe.size - 1))
        members.zipWithIndex.map { case (id, i) => (id, i + 1) }
      }
      val k = 1 + rnd.nextInt(universe.size)
      val got = Similarity.rrfFuse(
          lists.map(_.toDF("doc_id", "rank")), "doc_id", k)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(_._1)
      // reference computed independently in plain Scala
      val score = universe.map { id =>
        id -> lists.flatMap(_.find(_._1 == id))
          .map { case (_, r) => 1000000L / (60L + r) }.sum
      }.filter(_._2 > 0) ++
        universe.filter(id => lists.forall(!_.exists(_._1 == id))).map(_ -> 0L)
      val expect = score.sortBy { case (id, sc) => (-sc, id) }
        .zipWithIndex.map { case ((id, sc), i) => (i + 1, id, sc) }
        .take(k)
      assert(got == expect, s"case $kase: $got vs $expect")
    }
  }

  test("shardByTokenBudget: randomized corpora — totals, windows, contiguity") {
    import graft.operators.Packing
    val rnd = new scala.util.Random(42L)
    for (kase <- 1 to 4) {
      val docs = (1L to (5L + rnd.nextInt(20))).map { id =>
        (id, (1 to 1 + rnd.nextInt(30)).map(j => s"w${id}_$j").mkString(" "))
      }.toDF("doc_id", "text")
      val budget = 8L + rnd.nextInt(40)
      val out = Packing.shardByTokenBudget(docs, "doc_id", "text", budget)
        .select("doc_id", "n_tokens", "pos", "token_offset", "shard_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      val n = out.size
      // pos is a contiguous 1..n permutation
      assert(out.map(_._3).sorted == (1L to n), s"case $kase")
      // offsets are the exclusive prefix sums of n_tokens in pos order
      val inOrder = out.sortBy(_._3)
      var run = 0L
      inOrder.foreach { case (_, nt, _, off, sid) =>
        assert(off == run, s"case $kase: offset $off expected $run")
        assert(sid == off / budget, s"case $kase: shard $sid offset $off")
        run += nt
      }
      // token totals conserved
      assert(run == out.map(_._2).sum)
    }
  }

  test("ivfRecallCurve: monotone in nProbe, exhaustive probe exact") {
    import graft.operators.Similarity
    graft.functions.GraftFunctions.register(spark)
    // two tight clusters around +x and +y; probes pulled from both
    val vecs = ((1L to 10L).map(i => (i, Seq(1f, i * 0.01f))) ++
      (11L to 20L).map(i => (i, Seq((i - 10) * 0.01f, 1f))))
      .toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id").isin(1L, 11L))
    val cents = Similarity.centroidsDF(spark,
      Seq(0L -> Array(1f, 0f), 1L -> Array(0f, 1f)))
    val curve = Similarity.ivfRecallCurve(cents, vecs, probes,
        "vec_id", "embedding", k = 5, Seq(1, 2))
      .orderBy("n_probe").collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    assert(curve.length == 2)
    assert(curve(0)._2 <= curve(1)._2, s"monotone: ${curve.toSeq}")
    assert(curve(1)._2 == 1.0, "probing every cell is the exact search")
    // with these tight clusters even nProbe=1 finds all true neighbors
    assert(curve(0)._2 == 1.0, s"in-cluster neighbors: ${curve.toSeq}")
  }

  test("datasheet: cells, rollup margins, grouping flags, integer-exact totals") {
    val docs = Seq(
      ("web", "en", "the cat and the dog sat on the mat again and again"),
      ("web", "en", "a b c"),                   // <10 tokens: low quality
      ("web", "de", "der hund und die katze laufen durch den park heute ja"),
      ("book", "en", "it was the best of times it was the worst of times")
    ).toDF("source", "lang", "text")
      // a null-text doc counts as an empty doc in EVERY column (n_docs +1,
      // sums +0), keeping the card self-consistent
      .unionAll(Seq(("book", "en", Option.empty[String]))
        .toDF("source", "lang", "text"))
    val out = graft.operators.TextAnalysis.datasheet(docs, "source", "lang", "text")
      .orderBy("g_src", "g_lang", "source", "lang").collect()
    // 4 cells? (web,en),(web,de),(book,en) = 3 cells + 2 source margins + 1 total
    assert(out.length == 6, out.mkString("\n"))
    val total = out.last
    assert(total.getInt(2) == 1 && total.getInt(3) == 1, "grand total flags")
    assert(total.getLong(4) == 5L, "grand total n_docs")
    val cells = out.filter(r => r.getInt(2) == 0 && r.getInt(3) == 0)
    assert(cells.map(_.getLong(4)).sum == 5L, "cells partition the corpus")
    // margins are exact sums of their cells (integer arithmetic)
    assert(total.getLong(5) == cells.map(_.getLong(5)).sum, "token margin")
    assert(total.getLong(8) == cells.map(_.getLong(8)).sum, "score-sum margin")
    val webEn = cells.find(r => r.getString(0) == "web" && r.getString(1) == "en").get
    assert(webEn.getLong(4) == 2L && webEn.getLong(6) >= 1L,
      "web/en has one quality-kept doc at least")
  }

  test("datasheetFromCells: the full rollup card reconstructs from leaf cells exactly") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      ("web", "en", "the cat sat on the mat and looked at the dog there"),
      ("web", "de", "der hund und die katze laufen durch den park heute ja"),
      ("web", "en", "a b c"),
      ("book", "en", "it was the best of times it was the worst of times"),
      ("book", "fr", "le chat est sur la table avec le chien aussi oui")
    ).toDF("source", "lang", "text")
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select("source", "lang", "g_src", "g_lang", "n_docs", "n_tokens",
        "n_chars", "n_quality_kept", "q_sum_fp")
      .orderBy("g_src", "g_lang", "source", "lang").collect().toSeq
    val direct = norm(TextAnalysis.datasheet(docs, "source", "lang", "text"))
    val viaCells = norm(TextAnalysis.datasheetFromCells(
      TextAnalysis.datasheetCells(docs, "source", "lang", "text"),
      "source", "lang"))
    assert(viaCells == direct,
      "margins must reconstruct from cells row-for-row — the s24 contract")
  }

  test("clusterBalancedSample: dense cell capped, sparse cell intact, deterministic, WindowGroupLimit plan") {
    import graft.operators.Similarity
    // two orthogonal directions; 6 vectors near +x (dense), 2 near +y (sparse)
    val cents = Seq(0L -> Array(1f, 0f), 1L -> Array(0f, 1f))
    val vecs = ((1L to 6L).map(i => (i, Seq(1f, i * 0.01f))) ++
      Seq((7L, Seq(0.01f, 1f)), (8L, Seq(0.02f, 1f)))).toDF("vec_id", "embedding")
    val out = Similarity.clusterBalancedSample(
        vecs, "vec_id", "embedding", cents, perCellCap = 4)
      .select("vec_id", "cell_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val byCell = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byCell(0L) == 4, s"dense cell must be capped at 4: $byCell")
    assert(byCell(1L) == 2, s"sparse cell keeps all its rows: $byCell")
    // the kept-4 subset is the deterministic hash-priority prefix: replay equal
    val again = Similarity.clusterBalancedSample(
        vecs, "vec_id", "embedding", cents, perCellCap = 4)
      .select("vec_id", "cell_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == again.toSeq)
    // quota trim plans as WindowGroupLimit (map-side heaps before the shuffle)
    val plan = Similarity.clusterBalancedSample(
        vecs, "vec_id", "embedding", cents, perCellCap = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"quota must map-side trim:\n$plan")
  }

  test("clipScorePairs: aligned kept at 1.0, disjoint-vocab rejected, empty caption safe, narrow plan") {
    import graft.operators.Multimodal
    graft.functions.GraftFunctions.register(spark)
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val pairs = Seq(
      (1L, text, text),                       // identical: cosine exactly 1
      (2L, text, s"a photo of $text"),        // aligned: near 1
      (3L, text, "zzq one qqx two jjv three kkw four"), // mostly disjoint vocab
      (4L, text, ""),                          // empty caption: cos 0, rejected
      (5L, text, text.toUpperCase)             // case-folded: still 1
    ).toDF("doc_id", "text", "caption")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        col("caption"))
      .unionAll(Seq((6L, Option.empty[Array[Byte]], Option.empty[String]))
        .toDF("doc_id", "payload", "caption"))
    val out = Multimodal.clipScorePairs(pairs, "doc_id", "payload", "caption")
      .orderBy("doc_id").collect()
    def cosOf(i: Int) = out(i).getAs[Double]("clip_cos")
    def keepOf(i: Int) = out(i).getAs[Boolean]("keep")
    assert(cosOf(0) == 0.9999 || cosOf(0) == 1.0, s"identical: ${cosOf(0)}")
    assert(keepOf(0) && keepOf(1) && cosOf(1) > 0.9)
    assert(!keepOf(2) && math.abs(cosOf(2)) < 0.8, s"disjoint: ${cosOf(2)}")
    assert(!keepOf(3) && cosOf(3) == 0.0, "empty caption must score 0, not NaN")
    assert(keepOf(4) && cosOf(4) == cosOf(0), "embedding is case-folded")
    // a NULL payload/caption pair still yields a full scored row: rejected
    // at cos 0 with zero norms and integer (not null) dot/norm columns
    assert(!keepOf(5) && cosOf(5) == 0.0 &&
      out(5).getLong(1) == 0L && out(5).getLong(2) == 0L,
      "null pair must score 0, never null-flag")
    // the whole gate is row-local: no Exchange, no Join, payload never shuffles
    val plan = Multimodal.clipScorePairs(pairs, "doc_id", "payload", "caption")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"clipScorePairs must stay row-local:\n$plan")
  }

  test("c4LineRules: line matrix, doc-level drops, word-boundary badwords, narrow plan") {
    val good = "alpha beta gamma delta epsilon."   // kept: punct + 5 words
    val good2 = "one two three four five six!"     // kept
    val noPunct = "alpha beta gamma delta epsilon" // dropped: no terminal punct
    val short = "tiny line."                       // dropped: <5 words
    val js = "please enable JavaScript to view this."  // dropped: javascript
    val docs = Seq(
      (1L, s"$good\n$noPunct\n$short\n$js\n$good2"), // kept: 2 surviving lines
      (2L, s"$good\nlorem IPSUM dolor sit amet.\n$good2"), // doc drop: lorem ipsum
      (3L, s"$good\ncss { display:none }\n$good2"),  // doc drop: curly brace
      (4L, s"$good\nthis has a badword inside it.\n$good2"), // doc drop: blocklist
      (5L, s"$good\nbadwording is not a badword hit here ok.\n$good2"), // kept:
      // "badwording" tokenizes to its own word — no substring trip... but the
      // line itself contains the bare word, so use a doc WITHOUT it:
      (6L, s"$good\nbadwordish compounds do not trip the rule ok.\n$good2"),
      (7L, s"$good\n$noPunct")                       // doc drop: only 1 kept line
    ).toDF("doc_id", "text")
      .unionAll(Seq((8L, Option.empty[String])).toDF("doc_id", "text"))
    val out = TextAnalysis.c4LineRules(docs, "doc_id", "text",
        badwords = Seq("badword"))
      .orderBy("doc_id").collect()
    def row(i: Int) = (out(i).getLong(1), out(i).getLong(2),
      out(i).getBoolean(3), out(i).getString(4))
    assert(row(0) == ((5L, 2L, true, s"$good\n$good2")), row(0).toString)
    assert(row(1) == ((3L, 3L, false, "")), row(1).toString)
    assert(row(2)._3 == false && row(2)._4 == "")
    assert(row(3)._3 == false, "bare blocklisted word must drop the doc")
    assert(row(4)._3 == false, "doc 5 carries the bare word too")
    assert(row(5)._3 == true, "compound words must NOT trip the blocklist")
    assert(row(6) == ((2L, 1L, false, "")), row(6).toString)
    // a NULL page still yields a full audit row: dropped, never null-flagged
    assert(row(7) == ((1L, 0L, false, "")), row(7).toString)
    // the whole stage is one narrow projection: no Exchange, no Join
    val plan = TextAnalysis.c4LineRules(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"c4LineRules must stay row-local:\n$plan")
  }

  test("bigramFluency: copied docs double their freq, unique stay 1.0, short docs zero") {
    val docs = Seq(
      (1L, "alpha beta gamma"),   // bigrams: (alpha beta), (beta gamma)
      (2L, "alpha beta gamma"),   // exact copy → every bigram freq 2
      (3L, "one two three"),      // unique bigrams → mean 1.0
      (4L, "solo"),               // 1 token → 0 bigrams
      (5L, "alpha beta tail")     // shares (alpha beta): freqs 3 and 1
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramFluency(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    def row(i: Int) = (out(i).getAs[Long]("n_bigrams"),
      out(i).getAs[Long]("freq_sum"), out(i).getAs[Double]("mean_freq"))
    // docs 1/2: (alpha beta) occurs 3× corpus-wide (docs 1,2,5), (beta gamma) 2×
    assert(row(0) == ((2L, 5L, 2.5)) && row(1) == ((2L, 5L, 2.5)))
    assert(row(2) == ((2L, 2L, 1.0)))
    assert(row(3) == ((0L, 0L, 0.0)))
    assert(row(4) == ((2L, 4L, 2.0))) // (alpha beta)=3 + (beta tail)=1
  }

  test("bm25TopK: saturation, idf weighting, length norm, tie-break, coverage") {
    val corpus = Seq(
      (1L, "spark spark spark spark"),       // tf saturation: 4× term
      (2L, "spark"),                          // tf 1, short doc
      (3L, "spark alpha beta gamma delta"),  // tf 1, longer doc
      (4L, "rare alpha"),                     // rare term (df 1)
      (5L, "alpha beta gamma")                // no query term → unranked
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(corpus, "doc_id", "text",
      Seq("spark", "rare"), k = 10).collect()
    val ranked = out.map(_.getAs[Long]("doc_id")).toSeq
    val score = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    // doc 5 has neither term → absent entirely
    assert(!ranked.contains(5L) && ranked.size == 4)
    // idf dominates: 'rare' (df 1) outscores any 'spark' (df 3) doc
    assert(ranked.head == 4L)
    // saturation: tf 4 beats tf 1 at equal length-normless compare, but
    // sublinearly — doc 1 (tf 4, len 4) > doc 2 (tf 1, len 1)
    assert(score(1L) > score(2L))
    // length normalization: same tf 1, shorter doc 2 > longer doc 3
    assert(score(2L) > score(3L))
    // scores strictly positive for every ranked doc
    assert(out.forall(_.getAs[Double]("score") > 0.0))
  }

  test("bpeMergeCandidates: vocab-weighted pair counts, 1-char words skipped, tie-break") {
    val docs = Seq(
      (1L, "ab ab cb"),  // word counts after this corpus: ab=3, cb=1, ba=1, a=1
      (2L, "ba AB a")    // case-folds: AB joins ab; 'a' is 1-char → no pairs
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bpeMergeCandidates(docs, "text", k = 10)
      .as[(String, String, Long)].collect().toSeq
    // (a,b) from ab×3; (b,a) and (c,b) tie at 1 → ordered by (a,b) asc
    assert(out == Seq(("a", "b", 3L), ("b", "a", 1L), ("c", "b", 1L)))
    // k truncates deterministically at the boundary
    val top1 = TextAnalysis.bpeMergeCandidates(docs, "text", k = 1)
      .as[(String, String, Long)].collect().toSeq
    assert(top1 == Seq(("a", "b", 3L)))
  }

  test("cdcChunks: insertion reshapes only the head chunk; identical payloads share all chunks") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val toks = (0 until 200).map(i => s"w$i")
    val anchors = toks.count(t => md5hex(t).startsWith("0"))
    assert(anchors >= 2, "need multiple content anchors for the test")
    val insert = Seq("zzz", "yyy", "xxx")
      .find(t => !md5hex(t).startsWith("0")).get  // non-anchor prefix token
    val a = toks.mkString(" ")
    val docs = Seq((1L, a), (2L, s"$insert $a"), (3L, a)).toDF("doc_id", "text")
    val ch = Multimodal.cdcChunks(docs, "doc_id", "text")
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_hash")
      .as[(Long, String)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq).toMap
    // same payload → identical chunk sequence (doc 3 dedups fully vs doc 1)
    assert(ch(1L) == ch(3L))
    // a front insertion changes ONLY the first chunk: same chunk count,
    // every chunk after the first anchor byte-identical
    assert(ch(2L).size == ch(1L).size)
    assert(ch(2L).head != ch(1L).head && ch(2L).tail == ch(1L).tail,
      "CDC must localize the insertion to the chunk it lands in")
  }

  test("pretrainAudit: each cascade stage drops exactly its target docs") {
    import graft.operators.Pipelines
    graft.functions.GraftFunctions.register(spark)
    val base = "the a " + Seq.fill(60)("word").mkString(" ")  // passes gopher
    val btxt = "the a " + Seq.fill(60)("mark").mkString(" ")  // bench text
    val docs = Seq(
      (1L, base),          // survives everything
      (2L, base),          // exact dup of 1 → dropped at dedup (min id wins)
      (5L, btxt),          // copy of the bench doc → dropped at decontam
      (7L, "the a word"),  // <50 words → dropped at quality
      (3L, btxt)           // 3 ≡ 3 (mod 97) → the benchmark side
    ).toDF("doc_id", "text")
    val r = Pipelines.pretrainAudit(docs, "doc_id", "text").collect()(0)
    def g(c: String): Long = r.getAs[Long](c)
    assert((g("n_raw"), g("s_raw")) == ((4L, 15L)))          // 1,2,5,7
    assert((g("n_quality"), g("s_quality")) == ((3L, 8L)))   // 7 dropped
    assert((g("n_dedup"), g("s_dedup")) == ((2L, 6L)))       // 2 dropped
    assert((g("n_clean"), g("s_clean")) == ((1L, 1L)))       // 5 dropped
    // md5("1") starts with 'c' → doc 1 lands in val, deterministically
    assert((g("n_train"), g("n_val"), g("n_test")) == ((0L, 1L, 0L)))
  }

  test("snapshotDiff: added/removed/changed/unchanged classified per id") {
    val v1 = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("doc_id", "text")
    val v2 = Seq((2L, "y"), (3L, "zz"), (4L, "w")).toDF("doc_id", "text")
    val out = Dedup.snapshotDiff(v1, v2, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    // null payloads: presence is a FLAG, not digest-nullness — a doc in
    // both snapshots with null text is unchanged; null vs text is changed
    val n1 = Seq((1L, null: String), (2L, "x"), (3L, null: String))
      .toDF("doc_id", "text")
    val n2 = Seq((1L, null: String), (2L, null: String), (4L, "y"))
      .toDF("doc_id", "text")
    val nOut = Dedup.snapshotDiff(n1, n2, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(nOut == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("gopherRules: each rule rejects independently, flags attribute the rejection") {
    val long = ("the a " + Seq.fill(60)("word").mkString(" "))        // passes all
    val short = ("the a " + Seq.fill(10)("word").mkString(" "))       // < 50 words
    val longWords = ("the a " + Seq.fill(60)("hippopotamus").mkString(" ")) // mean len > 10
    val numeric = ("the a " + Seq.fill(60)("1234").mkString(" "))     // alpha frac low
    val noStops = Seq.fill(60)("word").mkString(" ")                  // 0 stop words
    val docs = Seq(
      (1L, long), (2L, short), (3L, longWords), (4L, numeric), (5L, noStops)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    def flags(i: Int) = (out(i).getAs[Boolean]("ok_count"),
      out(i).getAs[Boolean]("ok_len"), out(i).getAs[Boolean]("ok_alpha"),
      out(i).getAs[Boolean]("ok_stop"), out(i).getAs[Boolean]("keep"))
    assert(flags(0) == ((true, true, true, true, true)))
    assert(flags(1) == ((false, true, true, true, false)))
    assert(flags(2) == ((true, false, true, true, false)))
    assert(flags(3) == ((true, true, false, true, false)))
    assert(flags(4) == ((true, true, true, false, false)))
    // arithmetic spot-check: doc 1 = 62 words, 2 stop words
    assert(out(0).getAs[Long]("n_words") == 62L &&
      out(0).getAs[Long]("n_stop") == 2L)
    // a zero-token doc is rejected WITH flags, never silently dropped
    val empty = TextAnalysis.gopherRules(
        Seq((9L, "   ")).toDF("doc_id", "text"), "doc_id", "text")
      .collect()
    assert(empty.length == 1 && !empty(0).getAs[Boolean]("keep") &&
      empty(0).getAs[Long]("n_words") == 0L &&
      empty(0).getAs[Double]("mean_word_len") == 0.0)
  }

  test("contrastivePairs: nearest cross-label near-misses as negatives, nearest same-label as positive") {
    def unit(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    // anchor 0 (label 1) at 0°; same-label 3 at 15°; cross-label 1,2 at
    // 5°/10° are the near-misses; cross-label 10 at 90° is an easy negative
    val emb = Seq(
      (0L, unit(0), 1), (1L, unit(5), 2), (2L, unit(10), 2), (3L, unit(15), 1),
      (10L, unit(90), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.contrastivePairs(
        emb, emb.filter(col("vec_id") === 0L),
        "vec_id", "embedding", "label", kNeg = 2)
      .orderBy("role", "rank")
      .select("role", "rank", "neighbor_id")
      .as[(String, Int, Long)].collect().toSeq
    // negatives are the CLOSEST cross-label vectors (5° then 10°), never
    // the easy one at 90°; the positive is the nearest same-label (15°)
    assert(out == Seq(("neg", 1, 1L), ("neg", 2, 2L), ("pos", 1, 3L)))
  }

  test("weightedPrioritySample: priorities match an independent md5 computation; weight biases the draw") {
    val df = spark.range(0, 200).select($"id".as("doc_id"),
      when($"id" < 20, 8).otherwise(1).as("w"))
    val out = graft.operators.Sampling
      .weightedPrioritySample(df, "doc_id", col("w"), k = 30)
      .orderBy("sample_rank")
      .select("sample_rank", "doc_id", "priority").collect()
    // independent reimplementation of u = md5-prefix/2^32 and the
    // iterated-sqrt root — the sample must be bit-identical
    def u(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16).toDouble / 4294967296.0
    }
    def pri(id: Long, w: Int): Double = {
      var x = u(id); var e = w
      while (e > 1) { x = math.sqrt(x); e /= 2 }
      x
    }
    val expected = (0L until 200L)
      .map(id => (id, pri(id, if (id < 20) 8 else 1)))
      .sortBy { case (id, p) => (-p, id) }.take(30)
    assert(out.map(r => (r.getLong(1), r.getDouble(2))).toSeq == expected)
    assert(out.map(_.getInt(0)).toSeq == (1 to 30))
    // the 10%-of-rows weight-8 band must be over-represented in the draw
    val heavy = out.count(_.getLong(1) < 20)
    assert(heavy > 6, s"weight-8 ids should be over-represented, got $heavy/30")
    // a weight outside {1,2,4,8} fails fast instead of silently
    // null-sorting the row out of every sample
    val bad = intercept[Exception] {
      graft.operators.Sampling.weightedPrioritySample(
        spark.range(0, 10).select($"id".as("doc_id"), lit(3).as("w")),
        "doc_id", col("w"), k = 5).collect()
    }
    assert(bad.getMessage.contains("weight must be one of"),
      s"unexpected error: ${bad.getMessage}")
  }

  test("randomProjection: exact linearity, JL norm preservation, deterministic matrix") {
    val rnd = new scala.util.Random(42)
    val vecs = Seq.tabulate(5)(i => (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val doubled = vecs.map { case (id, v) => (id + 100, v.map(x => x * 2.0f)) }
    val df = (vecs ++ doubled).toDF("vec_id", "embedding")
    val out = Quantize.randomProjection(df, "vec_id", "embedding", 64, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out.size == 10 * 16)
    // linearity is BIT-exact: float doubling and power-of-two scaling
    // commute with IEEE rounding, so proj(2v) == 2·proj(v) exactly
    for (i <- 0 until 5; j <- 0 until 16)
      assert(out((i + 100L, j)) == 2.0 * out((i.toLong, j)))
    // JL norm preservation: ||proj v||² ≈ ||v||² within generous k=16
    // distortion on the deterministic fixture
    for (i <- 0 until 5) {
      val orig = vecs(i)._2.map(x => x.toDouble * x).sum
      val red = (0 until 16).map { j => val r = out((i.toLong, j)); r * r }.sum
      assert(red / orig > 0.3 && red / orig < 2.0, s"norm ratio ${red / orig}")
    }
    // the sign matrix is a pure function — a second invocation bit-matches
    val again = Quantize.randomProjection(df, "vec_id", "embedding", 64, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(again == out)
  }

  test("jlTopK: a full-corpus shortlist reduces to the exact ranking") {
    val rnd = new scala.util.Random(7)
    val emb = Seq.tabulate(40)(i =>
        (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 3)
    // with shortlist = |corpus| the first tier filters nothing, so the
    // full-vector re-rank must reproduce the exact top-k bit-for-bit
    val jl = Similarity.jlTopK(emb, probes, "vec_id", "embedding",
        k = 3, shortlist = 40)
      .select("probe_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 3)
      .select("probe_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(jl == bf)
    assert(jl.size == 9) // 3 probes × full k
  }

  test("madOutliers: gross two-sided outliers flagged, inliers untouched, per stratum") {
    val rows = (1 to 20).map(i => ("a", i.toDouble)) ++
      Seq(("a", 1000.0), ("a", -1000.0)) ++            // gross contamination
      (1 to 10).map(i => ("b", i * 100.0))             // clean stratum
    val df = rows.toDF("k", "v")
    val flagged = graft.operators.TextAnalysis.madOutliers(df, "k", "v")
    // stratum a: med 10.5, MAD 5.5 → fence ±24.5; only ±1000 cross it
    val aOut = flagged.filter(col("k") === "a" && col("is_outlier"))
      .select("v").collect().map(_.getDouble(0)).toSet
    assert(aOut == Set(1000.0, -1000.0))
    // clean uniform stratum: fence 1.4826·3·MAD exceeds the half-range
    assert(flagged.filter(col("k") === "b" && col("is_outlier")).isEmpty)
    // output keeps every input row exactly once
    assert(flagged.count() == rows.size)
  }

  test("prototypePrune: per-cell balanced keep, prototypicality order, narrow assignment") {
    def unit(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    // seeds: id 0 at 0°, id 1 at 90°. Cell 0 holds 5 members (seed +
    // 5..35°), cell 1 holds 3 (seed + 80°, 60°) — per-cell keep at 0.5
    // takes ceil(5·.5)=3 and ceil(3·.5)=2, always the MOST prototypical
    val emb = Seq(
      (0L, unit(0)), (1L, unit(90)),
      (10L, unit(5)), (11L, unit(15)), (12L, unit(25)), (13L, unit(35)),
      (20L, unit(80)), (21L, unit(60))
    ).toDF("vec_id", "embedding")
    val out = Similarity.prototypePrune(emb, "vec_id", "embedding",
        numSeeds = 2, keepFrac = 0.5)
      .orderBy("cell", "rank")
      .select("cell", "rank", "vec_id")
      .as[(Long, Int, Long)].collect().toSeq
    // the dense cell keeps 3 of 5, the sparse one 2 of 3 — every region
    // survives, and each keeps its closest-to-prototype members in order
    assert(out == Seq(
      (0L, 1, 0L), (0L, 2, 10L), (0L, 3, 11L),
      (1L, 1, 1L), (1L, 2, 20L)))
    // assignment is a narrow map over the baked codebook: the only
    // exchanges are the per-cell window hash + the AQE single-partition
    // read, never a per-seed join
    val plan = Similarity.prototypePrune(emb, "vec_id", "embedding", 2, 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"assignment must not join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected one cell exchange, got $exchanges:\n$plan")
    // degenerate single-prototype codebook: everything lands in cell 0
    // (greatest() needs two args — the 1-seed path must not crash)
    val one = Similarity.prototypePrune(emb, "vec_id", "embedding",
        numSeeds = 1, keepFrac = 1.0)
      .select("cell").distinct().collect().map(_.getLong(0)).toSeq
    assert(one == Seq(0L))
  }

  test("knnLabelAgreement: majority vote, deterministic tie-break, agree flag") {
    def unit(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    // cluster A near 0°, cluster B near 90° — neighborhoods don't mix at k=3
    val emb = Seq(
      (0L, unit(0), 1), (1L, unit(5), 2), (2L, unit(10), 2), (3L, unit(15), 1),
      (10L, unit(90), 3), (11L, unit(85), 5), (12L, unit(95), 3), (13L, unit(100), 5)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelAgreement(
        emb, emb.filter(col("vec_id").isin(0L, 10L)),
        "vec_id", "embedding", "label", k = 3)
      .orderBy("probe_id").collect()
    // probe 0: neighbors 1,2,3 → labels {2,2,1} → majority 2, disagrees
    assert(out(0).getAs[Int]("majority_label") == 2 &&
      out(0).getAs[Long]("majority_votes") == 2L &&
      !out(0).getAs[Boolean]("agrees"))
    // probe 10: neighbors 11,12,13 → labels {5,3,5} → majority 5, disagrees
    assert(out(1).getAs[Int]("majority_label") == 5 &&
      !out(1).getAs[Boolean]("agrees"))
    // tie: probe 10 vs exactly one neighbor of each label → smallest label wins
    val tie = Similarity.knnLabelAgreement(
        emb.filter(col("vec_id").isin(10L, 11L, 12L)),
        emb.filter(col("vec_id") === 10L),
        "vec_id", "embedding", "label", k = 2)
      .collect()
    assert(tie.length == 1 && tie(0).getAs[Int]("majority_label") == 3 &&
      tie(0).getAs[Long]("majority_votes") == 1L &&
      tie(0).getAs[Boolean]("agrees"))
  }

  test("dupSpanRemoval: canonical kept, overlaps merge, within-doc repeats, short docs pass") {
    graft.functions.GraftFunctions.register(spark)
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),            // canonical owner of [a..h],[b..i],[c..j]
      (2L, "x y a b c d e f g h z"),          // one dup window -> loses 8 tokens
      (4L, "a b c d e f g h i j k"),          // three overlapping dup windows merge
      (5L, "m n o p q r s t m n o p q r s t"),// WITHIN-doc repeat: 2nd copy removed
      (6L, "p q r"),                          // shorter than l -> untouched
      (7L, "")                                // empty -> empty
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpanRemoval(corpus, "doc_id", "text", l = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // doc 1 is the canonical occurrence of every shared window — untouched
    assert(out(1L) == ((10L, 0L, 0L, "a b c d e f g h i j")))
    // doc 2's single duplicated window removes exactly its 8 tokens
    assert(out(2L) == ((11L, 1L, 8L, "x y z")))
    // doc 4's three duplicated windows (positions 0,1,2) merge into one
    // 10-token covered span; the unique tail survives
    assert(out(4L) == ((11L, 3L, 10L, "k")))
    // within-doc repeat: the second copy of [m..t] is non-canonical
    assert(out(5L) == ((16L, 1L, 8L, "m n o p q r s t")))
    // below window length / empty: no windows, pass through
    assert(out(6L) == ((3L, 0L, 0L, "p q r")))
    assert(out(7L) == ((0L, 0L, 0L, "")))
  }

  test("BPE induction: textbook merges, overlap rewrite, tie-breaks, encode stats") {
    import graft.operators.Vocab
    // greedy left-to-right, non-overlapping rewrite
    assert(Vocab.applyMerge(Vector("a", "a", "a"), "a", "a") ==
      Vector("aa", "a"))
    assert(Vocab.applyMerge(Vector("a", "a", "a", "a"), "a", "a") ==
      Vector("aa", "aa"))
    // the classic BPE example corpus: low×5 lower×2 newest×6 widest×3
    val corpus = Seq((1L, ("low " * 5 + "lower " * 2 + "newest " * 6 +
      "widest " * 3).trim), (2L, "")).toDF("doc_id", "text")
    val merges = Vocab.bpeMerges(spark, corpus, "text", nMerges = 6)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // ties break (count desc, left asc, right asc): (e,s)≡(s,t)@9 → e;
    // (l,o)≡(o,w)@7 → l; (n,e)≡(e,w)≡(w,est)@6 → e; (n,ew)≡(ew,est) → ew
    assert(merges.toSeq == Seq(
      (1, "e", "s", "es", 9L), (2, "es", "t", "est", 9L),
      (3, "l", "o", "lo", 7L), (4, "lo", "w", "low", 7L),
      (5, "e", "w", "ew", 6L), (6, "ew", "est", "ewest", 6L)))
    // encode: low→1 sym, lower→3, newest→2 (n,ewest), widest→4 (w,i,d,est)
    val enc = Vocab.bpeEncodeStats(spark, corpus, "doc_id", "text",
        nMerges = 6).orderBy("doc_id").collect()
    assert(enc(0).getLong(1) == 16L && enc(0).getLong(2) == 79L &&
      enc(0).getLong(3) == 35L &&
      enc(0).getLong(4) == 79L * 1000000L / 35L)
    // empty doc: all-zero row survives the left join
    assert(enc(1).getLong(1) == 0L && enc(1).getLong(3) == 0L &&
      enc(1).getLong(4) == 0L)
  }

  test("BPE: non-BMP base alphabet is code points; word-table cap raises loudly") {
    import graft.operators.Vocab
    // a supplementary-plane char must seed as ONE symbol (code point), not
    // two surrogate halves — merges and counts then match the oracle's
    // code-point indexing
    assert(Vocab.codePointSyms("😀x") ==
      Vector("😀", "x"))
    val emoji = Seq((1L, "😀x 😀x")).toDF("doc_id", "text")
    val m = Vocab.bpeMerges(spark, emoji, "text", nMerges = 2).collect()
    assert(m.length == 1 && m(0).getString(1) == "😀" &&
      m(0).getString(2) == "x" && m(0).getLong(4) == 2L)
    val enc = Vocab.bpeEncodeStats(spark, emoji, "doc_id", "text",
      nMerges = 2).collect()(0)
    // 2 words × 2 code points; one merge each → 2 BPE tokens
    assert(enc.getLong(1) == 2L && enc.getLong(2) == 4L &&
      enc.getLong(3) == 2L && enc.getLong(4) == 2000000L)
    // the driver collect is loudly capped: a surviving vocabulary beyond
    // maxWords raises with guidance instead of OOM-ing the driver
    val wide = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      Vocab.bpeMerges(spark, wide, "text", nMerges = 1, minFreq = 1L,
        maxWords = 3)
    }
    assert(e.getMessage.contains("raise minFreq"), e.getMessage)
    // at or under the cap: unchanged result
    assert(Vocab.bpeMerges(spark, wide, "text", nMerges = 1, minFreq = 1L,
      maxWords = 6).count() >= 0L)
  }

  test("dupSpanRemoval: out-of-range doc_id raises instead of colliding") {
    graft.functions.GraftFunctions.register(spark)
    import graft.operators.Dedup
    for (bad <- Seq(-1L, 1L << 43)) {
      val e = intercept[Exception] {
        Dedup.dupSpanRemoval(
          Seq((bad, "a b c d e f g h i j")).toDF("doc_id", "text"),
          "doc_id", "text", l = 8).collect()
      }
      assert(e.getMessage.contains("dupSpanRemoval"), e.getMessage)
    }
    // in-range ids still pass through the validated path untouched
    val ok = Dedup.dupSpanRemoval(
      Seq(((1L << 43) - 1L, "a b c")).toDF("doc_id", "text"),
      "doc_id", "text", l = 8).collect()
    assert(ok.length == 1 && ok(0).getLong(1) == 3L)
  }

  test("scdType2/scdApply: no-op collapse, intervals, incremental ≡ one-shot, at-tail guard") {
    import graft.operators.Dimension
    def ch(rows: (Long, Long, Long, String)*) =
      rows.toDF("k", "us", "cid", "attr")
        .select(col("k"), timestamp_micros(col("us")).as("ts"),
          col("cid"), col("attr"))
    val base = ch((1L, 10L, 100L, "A"), (1L, 20L, 101L, "A"),
      (1L, 30L, 102L, "B"), (2L, 10L, 103L, "X"))
    val dim = Dimension.scdType2(base, "k", "ts", "cid", Seq("attr"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("k"), col("version"), col("attr"),
        unix_micros(col("valid_from")).as("f"),
        unix_micros(col("valid_to")).as("t"), col("is_current"),
        col("change_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4),
        r.getBoolean(5), r.getLong(6))).sorted.toSeq
    // the (1, 20, A) no-op collapsed; half-open intervals chain
    assert(rows(dim) == Seq(
      (1L, 1L, "A", 10L, 30L, false, 100L),
      (1L, 2L, "B", 30L, -1L, true, 102L),
      (2L, 1L, "X", 10L, -1L, true, 103L)))
    // delta: a no-op on key 1 (B again), a real change on 2, a new key 3
    val delta = ch((1L, 40L, 104L, "B"), (2L, 40L, 105L, "Y"),
      (3L, 40L, 106L, "Z"))
    val applied = Dimension.scdApply(dim, delta, "k", "ts", "cid",
      Seq("attr"))
    val oneShot = Dimension.scdType2(base.unionByName(delta), "k", "ts",
      "cid", Seq("attr"))
    assert(rows(applied) == rows(oneShot))
    // key 1 untouched by the no-op; key 2 closed at 40; key 3 appears
    assert(rows(applied).contains((2L, 1L, "X", 10L, 40L, false, 103L)))
    assert(rows(applied).contains((3L, 1L, "Z", 40L, -1L, true, 106L)))
    // at-tail guard: a delta change inside retained history raises
    val e = intercept[IllegalArgumentException] {
      Dimension.scdApply(dim, ch((1L, 25L, 107L, "C")), "k", "ts", "cid",
        Seq("attr"))
    }
    assert(e.getMessage.contains("at or before"), e.getMessage)
  }

  test("scdApply: lastOriginal markers make the at-tail guard exact across collapsed changes") {
    import graft.operators.Dimension
    def ch(rows: (Long, Long, Long, String)*) =
      rows.toDF("k", "us", "cid", "attr")
        .select(col("k"), timestamp_micros(col("us")).as("ts"),
          col("cid"), col("attr"))
    // key 1: (10, A) then a NO-OP (20, A) — scdType2 collapses the 20
    // change, so the dim retains only the ts=10 change
    val base = ch((1L, 10L, 100L, "A"), (1L, 20L, 101L, "A"))
    val dim = Dimension.scdType2(base, "k", "ts", "cid", Seq("attr"))
    assert(dim.count() == 1L)
    val markers = Dimension.scdLastOriginal(base, "k", "ts", "cid")
    // a delta BETWEEN the retained change and the collapsed one: the
    // retained-history guard cannot see it (10 < 15 passes), and the
    // incremental result would silently diverge from the one-shot rebuild
    val between = ch((1L, 15L, 102L, "C"))
    val incremental = Dimension.scdApply(dim, between, "k", "ts", "cid",
      Seq("attr"))
    val oneShot = Dimension.scdType2(base.unionByName(between), "k", "ts",
      "cid", Seq("attr"))
    assert(incremental.count() == 2L && oneShot.count() == 3L,
      "the collapsed change must un-collapse in the one-shot rebuild — " +
        "this divergence is exactly what the marker guard exists to catch")
    // with the markers the guard is exact: the same delta raises
    val e = intercept[IllegalArgumentException] {
      Dimension.scdApply(dim, between, "k", "ts", "cid", Seq("attr"),
        lastOriginal = Some(markers))
    }
    assert(e.getMessage.contains("last original change"), e.getMessage)
    // a genuinely at-tail delta (after the collapsed ts=20) passes the
    // exact guard and reproduces the one-shot rebuild; marker maintenance
    // is a plain max merge
    val after = ch((1L, 30L, 103L, "B"), (2L, 5L, 104L, "X"))
    val applied = Dimension.scdApply(dim, after, "k", "ts", "cid",
      Seq("attr"), lastOriginal = Some(markers))
    val full = Dimension.scdType2(base.unionByName(after), "k", "ts",
      "cid", Seq("attr"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("k"), col("version"), col("attr"),
        unix_micros(col("valid_from")).as("f"), col("is_current"))
      .collect().map(_.toString).sorted.toSeq
    assert(rows(applied) == rows(full))
    val merged = Dimension.scdLastOriginalMerge(markers,
      Dimension.scdLastOriginal(after, "k", "ts", "cid"), "k")
      .select(col("k"), unix_micros(col("last_ts")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged(1L) == 30L && merged(2L) == 5L)
  }

  test("pageRankFixedPoint: hand-computed star ranks, dangling sink, determinism") {
    import graft.operators.Graph
    val star = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L))
      .toDF("src", "dst")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // iter 1: hub gets 0.15e9 + 0.85·(1e9 + 1e9); leaves 0.15e9 + 0.85·(1e9 div 2)
    val r1 = ranks(Graph.pageRankFixedPoint(star, "src", "dst", iters = 1))
    assert(r1 == Map(1L -> 1850000000L, 2L -> 575000000L, 3L -> 575000000L))
    // iter 2 from those: floor arithmetic throughout
    val r2 = ranks(Graph.pageRankFixedPoint(star, "src", "dst", iters = 2))
    assert(r2 == Map(1L -> 1127500000L, 2L -> 936250000L, 3L -> 936250000L))
    // a dangling sink is ranked (union of endpoints) but contributes nothing
    val dang = ranks(Graph.pageRankFixedPoint(
      Seq((1L, 2L)).toDF("src", "dst"), "src", "dst", iters = 1))
    assert(dang == Map(1L -> 150000000L, 2L -> 1000000000L))
    // repeat run is bit-identical (pure integer arithmetic)
    assert(ranks(Graph.pageRankFixedPoint(star, "src", "dst", 2)) == r2)
  }

  test("pageRankFixedPoint: warm start composes exactly; edge-delta maintenance; reliable checkpointing") {
    import graft.operators.Graph
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L), (3L, 2L),
      (4L, 1L)).toDF("src", "dst")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // composition: each iteration is a pure function of the previous
    // vector, so warm(cold(5), 3) ≡ cold(8) BIT-FOR-BIT (exact integers)
    val cold8 = ranks(Graph.pageRankFixedPoint(edges, "src", "dst", 8))
    val cold5 = Graph.pageRankFixedPoint(edges, "src", "dst", 5)
      .localCheckpoint(true)
    val warm = ranks(Graph.pageRankFixedPoint(edges, "src", "dst", 3,
      initRanks = Some(cold5)))
    assert(warm == cold8,
      "a warm start from the 5-iteration vector must reproduce the " +
        "8-iteration cold start exactly")
    // edge-delta maintenance: recompute over edges ∪ delta from the prior
    // vector — the same composition holds on the NEW graph, and a vertex
    // absent from the prior vector enters at initFp
    val grown = edges.unionAll(Seq((5L, 1L), (1L, 5L)).toDF("src", "dst"))
    val warmDelta = ranks(Graph.pageRankFixedPoint(grown, "src", "dst", 2,
      initRanks = Some(Graph.pageRankFixedPoint(grown, "src", "dst", 3)
        .localCheckpoint(true))))
    assert(warmDelta == ranks(Graph.pageRankFixedPoint(grown, "src", "dst", 5)))
    assert(warmDelta.contains(5L))
    // reliable mode: identical ranks, and durable snapshots actually land
    val ckdir = Artifacts.dir("prckpt").toString
    val rel = ranks(Graph.pageRankFixedPoint(edges, "src", "dst", 2,
      checkpointDir = Some(ckdir)))
    assert(rel == ranks(Graph.pageRankFixedPoint(edges, "src", "dst", 2)))
    assert(new java.io.File(ckdir).listFiles().nonEmpty,
      "reliable mode must write durable checkpoint files")
  }

  test("pageRankFixedPoint: exact convergence stop; checkpoint hygiene; session dir restored") {
    import graft.operators.Graph
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L), (3L, 2L),
      (4L, 1L)).toDF("src", "dst")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the integer iteration reaches an exact fixed point on this graph
    val c30 = ranks(Graph.pageRankFixedPoint(edges, "src", "dst", 30))
    assert(c30 == ranks(Graph.pageRankFixedPoint(edges, "src", "dst", 31)),
      "prerequisite: iteration must reach an exact integer fixed point")
    // the convergence stop returns the fixed point from a larger budget —
    // identical vector, early exit (exit point pinned via the snapshot
    // layout below)
    assert(ranks(Graph.pageRankFixedPoint(edges, "src", "dst", 60,
      tolFp = Some(1L))) == c30)
    // warm start from the converged vector + tolFp exits after ONE
    // iteration: observable through the reliable-checkpoint layout
    val prior = Graph.pageRankFixedPoint(edges, "src", "dst", 30)
      .localCheckpoint(true)
    val savedDir = spark.sparkContext.getCheckpointDir
    val ck1 = Artifacts.dir("prhyg1").toString
    val warm = Graph.pageRankFixedPoint(edges, "src", "dst", 50,
      initRanks = Some(prior), tolFp = Some(1L),
      checkpointDir = Some(ck1))
    assert(ranks(warm) == c30,
      "a converged warm start must return the fixed point unchanged")
    assert(spark.sparkContext.getCheckpointDir == savedDir,
      "the session's checkpoint dir must be restored — the global " +
        "setting must not leak to concurrent jobs")
    val priv1 = new java.io.File(ck1).listFiles()
      .filter(_.getName.startsWith("pr-"))
    assert(priv1.length == 1, "one private subdir per invocation")
    assert(priv1.head.listFiles().map(_.getName).sorted.toSeq == Seq("it1"),
      "a converged warm start must exit at iteration 1, keeping only " +
        "that snapshot (base + intermediates deleted)")
    // the returned vector stays collectable from the surviving snapshot
    assert(ranks(warm) == c30)
    // fixed-budget hygiene: k iterations keep exactly the k-th snapshot —
    // a 50-iteration production run holds ONE vector of disk, not fifty
    val ck2 = Artifacts.dir("prhyg2").toString
    Graph.pageRankFixedPoint(edges, "src", "dst", 3,
      checkpointDir = Some(ck2)).count()
    val priv2 = new java.io.File(ck2).listFiles()
      .filter(_.getName.startsWith("pr-")).head
    assert(priv2.listFiles().map(_.getName).sorted.toSeq == Seq("it3"),
      "intermediate iteration snapshots must be deleted as soon as the " +
        "next vector is durable")
  }

  test("marginMinePairs: unique pair mines, duplicated cluster has no margin, exact fp") {
    graft.functions.GraftFunctions.register(spark)
    val ex = Array(1f, 0f, 0f, 0f)
    val ey = Array(0f, 1f, 0f, 0f)
    // src 0 and 6 duplicate each other; tgt 1 and 5 duplicate each other;
    // (2, 3) is the only pair with a real margin
    val src = Seq((0L, ex), (2L, ey), (6L, ex)).toDF("vec_id", "embedding")
    val tgt = Seq((1L, ex), (3L, ey), (5L, ex)).toDF("vec_id", "embedding")
    val out = Similarity.marginMinePairs(src, tgt, "vec_id", "embedding",
        k = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    // orthogonal unit vectors → cosines exactly 1.0 / 0.0 → fp 10⁶ / 0
    // s0: best t1 (tie with t5 breaks by id), top-2 sum 2·10⁶; t1's top-2
    // over src is also 2·10⁶ → 400·10⁶ > 105·(4·10⁶)? no — duplicates
    // have no margin
    assert(out(0L) == ((1L, 1000000L, 2000000L, 2000000L, false)))
    assert(out(6L) == ((1L, 1000000L, 2000000L, 2000000L, false)))
    // s2: unique match t3 — sums are 10⁶ each → 400·10⁶ > 210·10⁶ → mined
    assert(out(2L) == ((3L, 1000000L, 1000000L, 1000000L, true)))
  }

  test("funnel firstTouch: step anchors, gap boundaries, break leaves NULLs, no-entry users absent") {
    import graft.operators.Funnel
    val H = 3600000000L // 1h in micros
    def ev(rows: (Long, Long, Long, String)*) =
      rows.toDF("user_id", "us", "event_id", "event_type")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
          col("event_id"), col("event_type"))
    val events = ev(
      (1L, 0L, 1L, "view"), (1L, H, 2L, "click"),
      (1L, H + H / 2 * 3, 3L, "purchase"),           // 1.5h after click ✓
      (2L, 0L, 4L, "view"), (2L, 3 * H, 5L, "click"), // beyond the 2h gap
      (3L, 0L, 6L, "click"),                          // never entered
      (4L, 0L, 7L, "view"), (4L, 2 * H, 8L, "click"), // exactly AT the gap ✓
      (4L, 4 * H + 1L, 9L, "purchase"),               // 1 µs past click+2h ✗
      (5L, 0L, 10L, "view"), (5L, 0L, 11L, "click")) // same instant: not AFTER
    val out = Funnel.firstTouch(events, "user_id", "ts", "event_id",
        "event_type", Seq("view", "click", "purchase"),
        gapMicros = 2 * H)
      .collect().map(r => r.getLong(0) -> (
        r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getLong(4))).toMap
    assert(out.keySet == Set(1L, 2L, 4L, 5L)) // user 3 never viewed
    assert(out(1L) == ((0L, H, H + H / 2 * 3, 3L)))
    assert(out(2L) == ((0L, -1L, -1L, 1L)))   // click too late
    assert(out(4L) == ((0L, 2 * H, -1L, 2L))) // <= gap counts; +1µs breaks
    assert(out(5L) == ((0L, -1L, -1L, 1L)))   // same-instant is not after
  }

  test("Multimodal: deterministic stub features, schema, modality stats") {
    val feats = Multimodal.extractFeatures(
      Multimodal.assetsFromDocuments(docs), dim = 8)
    val rows = feats.collect()
    assert(rows.length == 5)
    assert(rows.forall(_.features.length == 8))
    // deterministic: same payload -> same features
    val byId = rows.map(r => r.asset_id -> r.features.toSeq).toMap
    assert(byId(1L) == byId(2L))
    val stats = Multimodal.modalityStats(docs).collect()
    assert(stats.map(_.getString(0)).toSeq == Seq("audio", "image", "video"))
    assert(stats.map(_.getAs[Long]("n_assets")).sum == 5)
  }
}
