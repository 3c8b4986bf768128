package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** LSH paths vs their exact baselines on sf0.001 (500 docs / 500 vectors). */
class DedupSimilaritySpec extends SparkSpec {

  test("emb_quantize: per-element error bounded by scale/2, mse by its square") {
    val rows = graft.operators.Similarity.embQuantize(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (scale, mse, maxErr) =
        (r.getAs[Double]("scale"), r.getAs[Double]("mse"), r.getAs[Double]("max_abs_err"))
      assert(scale > 0)
      // max|x| = 127*scale by construction, so rounding never clamps and
      // the reconstruction error is at most half a quantization step
      // (tolerance: both columns are independently rounded to 6 dp)
      assert(maxErr <= scale / 2 + 1e-6, s"vec ${r.getLong(0)}: $maxErr > ${scale / 2}")
      assert(mse <= scale * scale / 4 + 1e-6)
      assert(mse >= 0)
    }
  }

  test("dedup_incremental: every replayed doc rematches its source at jaccard 1.0") {
    val rows = Dedup.dedupIncremental(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val replayed = graft.engine.Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 25 === 0)
      .collect().map(_.getLong(0))
    assert(replayed.nonEmpty)
    replayed.foreach { id =>
      assert(rows.get((id + 100000L, id)).contains(1.0),
        s"incoming copy of $id did not rematch its source exactly")
    }
    // asymmetry: matches always point new -> old
    rows.keys.foreach { case (n, o) => assert(n >= 100000L && o < 100000L) }
  }

  test("MinHash LSH finds every lang-blocked brute-force pair, with equal jaccard") {
    val brute = Dedup.dedupNgramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.dedupMinhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute is lang-blocked, LSH is global: brute ⊆ lsh, scores identical
    brute.foreach { case (pair, j) =>
      assert(lsh.contains(pair), s"LSH missed brute pair $pair")
      assert(lsh(pair) === j)
    }
    // every LSH pair genuinely clears the threshold
    lsh.values.foreach(j => assert(j >= 0.4))
  }

  test("SimHash bands find the high-similarity Jaccard pairs (hamming<=3 exhaustive)") {
    val near = Dedup.dedupMinhashLsh(spark, sfDir).filter(col("jaccard") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.dedupSimhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-identical token bags should collapse to near-identical simhashes
    val found = near.count(sim.contains)
    assert(near.isEmpty || found >= near.size / 2,
      s"simhash found only $found of ${near.size} high-jaccard pairs")
  }

  test("shingle DF cap kills the quadratic hot-shingle candidate explosion") {
    import spark.implicits._
    // 60 docs all sharing one boilerplate 3-gram, plus unique tails: without
    // a DF cap the shared shingle alone emits 60*59/2 = 1770 candidate pairs
    val docs = (0 until 60)
      .map(i => (i.toLong, "en", s"shared boiler plate u$i v$i w$i"))
      .toDF("doc_id", "lang", "text")
    val uncapped = Dedup.postingsOf(docs, dfCap = Int.MaxValue)
    val capped = Dedup.postingsOf(docs, dfCap = 10)
    def candidatePairs(p: org.apache.spark.sql.DataFrame): Long =
      p.as("x").join(p.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id")).count()
    assert(candidatePairs(uncapped) === 1770L)
    assert(candidatePairs(capped) === 0L)
    // only the boilerplate shingle is dropped — unique content survives
    assert(capped.count() === 60L * 3)
  }

  test("exact dedup collapses replicated docs to one survivor with min key") {
    val rows = Dedup.dedupExact(spark, sfDir).collect()
    assert(rows.forall(_.getLong(0) < 100000L), "survivor must be the original key")
    val copies = rows.map(_.getLong(1)).toSeq
    assert(copies.forall(c => c === 1L || c === 2L))
    assert(copies.count(_ === 2L) > 0)
  }

  test("connected components: paths, triangles and isolated pairs collapse to min-root clusters") {
    import spark.implicits._
    // path 1-2-3-4-5 (diameter 4), triangle 10-11-12, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("dedup_clusters marks exactly one survivor (the min doc) per cluster") {
    val rows = Dedup.dedupClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (root, members) =>
      assert(members.count(_._3) === 1, s"cluster $root has != 1 survivor")
      assert(members.map(_._1).min === root, s"cluster root $root is not the min doc")
    }
    // every brute-force dup pair lands in one cluster
    val byDoc = rows.map(r => r._1 -> r._2).toMap
    Dedup.dedupNgramJaccard(spark, sfDir).collect().foreach { r =>
      assert(byDoc(r.getLong(0)) === byDoc(r.getLong(1)), "pair split across clusters")
    }
  }

  test("LSH top-k: recall >= 13/15 at <= 28% rerank (probe) rate") {
    val brute = Similarity.simTopkBrute(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bruteAll = brute.keySet
    val lsh = Similarity.simLshTopk(spark, sfDir).collect()
    // every LSH hit that is also a brute hit must carry the identical score
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      brute.get(key).foreach(exact => assert(r.getDouble(2) === exact))
    }
    val hits = lsh.count(r => bruteAll.contains((r.getLong(0), r.getLong(1))))
    assert(hits >= 13, s"LSH recall@3 too low: $hits/15")
    // probe rate = pairs whose exact cosine is computed / all pairs
    val nQueries = 5L
    val nCands = 495L
    val reranked = Similarity.simLshCandidates(spark, sfDir).count()
    val rate = reranked.toDouble / (nQueries * nCands)
    // 12 tables rerank ~25% on this noise-floor fixture (the r10 measured
    // knee for >=13/15 recall); the ceiling pins that the rerank volume
    // does not silently grow past the measured cost of that recall
    assert(rate <= 0.28, f"rerank rate $rate%.3f exceeds 28%%")
    info(f"LSH recall@3: $hits/15 at ${rate * 100}%.1f%% rerank rate")
  }

  test("PQ top-k: recall >= 12/15 at a bounded overfetch, exact scores on hits") {
    val brute = Similarity.simTopkBrute(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = Similarity.simPqTopk(spark, sfDir).collect()
    pq.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      // reranked scores are EXACT dot products — identical where both agree
      brute.get(key).foreach(exact => assert(r.getDouble(2) === exact))
    }
    val hits = pq.count(r => brute.contains((r.getLong(0), r.getLong(1))))
    assert(hits >= 12, s"PQ recall@3 too low: $hits/15")
    // the rerank budget is the fixed overfetch (128 of 495 candidates
    // here; 128 of ~2000 at sf0.1 — the ratio shrinks with corpus size
    // while LSH/IVF probe rates stay proportional)
    info(s"PQ recall@3: $hits/15 at overfetch 128")
  }

  test("IVF top-k returns exact scores for its hits and nontrivial recall") {
    val brute = Similarity.simTopkBrute(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.simIvfTopk(spark, sfDir).collect()
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      brute.get(key).foreach(exact => assert(r.getDouble(2) === exact))
    }
    val hits = ivf.count(r => brute.contains((r.getLong(0), r.getLong(1))))
    // nprobe=10 of k=16 cells (the r10 measured knee) measures 13/15 on
    // the deterministic index — gate at 12 with one hit of headroom for
    // centroid-sample jitter across SFs (the exact sf0.01 value is pinned
    // by the driver's sim_recall_report oracle).
    assert(hits >= 12, s"IVF recall too low: $hits of ${brute.size}")
    info(s"IVF recall@3: $hits/${brute.size}")
  }

  test("dedup_quality_survivor: one survivor per cluster, argmax quality, differs from min-id") {
    val rows = graft.operators.Dedup.dedupQualitySurvivor(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty, "no near-dup clusters at sf0.001 — vacuous")
    rows.groupBy(_._2).foreach { case (root, members) =>
      val survivors = members.filter(_._4)
      assert(survivors.length == 1, s"cluster $root has ${survivors.length} survivors")
      val best = members.maxBy(m => (m._3, -m._1))
      assert(survivors.head._1 == best._1,
        s"cluster $root survivor ${survivors.head._1} is not the quality argmax ${best._1}")
    }
    // the rule must actually differ from dedup_clusters' min-id convention
    // somewhere, or the operator is a re-skin
    assert(rows.exists(r => r._4 && r._1 != r._2),
      "every survivor is the min-id root — quality weighting is vacuous on this fixture")
  }

  test("hard_negative_mine: cross-label only, broadcast plan, agrees with brute recompute") {
    val df = graft.operators.Similarity.hardNegativeMine(spark, sfDir)
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastNestedLoopJoin") || phys.contains("BroadcastExchange"),
      "anchor batch must broadcast — the corpus side may never shuffle for scoring")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // per-anchor contracts: labels differ, ranks dense from 1, score
    // non-increasing with rank, every score below the dup-exclusion band
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(5))
      assert(sorted.map(_.getLong(5)).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a.getDouble(4) >= b.getDouble(4); case _ => true })
      sorted.foreach { r =>
        assert(r.getInt(1) != r.getInt(3), "same-label pair leaked into negatives")
        assert(r.getDouble(4) < 0.95, "dup-exclusion band violated")
      }
    }
    // brute recompute for one anchor: top negative must match
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getInt(2),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    val (aid, albl, araw) = emb.find(_._1 == 0L).get
    def cos(x: Array[Double], y: Array[Double]): Double = {
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      d / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    val want = emb.filter(_._2 != albl)
      .map { case (id, _, v) => (id, math.floor(cos(araw, v) * 1e6 + 0.5) / 1e6) }
      .filter(_._2 < 0.95)
      .sortBy { case (id, c) => (-c, id) }.head
    val got = rows.filter(r => r.getLong(0) == aid && r.getLong(5) == 1L).head
    assert((got.getLong(2), got.getDouble(4)) == want,
      s"anchor 0 top negative disagrees with brute: got ${(got.getLong(2), got.getDouble(4))} want $want")
  }
}
