package graft

import org.apache.spark.sql.functions._

import graft.operators.Clustering

/** The distributed k-means and the SemDeDup prune built on it are gated by
  * pinned oracles at sf0.01; these specs check the SEMANTICS at sf0.001
  * against independent driver-side recomputations, so a pin drift can be
  * attributed (algorithm bug vs fixture change) rather than just detected.
  */
class ClusteringSpec extends SparkSpec {

  private def normalizedQuantized(): Map[Long, Array[Double]] = {
    val grid = (1L << 20).toDouble
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("raw"))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        val u = if (n == 0) v else v.map(_ / n)
        r.getLong(0) -> u.map(x => math.rint(x * grid) / grid)
      }.toMap
  }

  private def bruteAssign(
      vecs: Map[Long, Array[Double]],
      cents: Array[Array[Double]]): Map[Long, Int] =
    vecs.map { case (id, v) =>
      // same tie-break as the plan's array_max over (dot, cluster) structs:
      // larger dot wins, then larger cluster id
      id -> cents.zipWithIndex.map { case (c, i) =>
        (c.zip(v).map { case (a, b) => a * b }.sum, i)
      }.max._2
    }

  test("every vector lands in exactly one cluster and the summary adds up") {
    val rows = Clustering.embKmeans(spark, sfDir).collect()
    val total = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(rows.map(_.getLong(1)).sum == total, "sum(n_members) != corpus size")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    rows.foreach { r =>
      assert(r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0,
        s"mean_cos out of range: $r")
    }
  }

  test("Lloyd objective is monotone non-decreasing across iterations") {
    val (_, hist) = Clustering.trained(spark, sfDir)
    assert(hist.size >= 2)
    // tolerance = the 2^-20 grid snap: the EXACT Lloyd objective is
    // monotone, but each tracked term is snapped to the grid, so the
    // history can regress by up to one snap quantum without a bug
    hist.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - math.pow(2, -20), s"objective regressed: $hist")
    }
  }

  test("plan assignment equals the driver-side brute argmax") {
    val (cents, _) = Clustering.trained(spark, sfDir)
    val expected = bruteAssign(normalizedQuantized(), cents)
    val got = Clustering.finalAssignment(spark, sfDir)
      .select(col("vec_id"), col("cluster"))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == expected)
  }

  test("semdedup prune equals the brute within-cluster smaller-id-neighbor rule") {
    val (cents, _) = Clustering.trained(spark, sfDir)
    val vecs = normalizedQuantized()
    val assign = bruteAssign(vecs, cents)
    val byCluster = assign.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted)
    val expectedPruned: Map[Int, Long] = byCluster.map { case (c, ids) =>
      c -> ids.count { b =>
        ids.exists { a =>
          a < b && {
            val d = vecs(a).zip(vecs(b)).map { case (x, y) => x * y }.sum
            math.floor(d * 1e6 + 0.5) / 1e6 >= 0.4 // roundTo's floor form
          }
        }
      }.toLong
    }.toMap
    val got = Clustering.semdedupPrune(spark, sfDir).collect()
      .map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap
    got.foreach { case (c, (n, pruned)) =>
      assert(byCluster(c).size.toLong == n, s"cluster $c member count")
      assert(expectedPruned(c) == pruned,
        s"cluster $c pruned: got $pruned expected ${expectedPruned(c)}")
      assert(pruned <= n)
    }
    assert(got.keySet == expectedPruned.keySet.filter(byCluster.contains))
  }

  test("cluster_balanced_sample: quota honored, digest equals brute md5-rank sample") {
    val (cents, _) = Clustering.trained(spark, sfDir)
    val assign = bruteAssign(normalizedQuantized(), cents)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = assign.groupBy(_._2).map { case (c, m) =>
      val taken = m.keys.toSeq
        .sortBy(id => (md5hex(id.toString), id)).take(25).sorted
      c -> (m.size.toLong, taken.size.toLong, md5hex(taken.mkString(",")))
    }
    val got = Clustering.clusterBalancedSample(spark, sfDir).collect()
      .map(r => r.getLong(0).toInt -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got == expected,
      s"balanced sample diverged:\n got: $got\n exp: $expected")
    got.values.foreach { case (n, taken, _) => assert(taken == math.min(25L, n)) }
  }

  test("coverage row: global brute matches, within-cluster is a subset") {
    val vecs = normalizedQuantized()
    val ids = vecs.keys.toSeq.sorted
    val expectedGlobal = ids.count { b =>
      ids.exists { a =>
        a < b && {
          val d = vecs(a).zip(vecs(b)).map { case (x, y) => x * y }.sum
          math.floor(d * 1e6 + 0.5) / 1e6 >= 0.4
        }
      }
    }.toLong
    val r = Clustering.semdedupCoverage(spark, sfDir).collect().head
    assert(r.getLong(0) == ids.size.toLong)
    assert(r.getLong(2) == expectedGlobal, "global brute prune count")
    assert(r.getLong(1) <= r.getLong(2), "within-cluster prune must be a subset")
    assert(r.getLong(3) == r.getLong(2) - r.getLong(1))
  }

  test("emb_pca: top eigenvalue matches driver power iteration; spectrum is sane; deterministic") {
    val vecs = normalizedQuantized().values.toArray
    val n = vecs.length
    val d = vecs.head.length
    val mu = Array.tabulate(d)(i => vecs.map(_(i)).sum / n)
    val cov = Array.tabulate(d, d)((i, j) =>
      vecs.map(v => v(i) * v(j)).sum / n - mu(i) * mu(j))
    val trace = (0 until d).map(i => cov(i)(i)).sum
    // deterministic power iteration for the dominant eigenvalue
    var v = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)
    for (_ <- 1 to 500) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => cov(i)(j) * v(j)).sum)
      val nw = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nw)
    }
    val lambda1 = (0 until d).map(i =>
      v(i) * (0 until d).map(j => cov(i)(j) * v(j)).sum).sum
    val rows = Clustering.embPca(spark, sfDir).collect()
    assert(rows.length == 8)
    val evs = rows.map(_.getAs[Double]("eigenvalue"))
    assert(math.abs(evs(0) - lambda1) <= math.max(1e-4 * lambda1, 1e-6),
      s"top eigenvalue ${evs(0)} vs power-iteration $lambda1")
    assert(evs.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)),
      "eigenvalues must be non-increasing")
    assert(evs.forall(_ >= -1e-9), "covariance eigenvalues must be ~PSD")
    rows.foreach { r =>
      val ratio = r.getAs[Double]("var_ratio")
      val ev = r.getAs[Double]("eigenvalue")
      assert(math.abs(ratio * trace - ev) <= trace * 1e-6 + 1e-6,
        s"var_ratio inconsistent with eigenvalue at $r")
      val td = r.getAs[Long]("top_dim")
      assert(td >= 0 && td < d)
    }
    val again = Clustering.embPca(spark, sfDir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "emb_pca must be deterministic")
  }

  test("coreset_kcenter equals the brute greedy farthest-point traversal") {
    val vecs = normalizedQuantized()
    val k = 16
    val chosen = List(vecs.keys.min)
    val mind = scala.collection.mutable.Map.empty[Long, Double]
    vecs.keys.foreach { id =>
      mind(id) = 1.0 - vecs(chosen.head).zip(vecs(id)).map { case (a, b) => a * b }.sum
    }
    var expected = List((1L, chosen.head, Option.empty[Double]))
    for (rank <- 2 to k) {
      val far = mind.toSeq.maxBy { case (id, d) => (d, -id) }
      expected ::= ((rank.toLong, far._1,
        Some(math.floor(far._2 * 1e6 + 0.5) / 1e6)))
      val c = vecs(far._1)
      vecs.keys.foreach { id =>
        val d = 1.0 - c.zip(vecs(id)).map { case (a, b) => a * b }.sum
        if (d < mind(id)) mind(id) = d
      }
    }
    val got = Clustering.coresetKcenter(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toList
    assert(got == expected.reverse)
    // radii certificate: non-increasing
    val radii = got.flatMap(_._3)
    assert(radii.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }
}
