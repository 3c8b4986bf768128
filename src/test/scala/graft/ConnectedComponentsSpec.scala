package graft

import graft.operators.Dedup

/** The RDD label-propagation kernel vs a driver-side union-find reference
  * on randomized and adversarial graphs — the loop is the one place where
  * a wrong fixpoint silently corrupts downstream dedup, so it gets
  * topology coverage beyond the fixture oracles (which pin it on the real
  * dup graphs at sf0.01 via recursive-CTE SQL).
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonicalize to the component MIN (find after all unions)
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => ns.map(_ -> ns.min) }.toMap
  }

  private def ccOf(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("random sparse graphs match union-find (5 seeds)") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 120
      val pairs = Seq.fill(140)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(ccOf(pairs) === unionFind(pairs), s"seed $seed")
    }
  }

  test("adversarial 300-node chain converges (pointer jumping) and labels to the min") {
    val pairs = (0L until 299L).map(i => (i + 1, i))
    val cc = ccOf(pairs)
    assert(cc.size === 300)
    assert(cc.values.forall(_ === 0L))
  }

  test("disjoint cliques, stars, and duplicate/reversed edges") {
    val clique = for (a <- 0L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val star = (101L to 120L).map(x => (100L, x))
    val dups = Seq((200L, 201L), (201L, 200L), (200L, 201L))
    val pairs = clique ++ star ++ dups
    val cc = ccOf(pairs)
    assert((0L to 5L).forall(cc(_) === 0L))
    assert((100L to 120L).forall(cc(_) === 100L))
    assert(cc(200L) === 200L && cc(201L) === 200L)
    assert(cc === unionFind(pairs))
  }
}
