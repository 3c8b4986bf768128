package graft

import graft.operators.FuzzyMatch

/** The prefix-filtered fuzzy join must equal the brute-force all-pairs
  * answer — on the fixture AND on adversarial inputs that target each
  * filter's soundness edge (multiset grams, short strings, residual-side
  * lexicographic ordering).
  */
class FuzzyMatchSpec extends SparkSpec {

  private def brute(names: Seq[String], k: Int): Set[(String, String, Long)] = {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    (for {
      a <- names; b <- names if a < b
      d = lev(a, b) if d <= k
    } yield (a, b, d.toLong)).toSet
  }

  private def runOn(names: Seq[String]): Set[(String, String, Long)] = {
    import spark.implicits._
    val dir = tmpDir("graft-fuzzy")
    names.toDF("p_name").write.mode("overwrite").parquet(s"$dir/part.parquet")
    FuzzyMatch.fuzzyMatchNames(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
  }

  test("fixture: blocked join == brute force over all distinct part names") {
    val names = graft.engine.Tables.part(spark, sfDir)
      .select("p_name").distinct().collect().map(_.getString(0)).toSeq
    val got = FuzzyMatch.fuzzyMatchNames(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == brute(names, FuzzyMatch.K))
    assert(got.nonEmpty, "fixture should contain fuzzy pairs")
  }

  test("adversarial edges: multiset grams, short strings, residual ordering") {
    val names = Seq(
      // multiset edge: all-identical grams — occurrence keying must keep
      // the six "aa" grams distinct or the prefix collapses to one element
      "aaaaaaa", "aaabaaa",
      // short-string edges (no sound gram bound): must match via residual
      "ab", "ax", "cd", "a",
      // residual ordering edge: the band-side partner sorts BELOW the
      // short string, so least/greatest canonicalization is load-bearing
      "zzzzz", "azzzzzz",
      // non-match controls
      "xxxxxxx", "qqqqqqqqqqqq")
    assert(runOn(names) == brute(names, FuzzyMatch.K))
  }

  test("asymmetric lookup: every (probe, name) pair within K, including dist-0 hits") {
    val names = graft.engine.Tables.part(spark, sfDir)
      .select("p_name").distinct().collect().map(_.getString(0)).toSeq
    val probes = names.map(_.drop(1)).distinct
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      p <- probes; n <- names
      d = lev(p, n) if d <= FuzzyMatch.K
    } yield (p, n, d.toLong)).toSet
    val got = FuzzyMatch.fuzzyLookupProbes(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected)
    // every probe is one deletion from its source name → dist 1 hit exists
    assert(names.forall(n => got.contains((n.drop(1), n, 1L))))
  }

  test("long path is a keyed join, not a cartesian product") {
    val plan = FuzzyMatch.fuzzyMatchNames(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "prefix join must plan as a hash/sort-merge join on the gram key")
  }
}
