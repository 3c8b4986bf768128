package perfbench

import org.scalatest.funsuite.AnyFunSuite

class IngestGenSpec extends AnyFunSuite {
  private val start = 1706659165261702L
  private def batches(seed: Long, n: Int) = {
    val g = new IngestGen(seed, 100000L, start)
    Vector.fill(n)(g.batch())
  }

  test("one seed always yields the same batches, another seed others") {
    assert(batches(7, 20) == batches(7, 20))
    assert(batches(7, 20) != batches(8, 20))
  }

  test("batches have the promised shape") {
    val bs = batches(3, 200)
    bs.foreach { b =>
      assert(b.size >= 100 && b.size <= 10000)
      assert(b.map(_.eventId).distinct.size == b.size, "keys unique within a batch")
    }
    val sizes = bs.map(_.size).sorted
    assert(sizes(sizes.size / 2) < 2000, "sizes skew towards small batches")
    assert(sizes.last > 5000)
    val rows = bs.flatten
    def share(p: Change => Boolean) = rows.count(p).toDouble / rows.size
    assert(share(_.op == "delete") > 0.05)
    assert(share(!_.valid) > 0.04)
    assert(rows.filter(_.valid).forall(c => c.tsMicros.exists(_ > start)))
  }

  test("updates favour recent keys") {
    val g = new IngestGen(5, 100000L, start)
    g.batch()
    val b = g.batch()
    val old = b.count(c => c.eventId < 50000L)
    val recent = b.count(c => c.eventId >= 90000L && c.eventId < 100000L)
    assert(recent > 3 * old)
  }

  test("the model applies valid changes in order and drops invalid ones") {
    val m = new IngestModel(Iterator.empty)
    val ts = Some(start)
    m.apply(Seq(Change("upsert", 1L, ts, 7L, "view", 1.5, "{}"),
      Change("upsert", 2L, None, 7L, "view", 1.5, "{}"),
      Change("upsert", 3L, ts, 7L, "view", -0.5, "{}")))
    assert(m.rows.keySet == Set(1L))
    m.apply(Seq(Change("delete", 1L, ts, 0L, "view", 0.0, "{}"),
      Change("upsert", 4L, ts, 8L, "purchase", 2.0, "{}")))
    assert(m.rows.keySet == Set(4L))
    assert(m.snapshot == Seq(1L, 1L, 0L, start, start, 1L, 2.0))
  }
}
