package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, s: Long, e: Long) =
    Span(id, s"s$id", parent, s, e)

  test("a span without children is all self time") {
    assert(Spans.selfNs(span(0, -1, 100, 400), Nil) == 300)
  }

  test("sequential children are subtracted") {
    val p = span(0, -1, 0, 100)
    val kids = Seq(span(1, 0, 10, 30), span(2, 0, 50, 90))
    assert(Spans.selfNs(p, kids) == 100 - 20 - 40)
  }

  test("overlapping children are counted once") {
    val p = span(0, -1, 0, 100)
    val kids = Seq(span(1, 0, 10, 60), span(2, 0, 40, 70), span(3, 0, 65, 80))
    assert(Spans.selfNs(p, kids) == 100 - 70)
  }

  test("children are clipped to their parent") {
    val p = span(0, -1, 50, 100)
    val kids = Seq(span(1, 0, 0, 60), span(2, 0, 90, 150), span(3, 0, 200, 300))
    assert(Spans.selfNs(p, kids) == 50 - 10 - 10)
  }

  test("a child covering the whole parent leaves no self time") {
    assert(Spans.selfNs(span(0, -1, 10, 20), Seq(span(1, 0, 10, 20))) == 0)
  }

  test("file scans are told apart from cached and checkpointed reads") {
    assert(LayerListener.fileScan("Scan parquet "))
    assert(LayerListener.fileScan("Scan csv"))
    assert(!LayerListener.fileScan("Scan ExistingRDD"))
    assert(!LayerListener.fileScan("InMemoryTableScan"))
    assert(!LayerListener.fileScan("Scan parquetish"))
  }
}
