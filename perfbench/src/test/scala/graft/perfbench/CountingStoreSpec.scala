package graft.perfbench

import graft.model.{BtCell, BtRow, CellCodec, RowFilter, RowRange}
import graft.store.{BigtableStore, ConcurrentBigtable, InMemoryBigtable, ProtoSocketBigtableServer}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** The store decorators change nothing about results or effects, and
  * their counters match hand counts.
  */
class CountingStoreSpec extends AnyFunSuite {

  private def cell(q: String, ts: Long, v: String) = BtCell("cf", q, ts, CellCodec.encodeString(v))

  /** 3 rows: "a" 2 cells, "b" 1 cell, "c" 3 cells (two versions of x). */
  private val rows: Seq[(String, Seq[BtCell])] = Seq(
    "a" -> Seq(cell("x", 10, "a1"), cell("y", 10, "a2")),
    "b" -> Seq(cell("x", 10, "bb")),
    "c" -> Seq(cell("x", 20, "c2"), cell("x", 10, "c1"), cell("y", 10, "c3")))

  private def snapshot = InMemoryBigtable(Map("t" -> rows))

  /** Rows with cell values as comparable sequences. */
  private def norm(it: Iterator[BtRow]) =
    it.map(r => r.rowKey -> r.cells.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq))).toVector

  private final class Recorder extends CountingStore.Sink {
    val begun = new AtomicInteger
    val ended = new AtomicInteger
    def begin(layer: String, method: String, request: String): AnyRef = { begun.incrementAndGet(); "h" }
    def end(handle: AnyRef, busyNs: Long): Unit = ended.incrementAndGet()
  }

  /** (plain client, decorated client, decorated server side) over `backing`,
    * each behind its own proto server.
    */
  private def withStores[T](backing: BigtableStore, backing2: BigtableStore, sink: CountingStore.Sink)(
      f: (BigtableStore, CountingStore, CountingStore) => T): T = {
    val plainServer = new ProtoSocketBigtableServer(backing)
    val serverSide = new CountingStore(backing2, "server", sink)
    val decoServer = new ProtoSocketBigtableServer(serverSide)
    try f(plainServer.clientStore, new CountingStore(decoServer.clientStore, "store", sink), serverSide)
    finally { plainServer.close(); decoServer.close() }
  }

  private val requests: Seq[(Seq[RowRange], Seq[RowFilter])] = Seq(
    (Seq(RowRange.full), Nil),
    (Seq(RowRange.point("b")), Nil),
    (Seq(RowRange.closed("a", "b"), RowRange.point("c")), Seq(RowFilter.CellsPerColumnLimit(1))),
    (Seq(RowRange.closedOpen("b", "z")), Seq(RowFilter.ColumnQualifierRegex("x"))),
    (Seq(RowRange.point("nope")), Nil))

  test("decorated client and server stores return the rows the undecorated ones return") {
    val s = snapshot
    withStores(s, s, new Recorder) { (plain, deco, _) =>
      requests.foreach { case (ranges, filters) =>
        assert(norm(deco.readRows("t", ranges, filters)) == norm(plain.readRows("t", ranges, filters)))
        assert(deco.estimateSize("t", ranges) == plain.estimateSize("t", ranges))
      }
      assert(deco.sampleRowKeys("t") == plain.sampleRowKeys("t"))
      val e1 = intercept[Exception](plain.readRows("missing", Seq(RowRange.full), Nil).toVector)
      val e2 = intercept[Exception](deco.readRows("missing", Seq(RowRange.full), Nil).toVector)
      assert(e1.getClass == e2.getClass)
    }
  }

  test("mutations through the decorators have the effects of undecorated mutations") {
    val a = new ConcurrentBigtable
    val b = new ConcurrentBigtable
    withStores(a, b, new Recorder) { (plain, deco, _) =>
      val batches = Seq(rows.take(2), rows.drop(1), Seq("a" -> Seq(cell("x", 10, "a1-new"), cell("x", 30, "a1-v2"))))
      batches.foreach { m =>
        plain.asInstanceOf[graft.store.MutableBigtableStore].mutateRows("t", m)
        deco.mutateRows("t", m)
      }
      assert(norm(b.readRows("t", Seq(RowRange.full), Nil)) == norm(a.readRows("t", Seq(RowRange.full), Nil)))
      assert(norm(deco.readRows("t", Seq(RowRange.full), Nil)) == norm(plain.readRows("t", Seq(RowRange.full), Nil)))
    }
    // a read-only backing store refuses writes the same way, decorated or not
    val s = snapshot
    withStores(s, s, new Recorder) { (plain, deco, _) =>
      val e1 = intercept[Exception](plain.asInstanceOf[graft.store.MutableBigtableStore].mutateRows("t", rows))
      val e2 = intercept[Exception](deco.mutateRows("t", rows))
      assert(e1.getClass == e2.getClass)
    }
  }

  test("counters equal hand counts on a 3-row table") {
    val rec = new Recorder
    val s = snapshot
    withStores(s, s, rec) { (_, deco, server) =>
      // a point read is 1 call, 1 range, 1 row and that row's cells
      assert(deco.readRows("t", Seq(RowRange.point("b")), Nil).size == 1)
      val c = deco.counters.snapshot
      assert(c("read_calls") == 1 && c("read_ranges") == 1 && c("read_rows") == 1 && c("read_cells") == 1)
      // key "b" + family "cf" + qualifier "x" + 8 timestamp bytes + value "bb"
      assert(c("read_bytes") == 1 + 2 + 1 + 8 + 2)
      assert(server.counters.snapshot("read_rows") == 1 && server.counters.snapshot("read_cells") == 1)

      // a full read: 3 rows, 2 + 1 + 3 cells; two ranges count as two
      assert(deco.readRows("t", Seq(RowRange.closed("a", "a"), RowRange.closedOpen("b", "d")), Nil).size == 3)
      val c2 = deco.counters.snapshot
      assert(c2("read_calls") == 2 && c2("read_ranges") == 3 && c2("read_rows") == 4 && c2("read_cells") == 7)
      assert(server.counters.snapshot("read_calls") == 2 && server.counters.snapshot("read_cells") == 7)

      deco.estimateSize("t", Seq(RowRange.full))
      deco.sampleRowKeys("t")
      val c3 = deco.counters.snapshot
      assert(c3("estimate_calls") == 1 && c3("sample_calls") == 1)
      assert(c3("read_ns") > 0 && c3("read_first_row_ns") > 0)
    }
    // every call that began also ended (server and client side)
    assert(rec.begun.get == rec.ended.get && rec.begun.get == 8)
  }

  test("mutate counters count calls and rows") {
    val b = new ConcurrentBigtable
    withStores(new ConcurrentBigtable, b, new Recorder) { (_, deco, server) =>
      deco.mutateRows("t", rows)
      deco.mutateRows("t", rows.take(1))
      val c = deco.counters.snapshot
      assert(c("mutate_calls") == 2 && c("mutate_rows") == 4)
      assert(server.counters.snapshot("mutate_rows") == 4)
    }
  }

  test("a disabled decorator passes calls through uncounted") {
    val s = snapshot
    withStores(s, s, new Recorder) { (_, deco, _) =>
      deco.enabled = false
      assert(deco.readRows("t", Seq(RowRange.full), Nil).size == 3)
      assert(deco.counters.snapshot.values.forall(_ == 0))
    }
  }
}

/** The generator is a pure function of its seed. */
class GenSpec extends AnyFunSuite {
  private def wideChecksum(seed: Long): String = {
    val g = new Gen.Wide(seed, 4096)
    val sum = new Gen.Checksum
    (0 until g.n).foreach(j => g.cells(j).foreach(sum.add(g.key(j), _)))
    sum.hex
  }

  test("same seed, same checksum; another seed, another checksum") {
    assert(wideChecksum(7) == wideChecksum(7))
    assert(wideChecksum(7) != wideChecksum(8))
    val d1 = new Gen.Docs(3, 200, 50)
    val d2 = new Gen.Docs(3, 200, 50)
    assert(d1.texts.toSeq == d2.texts.toSeq && d1.plantedPairs == d2.plantedPairs)
  }

  test("planted pairs carry their exact Jaccard") {
    val d = new Gen.Docs(5, 300, 100)
    assert(d.plantedPairs.nonEmpty)
    d.plantedPairs.foreach { case (a, b, j) =>
      assert(j == Gen.Jaccard.exact(d.texts(a), d.texts(b)) && j > 0.0 && j <= 1.0)
    }
    assert(Gen.Jaccard.exact("abcdef", "abcdef") == 1.0)
    // shingles {abcde, bcdef} vs {abcde, bcdeg}: 1 shared of 3
    assert(Gen.Jaccard.exact("abcdef", "abcdeg") == 1.0 / 3)
  }

  test("interval unions used for self time") {
    assert(Tracer.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
    assert(Tracer.unionLength(Nil) == 0.0)
  }
}
