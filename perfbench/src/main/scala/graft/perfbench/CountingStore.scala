package graft.perfbench

import graft.model.{BtCell, BtRow, RowFilter, RowRange}
import graft.store.{BigtableStore, MutableBigtableStore}

import java.util.concurrent.atomic.AtomicLong

/** Call counters of one [[CountingStore]]. Times are nanoseconds spent
  * inside the wrapped store's methods (for a read: inside `readRows`
  * and the returned iterator's `hasNext`/`next`), so the consumer's own
  * work between rows is not charged to the store.
  */
final class StoreCounters {
  val readCalls, readRanges, readRows, readCells, readBytes, readNs, firstRowNs = new AtomicLong
  val estimateCalls, estimateNs, sampleCalls, sampleNs = new AtomicLong
  val mutateCalls, mutateRows, mutateNs = new AtomicLong

  def snapshot: Map[String, Long] = Map(
    "read_calls" -> readCalls.get, "read_ranges" -> readRanges.get, "read_rows" -> readRows.get,
    "read_cells" -> readCells.get, "read_bytes" -> readBytes.get, "read_ns" -> readNs.get,
    "read_first_row_ns" -> firstRowNs.get, "estimate_calls" -> estimateCalls.get,
    "estimate_ns" -> estimateNs.get, "sample_calls" -> sampleCalls.get, "sample_ns" -> sampleNs.get,
    "mutate_calls" -> mutateCalls.get, "mutate_rows" -> mutateRows.get, "mutate_ns" -> mutateNs.get)
}

/** A [[MutableBigtableStore]] decorator that counts and times every call
  * into `inner` and reports each call as a span to `sink`. The benchmark
  * wraps the client store the connector resolves (layer `store`) and the
  * backing store behind the proto server (layer `server`) with it.
  * Results and effects are exactly those of `inner`: rows pass through
  * untouched, and writes to a read-only inner store fail as the proto
  * server would fail them.
  */
final class CountingStore(inner: BigtableStore, val layer: String, sink: CountingStore.Sink)
    extends MutableBigtableStore {
  val counters = new StoreCounters
  @volatile var enabled = true

  private def rowBytes(r: BtRow): Long =
    r.rowKey.length + r.cells.iterator.map(c => c.family.length + c.qualifier.length + 8L + c.value.length).sum

  private def timed[T](calls: AtomicLong, ns: AtomicLong, method: String, request: String)(f: => T): T = {
    if (!enabled) return f
    calls.incrementAndGet()
    val span = sink.begin(layer, method, request)
    val t0 = System.nanoTime()
    try f
    finally {
      val dt = System.nanoTime() - t0
      ns.addAndGet(dt)
      sink.end(span, dt)
    }
  }

  override def readRows(table: String, ranges: Seq[RowRange], filters: Seq[RowFilter]): Iterator[BtRow] = {
    if (!enabled) return inner.readRows(table, ranges, filters)
    val c = counters
    c.readCalls.incrementAndGet()
    c.readRanges.addAndGet(ranges.size.toLong)
    val handle = sink.begin(layer, "read", CountingStore.requestKey(table, ranges))
    val t0 = System.nanoTime()
    val it = inner.readRows(table, ranges, filters)
    val open = System.nanoTime() - t0
    new Iterator[BtRow] with AutoCloseable {
      private var busy = open
      private var first = false
      private var done = false
      private def finish(): Unit = if (!done) {
        done = true
        c.readNs.addAndGet(busy)
        sink.end(handle, busy)
      }
      override def hasNext: Boolean = {
        val s = System.nanoTime()
        val h = try it.hasNext catch { case e: Throwable => finish(); throw e }
        val e = System.nanoTime()
        busy += e - s
        if (h && !first) { first = true; c.firstRowNs.addAndGet(e - t0) }
        if (!h) finish()
        h
      }
      override def next(): BtRow = {
        val s = System.nanoTime()
        val r = try it.next() catch { case e: Throwable => finish(); throw e }
        busy += System.nanoTime() - s
        c.readRows.incrementAndGet()
        c.readCells.addAndGet(r.cells.size.toLong)
        c.readBytes.addAndGet(rowBytes(r))
        r
      }
      override def close(): Unit = {
        it match { case a: AutoCloseable => a.close(); case _ => () }
        finish()
      }
    }
  }

  override def sampleRowKeys(table: String): Seq[String] =
    timed(counters.sampleCalls, counters.sampleNs, "sample", table)(inner.sampleRowKeys(table))

  override def estimateSize(table: String, ranges: Seq[RowRange]): Option[(Long, Long)] =
    timed(counters.estimateCalls, counters.estimateNs, "estimate",
      CountingStore.requestKey(table, ranges))(inner.estimateSize(table, ranges))

  private def mutable: MutableBigtableStore = inner match {
    case m: MutableBigtableStore => m
    case _ => throw new UnsupportedOperationException(
      s"store behind proto server does not accept writes (${inner.getClass.getSimpleName})")
  }

  override def mutateRows(table: String, mutations: Seq[(String, Seq[BtCell])]): Unit = {
    if (enabled) counters.mutateRows.addAndGet(mutations.size.toLong)
    timed(counters.mutateCalls, counters.mutateNs, "mutate",
      CountingStore.mutateKey(table, mutations))(mutable.mutateRows(table, mutations))
  }

  override def truncateTable(table: String): Unit = mutable.truncateTable(table)
}

object CountingStore {
  /** Receives the calls of a [[CountingStore]]: `begin` returns a handle
    * that `end` closes with the nanoseconds spent inside the store.
    */
  trait Sink {
    def begin(layer: String, method: String, request: String): AnyRef
    def end(handle: AnyRef, busyNs: Long): Unit
  }

  /** Identifies a request on both sides of the wire, so a server call can
    * be matched to the client call that sent it.
    */
  def requestKey(table: String, ranges: Seq[RowRange]): String = s"$table|${ranges.mkString(";")}"
  def mutateKey(table: String, mutations: Seq[(String, Seq[BtCell])]): String =
    s"$table|${mutations.size}|${mutations.headOption.map(_._1).getOrElse("")}"
}
