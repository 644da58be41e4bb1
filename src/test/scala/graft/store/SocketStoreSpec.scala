package graft.store

import graft.model._
import org.scalatest.funsuite.AnyFunSuite

/** The socket transport ([[ProtoSocketBigtableServer]]/
  * [[ProtoSocketBigtableStore]]) must be behaviorally indistinguishable
  * from the store it fronts: same rows in the same order under the same
  * filters, same error shapes, same sampling/statistics, and writes
  * reaching the backing store — across a REAL localhost TCP hop, with
  * the client's only state being (host, port). It must also behave as
  * a connection should: partial scans release their socket, a dropped
  * connection is a transient fault that [[RetryingStore]] resumes
  * exactly, and concurrent scans do not interleave. This is the offline
  * proof that executors need nothing but the [[BigtableStore]] trait
  * plus an address — the seam a gRPC-backed production client plugs
  * into (reference datasource.rs:81-88). The wire bytes themselves are
  * pinned in [[ReadRowsProtoSpec]].
  */
class SocketStoreSpec extends AnyFunSuite {
  private def cell(q: String, ts: Long, v: String, fam: String = "f") =
    BtCell(fam, q, ts, CellCodec.encodeString(v))

  private val backing = {
    val b = new InMemoryBigtable.Builder
    Seq("a", "b", "c", "d", "e").zipWithIndex.foreach { case (k, i) =>
      b.put("t", k, cell("q1", 100L + i, s"v$k"))
      b.put("t", k, cell("q1", 50L, s"old$k"))
      b.put("t", k, cell("q2", 100L + i, s"w$k"))
    }
    // a wide table exercising multi-frame streaming (> BatchRows rows)
    (0 until 1500).foreach { i =>
      b.put("wide", f"k$i%06d", cell("q", 1L, s"v$i"))
    }
    b.build()
  }

  private val server = new ProtoSocketBigtableServer(backing)
  private val client = server.clientStore

  test("readRows parity with the backing store (ranges + filters)") {
    val ranges = Seq(RowRange.closed("b", "d"))
    val filters = Seq(RowFilter.CellsPerColumnLimit(1))
    val direct = backing.readRows("t", ranges, filters).toSeq
    val remote = client.readRows("t", ranges, filters).toSeq
    assert(remote.map(_.rowKey) == direct.map(_.rowKey))
    assert(remote.map(_.cells.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq))) ==
      direct.map(_.cells.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq))))
  }

  test("multi-frame scan streams every row exactly once, in key order") {
    val remote = client.readRows("wide", Seq(RowRange.full), Nil).map(_.rowKey).toSeq
    assert(remote.size == 1500)
    assert(remote == remote.sorted)
    assert(remote.distinct.size == 1500)
  }

  test("remote errors keep their shape (unknown table, empty ranges)") {
    val e = intercept[IllegalArgumentException] {
      client.readRows("nope", Seq(RowRange.full), Nil).toSeq
    }
    assert(e.getMessage.contains("unknown bigtable table"))
    // empty-range contract enforced CLIENT-side (no wire round trip)
    intercept[IllegalArgumentException] { client.readRows("t", Nil, Nil) }
  }

  test("sampleRowKeys and estimateSize cross the wire") {
    assert(client.sampleRowKeys("wide") == backing.sampleRowKeys("wide"))
    assert(client.estimateSize("wide", Seq(RowRange.full)) ==
      backing.estimateSize("wide", Seq(RowRange.full)))
  }

  test("writes reach a mutable backing store; rejected on a read-only one") {
    val mut = new ConcurrentBigtable
    val srv = new ProtoSocketBigtableServer(mut)
    try {
      val c = srv.clientStore
      c.mutateRows("w", Seq("r1" -> Seq(cell("q", 1L, "x"))))
      assert(mut.readRows("w", Seq(RowRange.full), Nil).toSeq.map(_.rowKey) == Seq("r1"))
      c.truncateTable("w")
      intercept[IllegalArgumentException] { mut.readRows("w", Seq(RowRange.full), Nil).toSeq }
    } finally srv.close()

    // read-only backing: the write fails remotely with the remote shape
    intercept[UnsupportedOperationException] {
      client.mutateRows("t", Seq("r1" -> Seq(cell("q", 1L, "x"))))
    }
  }

  test("client state is only (host, port): a serialized clone still reads") {
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(client)
      oos.close()
      bos.toByteArray
    }
    assert(bytes.length < 4096, s"socket store handle should be tiny, was ${bytes.length}B")
    val clone = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
      .readObject().asInstanceOf[ProtoSocketBigtableStore]
    assert(clone.readRows("t", Seq(RowRange.point("a")), Nil).map(_.rowKey).toSeq == Seq("a"))
  }

  test("partially-consumed scan releases the connection via close()") {
    val it = client.readRows("wide", Seq(RowRange.full), Nil)
    assert(it.next().rowKey == "k000000") // pull one row, leave the rest
    it match {
      case c: AutoCloseable => c.close()
      case other            => fail(s"socket scan iterator must be AutoCloseable, got ${other.getClass}")
    }
    // the socket is gone: further pulls see a closed stream, not a hang
    assert(!it.hasNext)
  }

  test("mid-scan connection drop is a transient fault and RetryingStore resumes exactly") {
    // A rogue server that speaks the real wire (method byte + request
    // frame in; `[flag][len][ReadRowsResponse]` frames out) but
    // hard-drops the first two scans after 2 frames — no end-of-stream
    // frame, no Status, just a closed socket (a crashed server / reset
    // network). Later connections serve correctly. The real client must
    // surface the truncation as TransientStoreException (NOT a clean
    // end — that would be silent data loss), and RetryingStore must
    // resume past the last delivered key over a fresh connection with
    // no dupes or gaps.
    import ProtoSocket._
    import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
    val requests = new java.util.concurrent.ConcurrentLinkedQueue[Seq[RowRange]]()
    val served = new java.util.concurrent.atomic.AtomicInteger(0)
    val srv = new java.net.ServerSocket(0, 8, java.net.InetAddress.getByName("127.0.0.1"))
    val accept = new Thread(() => {
      try while (true) {
        val sock = srv.accept()
        val n = served.getAndIncrement()
        val t = new Thread(() => {
          try {
            val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
            val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
            in.readByte() // method: every request here is a ReadRows
            val (table, ranges, filters) = ReadRowsProto.decodeReadRowsRequest(readFrame(in)._2)
            requests.add(ranges)
            val batches = backing.readRows(table, ranges, filters).grouped(100)
            var frames = 0
            var dropped = false
            while (batches.hasNext && !dropped) {
              writeFrame(out, FlagMessage, ReadRowsProto.encodeReadRowsResponse(batches.next()))
              out.flush()
              frames += 1
              // drop the raw-client probe below and the retried run's
              // first attempt; later connections serve to the end
              if (n <= 1 && frames == 2) { sock.close(); dropped = true }
            }
            if (!dropped) {
              writeFrame(out, FlagEndOk, Array.emptyByteArray)
              out.flush()
              sock.close()
            }
          } catch { case _: Throwable => () }
        })
        t.setDaemon(true); t.start()
      } catch { case _: Throwable => () }
    })
    accept.setDaemon(true); accept.start()
    try {
      val flaky = new ProtoSocketBigtableStore("127.0.0.1", srv.getLocalPort)
      // the raw client surfaces the drop as a TRANSIENT fault mid-stream
      val e = intercept[TransientStoreException] {
        flaky.readRows("wide", Seq(RowRange.full), Nil).size
      }
      assert(e.getMessage.contains("mid-stream"))
      // with retries: exact scan, no dupes, no gaps — and the resumed
      // request went out over a NEW connection covering only the
      // remaining key space
      val retried = new RetryingStore(flaky, sleep = _ => ())
      val keys = retried.readRows("wide", Seq(RowRange.full), Nil).map(_.rowKey).toSeq
      assert(keys.size == 1500)
      assert(keys == keys.sorted && keys.distinct.size == 1500)
      val reqs = requests.toArray(Array.empty[Seq[RowRange]])
      assert(reqs.length >= 3) // probe scan, dropped scan, resumed scan
      val resumed = reqs.last
      assert(RowRange.compareKeys(resumed.head.startKey, "k000199") > 0,
        s"resumed scan must start past the last delivered key, got ${resumed.head.startKey}")
    } finally srv.close()
  }

  test("concurrent scans from many threads interleave safely") {
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = (0 until 8).map { _ =>
      new Thread(() => {
        try counts.add(client.readRows("wide", Seq(RowRange.full), Nil).size)
        catch { case _: Throwable => counts.add(-1) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(30000))
    import scala.jdk.CollectionConverters._
    assert(counts.asScala.toSeq == Seq.fill(8)(1500))
  }
}
