package graft.store

import graft.model._
import org.scalatest.funsuite.AnyFunSuite

/** The protobuf wire codec must produce the PUBLISHED byte layout — not
  * just something its own decoder accepts — so golden-byte checks pin
  * the exact field/tag/varint encoding against hand-computed protobuf
  * (what `protoc` would emit for the same message), and round-trips
  * cover the full connector-emitted shape space. The transport tests
  * then prove the bytes drive a real scan across a TCP hop with the
  * same semantics as the backing store; [[SocketStoreSpec]] certifies
  * the transport's connection behaviour (a client whose only state is
  * (host, port), releasable partial scans, exact resume after a dropped
  * connection, concurrent scans).
  */
class ReadRowsProtoSpec extends AnyFunSuite {

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  test("golden bytes: ReadRowsRequest matches the published proto layout") {
    // ReadRowsRequest { table_name: "t",
    //   rows { row_keys: "a", row_ranges { start_key_closed: "b", end_key_open: "c" } },
    //   filter { chain { filters { family_name_regex_filter: "f" }
    //                    filters { cells_per_column_limit_filter: 1 } } } }
    // computed by hand from google/bigtable/v2/{bigtable,data}.proto:
    //   table_name=1 → 0x0a; RowSet.row_keys=1 → 0x0a; row_ranges=2 → 0x12;
    //   RowRange.start_key_closed=1 → 0x0a; end_key_open=3 → 0x1a;
    //   RowFilter.chain=1 → 0x0a; Chain.filters=1 → 0x0a;
    //   family_name_regex_filter=5 → 0x2a; cells_per_column_limit=12 → 0x60
    val got = ReadRowsProto.encodeReadRowsRequest(
      "t",
      Seq(RowRange.point("a"), RowRange.closedOpen("b", "c")),
      Seq(RowFilter.FamilyNameRegex("f"), RowFilter.CellsPerColumnLimit(1)))
    assert(hex(got) == "0a0174120b0a016112060a01621a01631a0b0a090a032a01660a026001")
  }

  test("golden bytes: a single filter rides unchained, closed ranges use end_key_closed") {
    val got = ReadRowsProto.encodeReadRowsRequest(
      "t", Seq(RowRange.closed("a", "b")), Seq(RowFilter.CellsPerColumnLimit(1)))
    // rows { row_ranges { start_key_closed: "a", end_key_closed(4→0x22): "b" } }
    // filter { cells_per_column_limit_filter: 1 }
    assert(hex(got) == "0a0174120812060a01612201621a026001")
  }

  test("request round-trip: every connector-emitted range and filter shape") {
    val ranges = Seq(
      RowRange.point("k1"), RowRange.point("k2"),
      RowRange.closed("a#1", "a#9"), RowRange.closedOpen("b", "c"),
      RowRange("d", None, endInclusive = false))
    val filters = Seq(
      RowFilter.FamilyNameRegex("measurements"),
      RowFilter.CellsPerColumnLimit(1),
      RowFilter.ColumnQualifierRegex("\\Qpressure\\E|\\Qtemperature\\E"),
      RowFilter.QualifierValueRange("f", "q",
        Some(Array[Byte](1, 2)), true, Some(Array[Byte](3)), false),
      RowFilter.QualifierValueRegex("f", "q2", "\\Qx\\E|\\Qy\\E"))
    val (t2, r2, f2) = ReadRowsProto.decodeReadRowsRequest(
      ReadRowsProto.encodeReadRowsRequest("projects/p/tables/t", ranges, filters))
    assert(t2 == "projects/p/tables/t")
    // point keys come back first (row_keys before row_ranges), order inside each preserved
    assert(r2.toSet == ranges.toSet && r2.size == ranges.size)
    def comparable(f: RowFilter) = f match {
      case RowFilter.QualifierValueRange(fam, q, lo, li, hi, hiI) =>
        ("vr", fam, q, lo.map(_.toSeq), li, hi.map(_.toSeq), hiI)
      case other => ("f", other.toString, "", None, false, None, false)
    }
    assert(f2.map(comparable) == filters.map(comparable))
  }

  test("response round-trip: multi-cell rows, versions, empty rows, binary values") {
    val rows = Seq(
      BtRow("r1", Seq(
        BtCell("f", "q1", 100L, Array[Byte](1, 2, 3)),
        BtCell("f", "q1", 50L, Array[Byte]()),
        BtCell("g", "q2", 100L, CellCodec.encodeLong(42L)))),
      BtRow("r2", Nil),
      BtRow("r3", Seq(BtCell("f", "q", 7L, CellCodec.encodeString("v")))))
    val back = ReadRowsProto.decodeReadRowsResponse(ReadRowsProto.encodeReadRowsResponse(rows))
    assert(back.map(_.rowKey) == rows.map(_.rowKey))
    assert(back.map(_.cells.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq))) ==
      rows.map(_.cells.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq))))
  }

  test("status codes map to the canonical exception classes, both ways") {
    val cases = Seq[(Throwable, Int)](
      (new IllegalArgumentException("x"), 3),
      (new IllegalStateException("x"), 9),
      (new UnsupportedOperationException("x"), 12),
      (new TransientStoreException("x"), 14),
      (new RuntimeException("x"), 13))
    cases.foreach { case (e, code) =>
      assert(ReadRowsProto.statusCodeOf(e) == code, e.getClass.getName)
      val (c2, m2) = ReadRowsProto.decodeStatus(ReadRowsProto.encodeStatus(code, "boom"))
      assert(c2 == code && m2 == "boom")
    }
    assert(ReadRowsProto.exceptionOf(14, "m").isInstanceOf[TransientStoreException])
    assert(ReadRowsProto.exceptionOf(3, "m").isInstanceOf[IllegalArgumentException])
  }

  // ---- transport over real TCP ----------------------------------------

  private def cell(q: String, ts: Long, v: String, fam: String = "f") =
    BtCell(fam, q, ts, CellCodec.encodeString(v))

  private lazy val backing = {
    val b = new InMemoryBigtable.Builder
    Seq("a", "b", "c", "d", "e").zipWithIndex.foreach { case (k, i) =>
      b.put("t", k, cell("q1", 100L + i, s"v$k"))
      b.put("t", k, cell("q1", 50L, s"old$k"))
      b.put("t", k, cell("q2", 100L + i, s"w$k"))
    }
    (0 until 1500).foreach { i => b.put("wide", f"k$i%06d", cell("q", 1L, s"v$i")) }
    b.build()
  }
  private lazy val server = new ProtoSocketBigtableServer(backing)
  private lazy val client = server.clientStore

  test("proto transport: readRows parity with the backing store (ranges + filters)") {
    val ranges = Seq(RowRange.closed("b", "d"))
    val filters = Seq(RowFilter.CellsPerColumnLimit(1))
    val direct = backing.readRows("t", ranges, filters).toSeq
    val remote = client.readRows("t", ranges, filters).toSeq
    assert(remote.map(_.rowKey) == direct.map(_.rowKey))
    assert(remote.map(_.cells.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq))) ==
      direct.map(_.cells.map(c => (c.family, c.qualifier, c.timestampMicros, c.value.toSeq))))
  }

  test("proto transport: multi-frame scan streams every row exactly once, in key order") {
    val remote = client.readRows("wide", Seq(RowRange.full), Nil).map(_.rowKey).toSeq
    assert(remote.size == 1500 && remote == remote.sorted && remote.distinct.size == 1500)
  }

  test("proto transport: remote errors carry real status codes and keep their shape") {
    val e = intercept[IllegalArgumentException] {
      client.readRows("nope", Seq(RowRange.full), Nil).toSeq
    }
    assert(e.getMessage.contains("unknown bigtable table") && e.getMessage.contains("status 3"))
    intercept[IllegalArgumentException] { client.readRows("t", Nil, Nil) }
  }

  test("proto transport: sampleRowKeys, estimateSize, writes, truncate") {
    assert(client.sampleRowKeys("t") == backing.sampleRowKeys("t"))
    assert(client.estimateSize("t", Seq(RowRange.full)) ==
      backing.estimateSize("t", Seq(RowRange.full)))
    // writes need a MUTABLE backing store (InMemoryBigtable is frozen)
    val mutable = new ConcurrentBigtable
    val wServer = new ProtoSocketBigtableServer(mutable)
    val wClient = wServer.clientStore
    try {
      wClient.mutateRows("w", Seq(("zz", Seq(cell("q1", 1L, "new"))))) // proto MutateRowsRequest
      assert(wClient.readRows("w", Seq(RowRange.point("zz")), Nil).toSeq.size == 1)
      wClient.truncateTable("w")
      // truncate drops the table entirely: a scan now fails unknown-table
      intercept[IllegalArgumentException] {
        mutable.readRows("w", Seq(RowRange.full), Nil).toSeq
      }
    } finally wServer.close()
  }

  test("proto transport: a server fault mid-request surfaces as the mapped exception") {
    val e = intercept[UnsupportedOperationException] {
      new ProtoSocketBigtableServer(new InMemoryBigtable.Builder().build() match {
        case s => new BigtableStore { // read-only wrapper: writes must 12/UNIMPLEMENTED
          def readRows(t: String, r: Seq[RowRange], f: Seq[RowFilter]) = s.readRows(t, r, f)
        }
      }).clientStore.mutateRows("t", Seq(("k", Seq(cell("q", 1L, "v")))))
    }
    assert(e.getMessage.contains("status 12"))
  }
}
