package graft.connector

import graft.{GraftTables, SparkEntry}
import graft.store.BigtableStores
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Process-boundary certification of the gates' own remote fixture:
  * every `bt_*` query in the SparkEntry registry must return identical
  * results when the fixture store is resolved through the socket client
  * that [[GraftTables.ensureRemote]] serves — the shared, long-lived
  * `<store>-remote` server that `bt_remote_scan` and `bt_retry_scan`
  * read — as when it is the in-JVM emulator. [[ProtoGateParitySpec]]
  * certifies the wire with a fresh server per run; this suite certifies
  * the fixture itself, so a server left in a bad state by an earlier
  * gate (a half-read scan, a dropped connection) shows up here.
  *
  * The swap is a registry re-registration under the SAME store name, so
  * no gate code changes. Gates that build their OWN stores (write
  * roundtrips, retry injection) keep them.
  */
class SocketGateParitySpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private lazy val btGates: Seq[String] =
    SparkEntry.queries.keys.filter(_.startsWith("bt_")).toSeq.sorted

  /** Run `body` with the shared fixture store swapped for the
    * `<store>-remote` socket client, restored afterwards (other suites in
    * this JVM must keep seeing the in-JVM store). The remote server stays
    * up: it belongs to [[GraftTables]], not to this suite.
    */
  private def withSocketStore[A](body: => A): A = {
    GraftTables.ensureRemote(spark, sf)
    val name = GraftTables.storeName(sf)
    val original = BigtableStores.get(name)
    BigtableStores.register(name, BigtableStores.get(GraftTables.remoteStoreName(sf)))
    try body
    finally BigtableStores.register(name, original)
  }

  test("every bt_* gate returns identical results through the socket transport") {
    assert(btGates.size >= 30, s"gate surface shrank? $btGates")
    // baseline first (in-JVM store), then the same registry through the wire
    val baseline = btGates.map { name =>
      name -> sortedRows(SparkEntry.queries(name)(spark, sf))
    }.toMap
    val failures = withSocketStore {
      btGates.flatMap { name =>
        val remote = sortedRows(SparkEntry.queries(name)(spark, sf))
        if (remote == baseline(name)) None
        else Some(s"$name: in-jvm=${baseline(name).size} rows, socket=${remote.size} rows, " +
          s"first diff=${baseline(name).zipAll(remote, "<missing>", "<missing>")
            .find(p => p._1 != p._2)}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
