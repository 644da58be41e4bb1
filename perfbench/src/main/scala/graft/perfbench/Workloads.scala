package graft.perfbench

import graft.model.RowRange
import graft.operators.Dedup
import graft.store.{BigtableStore, BigtableStores, ConcurrentBigtable, InMemoryBigtable, ProtoSocketBigtableServer}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.util.concurrent.atomic.{AtomicInteger, AtomicIntegerArray}
import scala.collection.mutable

/** Outcome of one operation: what it covered and, if it failed or
  * returned a wrong answer, why.
  */
final case class Outcome(kind: String, rows: Long, error: Option[String] = None)

/** A backing store served over the protobuf wire on loopback, with the
  * client store registered under `name` for the connector. In a traced
  * run both sides get a [[CountingStore]]; `traced(on)` switches the
  * client registration and the server counting between phases.
  */
final class Served(val name: String, backing: BigtableStore, tracer: Option[Tracer]) {
  val serverSide: Option[CountingStore] = tracer.map(t => new CountingStore(backing, "server", t))
  val server = new ProtoSocketBigtableServer(serverSide.getOrElse(backing))
  val plain = server.clientStore
  val clientSide: Option[CountingStore] = tracer.map(t => new CountingStore(plain, "store", t))
  traced(false)

  def traced(on: Boolean): Unit = {
    serverSide.foreach(_.enabled = on)
    clientSide.foreach(_.enabled = on)
    BigtableStores.register(name, if (on) clientSide.getOrElse(plain) else plain)
  }

  def close(): Unit = {
    BigtableStores.unregister(name)
    server.close()
  }
}

/** One benchmark workload: set-up (repeatable), a closed-loop operation
  * per client, and the checks that run after the timed window.
  */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  def name: String
  def clients: Int
  /** Operations each client runs before timing starts (JIT, connections,
    * caches); they are checked like timed ones.
    */
  def warmupOps(client: Int): Int
  /** Ops per client that make up one full query mix; a timed window
    * ends only at a cycle boundary, so every window runs whole cycles.
    */
  def cycle: Int = 1
  /** Set in a traced run. */
  var tracer: Option[Tracer] = None
  var served: Served = _
  val log = mutable.ArrayBuffer.empty[String]

  /** Generate the data, seed the backing store and start the server.
    * Returns the backing store; the caller serves it.
    */
  def generate(): BigtableStore

  def setup(): Unit = {
    if (served != null) served.close()
    log.clear()
    served = new Served("bench", generate(), tracer)
    registerViews()
    // start every run from a compacted heap: how the store's objects sit
    // in memory otherwise depends on when the last collection happened
    System.gc()
  }

  def registerViews(): Unit

  /** Inputs the clients consume (made once, after the repeated set-up). */
  def makeInputs(): Unit = ()

  /** Operation `k` of `client`; None when the client has no more work. */
  def op(client: Int, k: Long): Option[Outcome]

  /** Checks on the final state, after every operation has finished. */
  def finalChecks(): Seq[String] = Nil

  def close(): Unit = if (served != null) served.close()

  protected def reader(table: String, partitionCols: String, qualifiers: String,
      extra: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("bigtable")
      .option("store", served.name).option("table", table).option("columnFamily", Gen.Family)
      .option("partitionCols", partitionCols).option("qualifiers", qualifiers)
      .options(extra).load()

  protected def sq(s: String): String = s"'$s'"

  protected def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  protected def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

object Workloads {
  val names = Seq("scan_agg", "ingest_mixed", "near_dup")

  def apply(name: String, spark: SparkSession, seed: Long, seconds: Int): Workload = name match {
    case "scan_agg"     => new ScanAgg(spark, seed)
    case "ingest_mixed" => new IngestMixed(spark, seed, seconds)
    case "near_dup"     => new NearDup(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** Rows per table; scaled to keep one run within the time budget of a
    * 4-core machine.
    */
  val WideRows = 200000
  val IngestSeedRows = 60000
  val IngestBatchRows = 20000
  val Docs = 600
  val DocTokens = 300
}

/** 1 client of bulk reports over `wide`. Each operation is one report
  * on a key-range slice of 20% of the table, placed at random inside a
  * shard, so every operation covers the same number of rows, above the
  * connector's AUTO threshold for the columnar reader (32768 estimated
  * rows). A report runs three queries over its slice: a GROUP BY with
  * SUM/AVG under a residual value predicate, the slice's totals as a
  * global aggregate the connector folds store-side (exact pushdown), and
  * a join of the slice to the small `dim` table.
  */
final class ScanAgg(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val name = "scan_agg"
  val clients = 1
  def warmupOps(client: Int): Int = 4
  val SliceFrac = 0.2
  var gen: Gen.Wide = _

  def generate(): BigtableStore = {
    gen = new Gen.Wide(seed, Workloads.WideRows)
    val sum = new Gen.Checksum
    val b = new InMemoryBigtable.Builder
    var j = 0
    while (j < gen.n) {
      val key = gen.key(j)
      val cells = gen.cells(j)
      cells.foreach(sum.add(key, _))
      b.putAll("wide", key, cells)
      j += 1
    }
    (0 until gen.Dims).foreach { d =>
      val cells = gen.dimCells(d)
      cells.foreach(sum.add(gen.dimKey(d), _))
      b.putAll("dim", gen.dimKey(d), cells)
    }
    log += s"checksum wide+dim rows=${gen.n + gen.Dims} cells=${sum.cells} sum=${sum.hex}"
    b.build()
  }

  def registerViews(): Unit = {
    reader("wide", "shard,seq", gen.qualifiers).createOrReplaceTempView("wide")
    // a BETWEEN on a single-column key pushes exactly, which leaves no
    // residual filter, so Catalyst pushes the global aggregate into the
    // connector's aggregate reader
    reader("wide", "_row_key", gen.qualifiers, Map("exactFilterPushdown" -> "true"))
      .createOrReplaceTempView("wide_exact")
    reader("dim", "_row_key", gen.dimQualifiers, Map("allowFullScan" -> "true")).createOrReplaceTempView("dim")
  }

  /** Slice `k`: (shard, lo, hi) seq, inclusive. */
  private def slice(k: Long): (Int, Int, Int) = {
    val m = math.max(1, (gen.n * SliceFrac).toInt) min gen.perShard
    val s = (Gen.draw(seed, 2001, k) % gen.Shards).toInt
    val lo = (Gen.draw(seed, 2002, k) % (gen.perShard - m + 1)).toInt
    (s, lo, lo + m - 1)
  }

  private def slicePred(s: Int, lo: Int, hi: Int, p: String = ""): String =
    s"${p}shard = ${sq(gen.shard(s))} AND ${p}seq BETWEEN ${sq(gen.seqOf(lo))} AND ${sq(gen.seqOf(hi))}"

  def op(client: Int, k: Long): Option[Outcome] = {
    val (s, lo, hi) = slice(k)
    val where = slicePred(s, lo, hi)
    // keeps about half of the slice's rows
    val cut = 450000L + Gen.draw(seed, 2003, k) % 100000L
    val byCat = spark.sql(
      s"""SELECT cat, SUM(qty), AVG(price), COUNT(*) FROM wide WHERE $where AND score >= $cut
         |GROUP BY cat""".stripMargin).collect()
    val base = s * gen.perShard
    val totals = spark.sql(
      s"""SELECT COUNT(*), SUM(qty), MIN(price), MAX(price) FROM wide_exact
         |WHERE _row_key BETWEEN ${sq(gen.key(base + lo))} AND ${sq(gen.key(base + hi))}""".stripMargin).collect()
    val byDim = spark.sql(
      s"""SELECT d.dname, SUM(w.qty), COUNT(*) FROM wide w JOIN dim d ON w.dim_id = d.dim_id
         |WHERE ${slicePred(s, lo, hi, "w.")} GROUP BY d.dname""".stripMargin).collect()

    val wantCat = mutable.Map.empty[String, (Long, Double, Long)]
    val wantDim = mutable.Map.empty[String, (Long, Long)]
    var qty = 0L
    var minP = Double.MaxValue
    var maxP = Double.MinValue
    (base + lo to base + hi).foreach { j =>
      if (gen.score(j) >= cut) {
        val (q, p, n) = wantCat.getOrElse(gen.catName(gen.cat(j)), (0L, 0.0, 0L))
        wantCat(gen.catName(gen.cat(j))) = (q + gen.qty(j), p + gen.price(j), n + 1)
      }
      val g = gen.dimGroup(gen.dim(j))
      val (q, n) = wantDim.getOrElse(g, (0L, 0L))
      wantDim(g) = (q + gen.qty(j), n + 1)
      qty += gen.qty(j)
      minP = math.min(minP, gen.price(j))
      maxP = math.max(maxP, gen.price(j))
    }
    val m = (hi - lo + 1).toLong

    val gotCat = byCat.map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    val catErr =
      if (gotCat.keySet != wantCat.keySet) Some(s"groups: got ${gotCat.keySet.size}, want ${wantCat.keySet.size}")
      else wantCat.iterator.flatMap { case (cat, (q, p, n)) =>
        val (gq, gp, gn) = gotCat(cat)
        if (gq != q || gn != n || !near(gp, p / n)) Some(s"group $cat: got ($gq, $gp, $gn), want ($q, ${p / n}, $n)")
        else None
      }.nextOption()
    val totErr = mismatch("totals",
      totals.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))),
      Seq((m, qty, minP, maxP)))
    val dimErr = mismatch("join", byDim.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap, wantDim.toMap)
    val err = catErr.map(e => s"by cat, score >= $cut: $e").orElse(totErr).orElse(dimErr)
    Some(Outcome("report", 3 * m, err.map(e => s"report $where: $e")))
  }
}

/** 1 writer appending pre-generated batches through
  * `df.write.format("bigtable")` (half new keys, half new versions) and
  * 1 reader of latest-version lookups on acknowledged keys, against a
  * pre-seeded `ConcurrentBigtable`.
  */
final class IngestMixed(spark: SparkSession, seed: Long, seconds: Int) extends Workload(spark, seed) {
  val name = "ingest_mixed"
  val clients = 2
  // the writer's warm-up batches run beside the reader's warm-up lookups
  def warmupOps(client: Int): Int = if (client == 0) 6 else 20
  var gen: Gen.Ingest = _
  var store: ConcurrentBigtable = _
  /** Pre-generated batches; batch b writes version b. A batch is
    * dropped once written, so the heap holds only those still to come.
    */
  var batches: Array[java.util.List[Row]] = Array.empty
  /** Latest acknowledged version per key (-1 = not yet written). */
  var latest: AtomicIntegerArray = _
  val acked = new AtomicInteger(0)
  @volatile var ackedKeys = 0

  private val schema = StructType(Seq(
    StructField("user", StringType, nullable = false), StructField("item", StringType, nullable = false),
    StructField("_timestamp", TimestampType, nullable = false),
    StructField("amount", LongType), StructField("note", StringType)))

  private def splitKey(key: String): (String, String) = {
    val s = key.split('#'); (s(0), s(1))
  }

  def generate(): BigtableStore = {
    gen = new Gen.Ingest(seed, Workloads.IngestSeedRows, Workloads.IngestBatchRows, warmupOps(0) + 6 * seconds)
    val sum = new Gen.Checksum
    store = new ConcurrentBigtable
    (0 until gen.seedRows).grouped(5000).foreach { ks =>
      val muts = ks.map { k =>
        val cells = gen.cells(k, 0)
        cells.foreach(sum.add(gen.key(k), _))
        gen.key(k) -> cells
      }
      store.mutateRows("events", muts)
    }
    latest = new AtomicIntegerArray(gen.seedRows + gen.batches * (gen.batchRows / 2))
    (0 until latest.length).foreach(k => latest.set(k, if (k < gen.seedRows) 0 else -1))
    acked.set(0)
    ackedKeys = gen.seedRows
    log += s"checksum events seed_rows=${gen.seedRows} cells=${sum.cells} sum=${sum.hex}"
    store
  }

  def registerViews(): Unit =
    reader("events", "user,item", gen.qualifiers).createOrReplaceTempView("events")

  /** Enough batches that the writer does not run dry inside the window. */
  override def makeInputs(): Unit = {
    val sum = new Gen.Checksum
    batches = (1 to gen.batches).toArray.map { b =>
      val rows = new java.util.ArrayList[Row](gen.batchRows)
      gen.batch(b).foreach { k =>
        val key = gen.key(k)
        val (u, i) = splitKey(key)
        val us = gen.ts(b)
        val ts = new java.sql.Timestamp(us / 1000)
        ts.setNanos(((us % 1000000) * 1000).toInt)
        rows.add(Row(u, i, ts, gen.amount(k, b), gen.note(k, b)))
        gen.cells(k, b).foreach(sum.add(key, _))
      }
      rows
    }
    log += s"checksum events batches=${gen.batches}x${gen.batchRows} cells=${sum.cells} sum=${sum.hex}"
  }

  private def write(b: Int): Outcome = {
    val rows = batches(b - 1)
    batches(b - 1) = null
    spark.createDataFrame(rows, schema).write.format("bigtable")
      .option("store", served.name).option("table", "events").option("columnFamily", Gen.Family)
      .option("partitionCols", "user,item").option("qualifiers", gen.qualifiers)
      .mode("append").save()
    gen.batch(b).foreach(k => latest.set(k, b))
    ackedKeys = gen.seedRows + b * (gen.batchRows / 2)
    acked.set(b)
    Outcome("write", gen.batchRows.toLong)
  }

  private def read(k: Long): Outcome = {
    val key = (Gen.draw(seed, 3001, k) % ackedKeys).toInt
    val lo = latest.get(key)
    val (u, i) = splitKey(gen.key(key))
    val rows = spark.sql(
      s"SELECT amount, note, unix_micros(`_timestamp`) FROM events WHERE user = ${sq(u)} AND item = ${sq(i)}")
      .collect()
    val hi = acked.get + 1 // the batch in flight may already be visible
    val err =
      if (rows.length != 1) Some(s"rows: got ${rows.length}, want 1")
      else {
        val v = (rows(0).getLong(2) - Gen.BaseTs).toInt
        if (v < lo || v > hi) Some(s"version $v outside acknowledged [$lo, $hi]")
        else mismatch("cells", (rows(0).getLong(0), rows(0).getString(1)), (gen.amount(key, v), gen.note(key, v)))
      }
    Outcome("read", 1L, err.map(e => s"read ${gen.key(key)}: $e"))
  }

  def op(client: Int, k: Long): Option[Outcome] =
    if (client == 1) Some(read(k))
    else {
      val b = acked.get + 1
      if (b > gen.batches) None else Some(write(b))
    }

  override def finalChecks(): Seq[String] = {
    val b = acked.get
    var rows = 0L
    var cells = 0L
    store.readRows("events", Seq(RowRange.full), Nil).foreach { r => rows += 1; cells += r.cells.size }
    val wantRows = gen.seedRows.toLong + b.toLong * (gen.batchRows / 2)
    val wantCells = 2L * (gen.seedRows.toLong + b.toLong * gen.batchRows)
    Seq(mismatch(s"final row count after $b batches", rows, wantRows),
      mismatch(s"final cell-version count after $b batches", cells, wantCells)).flatten
  }
}

/** 1 client reading `docs` through the connector and running
  * `Dedup.nearDuplicates` with its default arguments; every returned pair
  * is re-verified in plain Scala, and a planted pair at or above the
  * threshold that is not returned counts as a failure.
  */
final class NearDup(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val name = "near_dup"
  val clients = 1
  // on 4 cores the first call runs about 3.5x as long as a warm one, and
  // calls 2 to 5 still fall from about 1.5x to 1.15x; timing them would
  // measure how fast the JIT catches up, which the host's load decides
  def warmupOps(client: Int): Int = 5
  // three timed calls per window: the median of three is not moved by
  // one slow call, such as the one a full collection lands in
  override def cycle: Int = 3
  val Threshold = 0.8
  var gen: Gen.Docs = _
  /** Planted pairs at or above the threshold. */
  var expected: Set[(Long, Long)] = Set.empty
  val recall = mutable.ArrayBuffer.empty[Double]
  var lastPairs = 0L

  def generate(): BigtableStore = {
    gen = new Gen.Docs(seed, Workloads.Docs, Workloads.DocTokens)
    val sum = new Gen.Checksum
    val b = new InMemoryBigtable.Builder
    (0 until gen.n).foreach { i =>
      val cells = gen.cells(i)
      cells.foreach(sum.add(gen.key(i), _))
      b.putAll("docs", gen.key(i), cells)
    }
    expected = gen.plantedPairs.collect { case (a, b2, j) if j >= Threshold => (a.toLong, b2.toLong) }.toSet
    log += s"checksum docs rows=${gen.n} cells=${sum.cells} sum=${sum.hex} planted_pairs=${gen.plantedPairs.size} " +
      s"above_threshold=${expected.size}"
    b.build()
  }

  def registerViews(): Unit = ()

  def op(client: Int, k: Long): Option[Outcome] = {
    val warm = k < warmupOps(client)
    val df = docs()
    val t0 = tracer.map(_.nowMs)
    val pairs = Dedup.nearDuplicates(df, "doc_id", "text", Threshold)
    tracer.foreach { t =>
      val op = spark.sparkContext.getLocalProperty(Tracer.GroupKey)
      t.record("operators.call", t0.get, t.nowMs, op, op)
    }
    val rows = pairs.collect()
    lastPairs = rows.length
    val hasJ = pairs.columns.contains("jaccard")
    val seen = mutable.HashSet.empty[(Long, Long)]
    val errs = rows.toSeq.flatMap { r =>
      val a = r.getAs[Long]("id1")
      val b = r.getAs[Long]("id2")
      val key = (math.min(a, b), math.max(a, b))
      val exact = Gen.Jaccard.exact(gen.texts(a.toInt), gen.texts(b.toInt))
      if (!seen.add(key)) Some(s"duplicate pair $key")
      else if (exact < Threshold) Some(s"pair $key has exact Jaccard $exact < $Threshold")
      // the operator reports Jaccard rounded to 6 decimals
      else if (hasJ && math.abs(r.getAs[Double]("jaccard") - exact) > 5.000001e-7)
        Some(s"pair $key reports Jaccard ${r.getAs[Double]("jaccard")}, exact $exact")
      else None
    }
    // a planted pair at or above the threshold that the call did not
    // return is a wrong answer too: fewer pairs must not pass as faster
    val missed = (expected -- seen).toSeq.sorted.map(p => s"planted pair $p missed")
    if (!warm) recall += (if (expected.isEmpty) 1.0 else expected.count(seen).toDouble / expected.size)
    val bad = errs ++ missed
    Some(Outcome("dedup", gen.n.toLong,
      bad.headOption.map(e => s"nearDuplicates: $e (${errs.size} bad pairs, ${missed.size} missed)")))
  }

  // one scan split per core: the connector's default budget of 32 splits
  // would read the 600 docs in 32 tasks and RPCs per scan, and the
  // operator rescans its input about 13 times a call
  private def docs(): DataFrame = reader("docs", "_row_key", gen.qualifiers,
    Map("allowFullScan" -> "true", "maxPartitions" -> spark.sparkContext.defaultParallelism.toString))

  /** LSH candidate pairs before verification (public operator API). */
  def candidates(): Long = Dedup.minhashCandidates(docs(), "doc_id", "text").count()
}
