package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Entry point of one benchmark run:
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * }}}
  * Prints human-readable lines, then one JSON line
  * `{"correct", "attempted", "failed", "metrics"}` as the last line.
  * `--trace 0` reports the end-to-end metrics; `--trace 1` alternates
  * untraced and traced phases, reports the per-layer metrics, and writes
  * the span file and per-layer summary into `--out`.
  */
object Main {

  final case class OpRec(id: String, kind: String, start: Double, end: Double, rows: Long, error: Option[String]) {
    def ms: Double = end - start
  }

  object Clock {
    private val baseMs = System.currentTimeMillis().toDouble
    private val baseNs = System.nanoTime()
    def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val out = new File(arg("out"))
    require(Workloads.names.contains(workload), s"unknown workload '$workload' (known: ${Workloads.names.mkString(", ")})")
    require(seconds > 0, "--seconds must be positive")

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the library's own benchmark session: one shuffle partition per core
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val w = Workloads(workload, spark, seed, seconds)
    w.tracer = tracer
    try run(spark, w, seed, seconds, tracer, out, sessionS)
    finally {
      w.close()
      spark.stop()
    }
  }

  /** Data generation, seeding and serving run this many times per run;
    * `setup_s` takes their median (the first is slowed by JIT warm-up).
    */
  val SetupReps = 3

  private def run(spark: SparkSession, w: Workload, seed: Long, seconds: Int, tracer: Option[Tracer], out: File,
      sessionS: Double): Unit = {
    // set-up: generate, seed and serve several times, keep the last
    val setups = (1 to SetupReps).map { _ =>
      val t = System.nanoTime()
      w.setup()
      (System.nanoTime() - t) / 1e9
    }
    val ti = System.nanoTime()
    w.makeInputs()
    val inputsS = (System.nanoTime() - ti) / 1e9
    w.log.foreach(l => println(s"${w.name} seed $seed: $l"))
    val next = Array.fill(w.clients)(new AtomicLong())
    val tw = System.nanoTime()
    val warm = phase(spark, w, next, "warm", Double.MaxValue, w.warmupOps, 1)
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + median(setups) + inputsS + warmS
    println(f"${w.name}: setup session $sessionS%.3f s, data+server median ${median(setups)}%.3f s of " +
      setups.map(s => f"$s%.3f").mkString("(", ", ", ")") + f", client inputs $inputsS%.3f s, warmup $warmS%.3f s")

    val recs = mutable.ArrayBuffer.empty[OpRec] ++= warm
    val (metrics, window) = tracer match {
      case None =>
        val win = phase(spark, w, next, "run", seconds * 1000.0, _ => Int.MaxValue, w.cycle)
        recs ++= win
        val e2e = endToEnd(w, win)
        val heap = retainedHeapMb()
        val all = e2e :+ (("retained_heap_mb", heap, "MB")) :+ (("setup_s", setupS, "s"))
        (all, win)
      case Some(t) =>
        val (m, win) = traced(spark, w, next, seconds, t, out, seed)
        recs ++= win
        (m, win)
    }

    val finals = w.finalChecks()
    val attempted = recs.size + finals.size
    val failures = recs.flatMap(_.error) ++ finals
    val failed = recs.count(_.error.nonEmpty) + finals.size
    failures.take(20).foreach(f => println(s"${w.name}: FAILED $f"))
    println(s"${w.name}: ops ${window.size} timed, ${recs.size} total; by kind " +
      window.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) => s"$k=${rs.size}" }.mkString(" "))
    println(f"${w.name}: failed_ratio = ${failed.toDouble / math.max(1, attempted)}%.6f ratio ($failed of $attempted)")
    metrics.foreach { case (k, v, unit) => println(s"${w.name}: $k = ${fmt(v)} $unit") }

    val reported = if (tracer.isEmpty) MetricNames.endToEnd else MetricNames.perLayer
    val byName = metrics.map(m => m._1 -> m).toMap
    val json = reported.map { case (name, unit) =>
      val v = byName.get(name).map(_._2).getOrElse(0.0)
      s""""$name": {"value": ${fmt(v)}, "unit": "$unit"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$json}}""")
  }

  /** Run `w`'s clients in a closed loop until `budgetMs` has passed or
    * client `c` has run `maxOps(c)` operations; a timed window ends
    * when each client has run a whole number of `cycle`s.
    */
  def phase(spark: SparkSession, w: Workload, next: Array[AtomicLong], tag: String, budgetMs: Double,
      maxOps: Int => Int, cycle: Int): Seq[OpRec] = {
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
    val start = Clock.nowMs
    val threads = (0 until w.clients).map { c =>
      val perClient = maxOps(c)
      val th = new Thread(() => {
        val a0 = threadMx.getCurrentThreadAllocatedBytes
        var n = 0
        var more = true
        while (more && n < perClient && (Clock.nowMs - start < budgetMs || n % cycle != 0)) {
          val k = next(c).getAndIncrement()
          val id = s"op-$tag-$c-$k"
          spark.sparkContext.setJobGroup(id, id, interruptOnCancel = false)
          val s = Clock.nowMs
          val o =
            try w.op(c, k)
            catch { case e: Throwable => Some(Outcome("error", 0, Some(s"$e"))) }
          val e = Clock.nowMs
          o match {
            case Some(r) => recs.add(OpRec(id, r.kind, s, e, r.rows, r.error))
            case None    => more = false
          }
          n += 1
        }
        spark.sparkContext.clearJobGroup()
        clientAllocBytes.addAndGet(threadMx.getCurrentThreadAllocatedBytes - a0)
      }, s"bench-client-$c")
      th.start()
      th
    }
    threads.foreach(_.join())
    recs.asScala.toSeq.sortBy(_.start)
  }

  /** The end-to-end metrics of one workload over a timed window, by the
    * names a user reads (human lines) and by the names BENCHMARK.json
    * lists (op_p50_ms, throughput), which map onto them.
    */
  def endToEnd(w: Workload, win: Seq[OpRec]): Seq[(String, Double, String)] = {
    def lat(rs: Seq[OpRec]) = rs.map(_.ms)
    def wallS(rs: Seq[OpRec]) =
      if (rs.isEmpty) 1.0 else (rs.map(_.end).max - win.map(_.start).min) / 1000.0
    def n(rs: Seq[OpRec]) = s"(n=${rs.size})"
    w match {
      case _: ScanAgg =>
        val p50 = pct(lat(win), 50); val p99 = pct(lat(win), 99)
        val rate = win.map(_.rows).sum / wallS(win)
        Seq(("scan_p50_ms", p50, s"ms ${n(win)}"), ("scan_p99_ms", p99, s"ms ${n(win)}"),
          ("scan_rows_per_s", rate, "rows/s"),
          ("op_p50_ms", p50, "ms"), ("throughput", rate, "1/s"))
      case _: IngestMixed =>
        val reads = win.filter(_.kind == "read")
        val writes = win.filter(_.kind == "write")
        val batchP50 = pct(lat(writes), 50)
        val rate = writes.map(_.rows).sum / wallS(writes)
        Seq(("read_p50_ms", pct(lat(reads), 50), s"ms ${n(reads)}"),
          ("read_p99_ms", pct(lat(reads), 99), s"ms ${n(reads)}"),
          ("write_rows_per_s", rate, "rows/s"), ("write_batch_p50_ms", batchP50, s"ms ${n(writes)}"),
          ("op_p50_ms", batchP50, "ms"), ("throughput", rate, "1/s"))
      case nd: NearDup =>
        val p50 = pct(lat(win), 50); val p99 = pct(lat(win), 99)
        val rate = win.map(_.rows).sum / wallS(win)
        val recall = if (nd.recall.isEmpty) 0.0 else nd.recall.sum / nd.recall.size
        Seq(("dedup_p50_ms", p50, s"ms ${n(win)}"), ("dedup_p99_ms", p99, s"ms ${n(win)}"),
          ("dedup_docs_per_s", rate, "docs/s"), ("dedup_recall", recall, "ratio"),
          ("op_p50_ms", p50, "ms"), ("throughput", rate, "1/s"))
    }
  }

  /** Traced run: the window's quarters run untraced, traced, traced,
    * untraced (so a steady drift, such as JIT warm-up, cancels out of the
    * comparison); per-layer metrics come from the traced quarters, and
    * the tracing overhead compares the two halves.
    */
  private def traced(spark: SparkSession, w: Workload, next: Array[AtomicLong], seconds: Int, t: Tracer,
      out: File, seed: Long): (Seq[(String, Double, String)], Seq[OpRec]) = {
    t.install()
    val quarter = seconds * 1000.0 / 4
    // four quarters of whole cycles would make a long-cycle run four
    // times as long as an untraced one; half cycles keep it within twice
    val cycle = math.max(1, w.cycle / 2)
    val plainQs = mutable.ArrayBuffer.empty[Seq[OpRec]]
    val tracedQs = mutable.ArrayBuffer.empty[Seq[OpRec]]
    val client = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val server = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val jvm = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(into: mutable.Map[String, Long], before: Map[String, Long], after: Map[String, Long]): Unit =
      after.foreach { case (k, v) => into(k) += v - before(k) }
    (0 until 4).foreach { q =>
      val on = q == 1 || q == 2
      w.served.traced(on)
      if (!on) plainQs += phase(spark, w, next, s"u$q", quarter, _ => Int.MaxValue, cycle)
      else {
        val c0 = w.served.clientSide.get.counters.snapshot
        val s0 = w.served.serverSide.get.counters.snapshot
        val j0 = jvmSnapshot()
        val a0 = threadAllocBytes()
        val c0a = clientAllocBytes.get
        tracedQs += phase(spark, w, next, s"t$q", quarter, _ => Int.MaxValue, cycle)
        val a1 = threadAllocBytes()
        val j1 = jvmSnapshot()
        j1.foreach { case (k, v) => jvm(k) += v - j0(k) }
        // threads alive at the end (Spark's task and RPC threads), counted
        // from the start snapshot or from zero if they started since, plus
        // the client threads, which report their own share as they exit
        jvm("alloc_bytes") += a1.iterator.map { case (id, b) => b - a0.getOrElse(id, 0L) }.sum +
          (clientAllocBytes.get - c0a)
        add(client, c0, w.served.clientSide.get.counters.snapshot)
        add(server, s0, w.served.serverSide.get.counters.snapshot)
      }
    }
    w.served.traced(false)
    t.drain()
    t.uninstall()

    val extra = w match {
      case nd: NearDup =>
        Map("operators.pairs_out" -> nd.lastPairs.toDouble, "operators.pairs_candidates" -> nd.candidates().toDouble)
      case _ => Map("operators.pairs_out" -> 0.0, "operators.pairs_candidates" -> 0.0)
    }
    val plainRecs = plainQs.flatten
    val tracedRecs = tracedQs.flatten
    val rows = tracedRecs.map(_.rows).sum
    val n = math.max(1, tracedRecs.size).toDouble
    val jvmM = Map(
      "jvm.gc_ms" -> jvm("gc_ms") / n, "jvm.gc_count" -> jvm("gc_count") / n,
      "jvm.alloc_bytes_per_row" -> (if (rows > 0) jvm("alloc_bytes") / rows else 0.0))
    val ops = tracedRecs.map(r => LayerReport.OpRec(r.id, r.start, r.end)).toSeq
    val rep = LayerReport(t, ops, client.toMap, server.toMap, jvmM, extra)

    // each quarter is its own window (the other kind runs between them):
    // average the two quarters' figures
    def e2eOf(qs: Seq[Seq[OpRec]]): Seq[(String, Double, String)] =
      qs.map(endToEnd(w, _)).transpose.map(ms => (ms.head._1, ms.map(_._2).sum / ms.size, ms.head._3))
    val plainE2e = e2eOf(plainQs.toSeq)
    val tracedE2e = e2eOf(tracedQs.toSeq)
    val p50u = plainE2e.find(_._1 == "op_p50_ms").get._2
    val p50t = tracedE2e.find(_._1 == "op_p50_ms").get._2
    val thrU = plainE2e.find(_._1 == "throughput").get._2
    val thrT = tracedE2e.find(_._1 == "throughput").get._2
    val overhead = Map(
      "trace.overhead_pct" -> (if (p50u > 0) (p50t / p50u - 1) * 100 else 0.0),
      "trace.throughput_overhead_pct" -> (if (thrT > 0) (thrU / thrT - 1) * 100 else 0.0))
    val metrics = rep.metrics ++ overhead

    out.mkdirs()
    val base = s"${w.name}-seed$seed"
    val spans = new PrintWriter(new File(out, s"$base-spans.jsonl"))
    try rep.spans.sortBy(_.start).foreach { s =>
      spans.println(s"""{"id": ${q(s.id)}, "name": ${q(s.name)}, "start_ms": ${fmt(s.start)}, """ +
        s""""end_ms": ${fmt(s.end)}, "busy_ms": ${fmt(s.busy)}, "parent": ${q(s.parent)}, "op": ${q(s.op)}}""")
    } finally spans.close()
    val summary = new PrintWriter(new File(out, s"$base-summary.json"))
    try {
      val layers = rep.layers.toSeq.sortBy(_._1).map { case (k, (c, total, self)) =>
        s"""    ${q(k)}: {"count": $c, "total_ms": ${fmt(total)}, "self_ms": ${fmt(self)}}"""
      }.mkString(",\n")
      val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) => s"    ${q(k)}: ${fmt(v)}" }.mkString(",\n")
      def e2e(xs: Seq[(String, Double, String)]) =
        xs.map { case (k, v, _) => s"${q(k)}: ${fmt(v)}" }.mkString("{", ", ", "}")
      summary.println(
        s"""{
           |  "workload": ${q(w.name)}, "seed": $seed, "traced_ops": ${tracedRecs.size}, "untraced_ops": ${plainRecs.size},
           |  "untraced": ${e2e(plainE2e)},
           |  "traced": ${e2e(tracedE2e)},
           |  "layers": {
           |$layers
           |  },
           |  "metrics": {
           |$ms
           |  }
           |}""".stripMargin)
    } finally summary.close()
    println(s"${w.name}: trace files ${new File(out, base + "-spans.jsonl")} and ${new File(out, base + "-summary.json")}")
    println(f"${w.name}: tracing overhead op_p50 ${p50u}%.3f -> ${p50t}%.3f ms, throughput ${thrU}%.1f -> ${thrT}%.1f /s")

    val units = MetricNames.perLayer.toMap
    (metrics.toSeq.sortBy(_._1).map { case (k, v) => (k, v, units.getOrElse(k, "")) },
      (plainRecs ++ tracedRecs).toSeq)
  }

  private def threadMx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes the benchmark's client threads allocated, added by each
    * thread when its loop ends.
    */
  private val clientAllocBytes = new AtomicLong()

  /** Bytes allocated so far by each live thread, by thread id (ids are
    * never reused).
    */
  private def threadAllocBytes(): Map[Long, Long] = {
    val ids = threadMx.getAllThreadIds
    ids.zip(threadMx.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
  }

  private def jvmSnapshot(): Map[String, Double] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map("gc_ms" -> gcs.map(_.getCollectionTime).sum.toDouble, "gc_count" -> gcs.map(_.getCollectionCount).sum.toDouble)
  }

  /** Heap in use after full collections; the pauses let Spark's context
    * cleaner release the broadcasts and shuffles the last collection
    * found unreachable.
    */
  private def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def q(s: String): String =
    if (s == null) "null" else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}

/** The metric names BENCHMARK.json lists, with their units. */
object MetricNames {
  val endToEnd: Seq[(String, String)] = Seq(
    "op_p50_ms" -> "ms", "throughput" -> "1/s", "retained_heap_mb" -> "MB", "setup_s" -> "s")

  val perLayer: Seq[(String, String)] = Seq(
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms", "plan.pushdown_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count", "exec.task_run_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms", "exec.task_wait_ms" -> "ms", "exec.driver_gap_ms" -> "ms",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "store.read_calls" -> "count", "store.read_ranges" -> "count", "store.read_rows" -> "count",
    "store.read_cells" -> "count", "store.read_bytes" -> "bytes", "store.read_ms" -> "ms",
    "store.read_first_row_ms" -> "ms", "store.estimate_calls" -> "count", "store.estimate_ms" -> "ms",
    "store.sample_calls" -> "count", "store.sample_ms" -> "ms", "store.mutate_calls" -> "count", "store.mutate_rows" -> "count",
    "store.mutate_ms" -> "ms", "server.read_ms" -> "ms", "server.mutate_ms" -> "ms", "wire.read_ms" -> "ms",
    "wire.mutate_ms" -> "ms", "connector.scan_rows_out" -> "count", "connector.cells_per_result_row" -> "ratio",
    "connector.read_self_ms" -> "ms", "connector.write_self_ms" -> "ms", "operators.call_ms" -> "ms",
    "operators.jobs" -> "count", "operators.pairs_out" -> "count", "operators.pairs_candidates" -> "count",
    "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count", "jvm.alloc_bytes_per_row" -> "bytes",
    "unattributed_ms" -> "ms", "trace.overhead_pct" -> "%", "trace.throughput_overhead_pct" -> "%")
}
