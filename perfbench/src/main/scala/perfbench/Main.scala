package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String,
                        base: String = "")

final case class Sample(op: Op, pass: Int, start: Long, end: Long,
                        ok: Boolean, detail: String) {
  def ms: Double = (end - start) / 1e6
}

/** Peak heap used after GC: the largest post-collection heap occupancy
  * any collector reports during the run. */
object HeapPeak {
  @volatile var peak = 0L

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val l: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(l, null, null)
      case _ =>
    }
  }
}

/** Benchmark process: one workload as one closed-loop client on
  * `local[N]`, N = the machine's cores. Modes:
  *  - `run`: set up, time ops in seeded order for `--seconds`, write
  *    `result.json` (and `spans.jsonl` when traced) into `--out`;
  *  - `record`: write the expected-fingerprint file for the registry ops;
  *  - `selftest`: one short traced pass over every layer on a tiny grid,
  *    asserting every metric is emitted and a corrupted fingerprint fails.
  */
object Main {

  /** The `bulk` grid, `t x y x x`, and its Zarr chunks. */
  private val GridShape = Seq(16, 128, 128)
  private val GridChunks = Seq(4, 32, 32)

  private val modules = Seq("model", "align", "agg", "window", "reshape",
    "functions", "exprs", "llm", "numerics", "streaming")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    HeapPeak.install()
    val cores = a("cores").toInt
    val avail = Runtime.getRuntime.availableProcessors()
    if (cores != avail) {
      System.err.println(s"refusing to run local[$cores] on a JVM that sees " +
        s"$avail cores: N must equal the machine's core count")
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("tmp"))
      .config("spark.sql.warehouse.dir", s"${a("tmp")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.util.Parallelize.tuneShuffle(spark,
      dataOf(a, if (a("workload") == "interactive") "interactive" else "bulk"))
    val code =
      try a.getOrElse("mode", "run") match {
        case "run" => run(spark, a)
        case "record" => record(spark, a)
        case "selftest" => selftest(spark, a)
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    // results are on disk already: a shutdown error must not lose them
    try spark.stop() catch {
      case e: Throwable => System.err.println(s"spark.stop failed: $e")
    }
    sys.exit(code)
  }

  private def stamp(spark: SparkSession, a: Map[String, String]): String =
    obj(Seq("cores" -> a("cores"), "spark" -> js(spark.version),
      "java" -> js(System.getProperty("java.version")),
      "commit" -> js(a("commit")),
      "data" -> js(Workloads.dataDir(a("data-label"), a("workload"))),
      "seed" -> a("seed")))

  /** Input tables and expected fingerprints of a workload: `--data` and
    * `--expected` name the benchmark's data and expected directories. */
  private def dataOf(a: Map[String, String], workload: String): String =
    Workloads.dataDir(a("data"), workload)
  private def expectedFile(a: Map[String, String], workload: String): String =
    s"${a("expected")}/$workload.txt"

  private def storeFor(spark: SparkSession, a: Map[String, String],
                       shape: Seq[Int], chunks: Seq[Int]): ArrayStore =
    new ArrayStore(spark, s"${a("tmp")}/store",
      new Grid(a("seed").toLong, shape(0), shape(1), shape(2), chunks))

  def run(spark: SparkSession, a: Map[String, String]): Int = {
    val workload = a("workload")
    val data = dataOf(a, workload)
    val expected = Gate.load(expectedFile(a, workload))
    val store =
      if (workload == "bulk") Some(storeFor(spark, a, GridShape, GridChunks)) else None
    val ops = workload match {
      case "interactive" => Workloads.interactiveOps(spark, data, expected)
      case "bulk" => Workloads.bulkOps(spark, data, expected) ++ store.get.ops
      case other => sys.error(s"unknown workload $other")
    }
    store.foreach(_.setup())
    val tracer = if (a("trace") == "1") Some(new Tracer(spark)) else None
    tracer.foreach(_.start())
    val setupS = (System.currentTimeMillis() - a("launch-ms").toDouble) / 1e3
    val samples = window(spark, ops, a("seed").toLong,
      Some(a("seconds").toDouble), tracer)
    tracer.foreach(_.stop())
    val (metrics, spans, selfTable) =
      measure(spark, samples, setupS, tracer, store, a("cores").toInt)
    writeResult(spark, a, samples, metrics, selfTable, spans)
    store.foreach(_.cleanup())
    0
  }

  /** Run whole passes over the ops, each in a fresh seeded order, for
    * about `seconds`. The first pass runs every op for the first time;
    * with a limit, two warm passes always follow it, so each op has a
    * best of two warm runs. A later pass starts only if one more pass as
    * long as the last still fits. Without a limit there is one pass. */
  private def window(spark: SparkSession, ops: Seq[Op], seed: Long,
                     seconds: Option[Double], tr: Option[Tracer]): Seq[Sample] = {
    val rng = new scala.util.Random(seed)
    val t0 = System.nanoTime()
    val limit = seconds.map(s => (s * 1e9).toLong).getOrElse(0L)
    val out = ArrayBuffer.empty[Sample]
    var pass = 0
    var last = 0L
    do {
      pass += 1
      val p0 = System.nanoTime()
      rng.shuffle(ops).foreach(op => out += runOne(spark, op, pass, tr))
      last = System.nanoTime() - p0
    } while (seconds.isDefined && (pass < 3 || System.nanoTime() - t0 + last <= limit))
    out.toSeq
  }

  private def runOne(spark: SparkSession, op: Op, pass: Int,
                     tr: Option[Tracer]): Sample = {
    val t0 = System.nanoTime()
    val (ok, detail) = try {
      // QueryCache.scoped releases what the op persisted, as in graft.Bench
      val o = graft.util.QueryCache.scoped {
        tr.map(_.op(op.name)(op.exec)).getOrElse(op.exec(Phases.off))
      }
      (o.ok, if (o.ok) o.got else s"got ${o.got}, expected ${o.want}")
    } catch {
      case e: Throwable =>
        (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
    }
    val t1 = System.nanoTime()
    spark.catalog.clearCache()
    if (!ok) System.err.println(s"[perfbench] ${op.name} FAILED: $detail")
    Sample(op, pass, t0, t1, ok, detail)
  }

  /** Percentile of sorted values, interpolated between the two nearest
    * ranks, so a small sample does not jump from one op to the next. */
  private def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val h = (sorted.size - 1) * p
      val lo = h.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
    }

  /** End-to-end metrics from the samples, and with a tracer the per-layer
    * metrics, the span dump and the self-time table. */
  def measure(spark: SparkSession, samples: Seq[Sample], setupS: Double,
              tr: Option[Tracer], store: Option[ArrayStore], cores: Int)
      : (Seq[Metric], Seq[String], Seq[(String, Long, Double)]) = {
    val n = samples.size
    // each op's latency is its best over the run's passes, as graft.Bench
    // takes the best of three. The first pass runs every op for the first
    // time in the process (class loading, JIT, code generation) and the
    // machine's transient slowdowns last seconds; the best of several
    // passes reads neither.
    val best = samples.groupBy(_.op.name).values.map(_.map(_.ms).min).toSeq.sorted
    val k = samples.map(_.pass).distinct.size
    val p90 = pct(best, 0.90)
    val windowNs = if (n == 0) 1L else samples.map(_.end).max - samples.map(_.start).min
    val failed = samples.count(!_.ok)
    // throughput of the fastest pass after the first, for the reason above
    val fastest = (if (k > 1) samples.filter(_.pass > 1) else samples)
      .groupBy(_.pass).values.minByOption(_.map(_.ms).sum).getOrElse(Nil)
    val busy = fastest.map(_.ms).sum / 1e3
    def rate(kind: Int): Option[Metric] = {
      val ss = samples.filter(_.op.kind == kind)
      if (ss.isEmpty) None
      else Some(Metric(if (kind == Op.Write) "write_mcells_per_s" else "read_mcells_per_s",
        ss.map(_.op.cells).sum / 1e6 / (ss.map(_.ms).sum / 1e3), "Mcells/s",
        s"${ss.size} ops"))
    }
    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", pct(best, 0.5), "ms", s"${best.size} ops, best of $k passes"),
      Metric("op_p90_ms", p90, "ms",
        s"${best.size} ops, best of $k passes, ${best.count(_ > p90)} beyond p90"),
      Metric("ops_per_s", fastest.size / busy, "ops/s",
        f"${fastest.size} ops of the fastest pass after the first in $busy%.2f s"),
      Metric("pass_s", best.sum / 1e3, "s", s"sum of ${best.size} ops' best of $k passes")) ++
      rate(Op.Write) ++ rate(Op.Read) ++ Seq(
      Metric("mem_peak_mb", HeapPeak.peak / 1048576.0, "MiB"),
      Metric("fail_frac", failed.toDouble / math.max(n, 1), "ratio",
        s"$failed of $n ops"))
    tr match {
      case None => (endToEnd, Nil, Nil)
      case Some(t) =>
        val (layer, spans, table) = t.report(n, windowNs, cores)
        val byModule = samples.groupBy(_.op.layer).filter(_._1 != "io")
        val moduleMs = modules.filter(byModule.contains).map { m =>
          val ss = byModule(m)
          Metric(s"layer.$m.op_ms", pct(ss.map(_.ms).sorted, 0.5), "ms", s"${ss.size} ops")
        }
        val io = store.toSeq.flatMap { s =>
          def m(metric: String, span: String) = Metric(metric, t.meanMs(span), "ms")
          Seq(m("io.zarr.write_ms", "io.write.zarr"),
            m("io.netcdf.write_ms", "io.write.netcdf")) ++
          Seq("zarr", "netcdf", "hdf5").flatMap(f => Seq(
            m(s"io.$f.open_ms", s"io.open.$f"), m(s"io.$f.read_ms", s"io.read.$f"))) ++
          s.layerMetrics(t)
        }
        (endToEnd ++ layer ++ moduleMs ++ io, spans, table)
    }
  }

  private def writeResult(spark: SparkSession, a: Map[String, String],
                          samples: Seq[Sample], metrics: Seq[Metric],
                          selfTable: Seq[(String, Long, Double)],
                          spans: Seq[String]): Unit = {
    val out = a("out")
    val perOp = samples.groupBy(_.op.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      js(n) -> obj(Seq("layer" -> js(ss.head.op.layer), "n" -> ss.size.toString,
        "p50_ms" -> num(pct(ss.map(_.ms).sorted, 0.5)), "best_ms" -> num(ss.map(_.ms).min)))
    }
    val json = obj(Seq(
      "workload" -> js(a("workload")),
      "trace" -> a("trace"),
      "seconds" -> a("seconds"),
      "stamp" -> stamp(spark, a),
      "attempted" -> samples.size.toString,
      "failed" -> samples.count(!_.ok).toString,
      "metrics" -> metrics.map(m => obj(Seq("name" -> js(m.name),
        "value" -> num(m.value), "unit" -> js(m.unit), "base" -> js(m.base))))
        .mkString("[", ",", "]"),
      "failures" -> samples.filter(!_.ok).map(s => obj(Seq("op" -> js(s.op.name),
        "pass" -> s.pass.toString, "detail" -> js(s.detail)))).mkString("[", ",", "]"),
      "self_time" -> selfTable.map { case (n, c, ms) =>
        obj(Seq("span" -> js(n), "count" -> c.toString, "self_ms" -> num(ms)))
      }.mkString("[", ",", "]"),
      "passes_s" -> samples.groupBy(_.pass).toSeq.sortBy(_._1).map { case (_, ss) =>
        num((ss.map(_.end).max - ss.map(_.start).min) / 1e9) }.mkString("[", ",", "]"),
      "jvm_gc_s" -> num(ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum / 1e3),
      "ops" -> obj(perOp)))
    Files.write(Paths.get(out, "result.json"), json.getBytes(UTF_8))
    if (spans.nonEmpty)
      Files.write(Paths.get(out, "spans.jsonl"), spans.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Record the expected fingerprints of the registry ops of one
    * workload. Three passes must agree exactly, or nothing is written. */
  def record(spark: SparkSession, a: Map[String, String]): Int = {
    val workload = a("workload")
    val data = dataOf(a, workload)
    val ops = (workload match {
      case "interactive" => Workloads.interactiveOps(spark, data, Map.empty)
      case "bulk" => Workloads.bulkOps(spark, data, Map.empty)
    }).sortBy(_.name)
    val passes = (1 to 3).map { p =>
      System.err.println(s"[perfbench] record pass $p")
      ops.map { op =>
        val got = try graft.util.QueryCache.scoped(op.exec(Phases.off)).got
          catch { case e: Throwable => s"ERROR ${e.getMessage}" }
        spark.catalog.clearCache()
        op.name -> got
      }.toMap
    }
    val unstable = ops.map(_.name).filter(n => passes.map(_(n)).distinct.size > 1)
    val broken = ops.map(_.name).filter(n => passes.head(n).startsWith("ERROR"))
    if (unstable.nonEmpty || broken.nonEmpty) {
      System.err.println(s"[perfbench] not recorded: unstable ${unstable.mkString(",")} " +
        s"failing ${broken.mkString(",")}")
      return 1
    }
    val fps = passes.head.map { case (n, s) =>
      val Array(rows, hash) = s.split(" ")
      n -> Gate.Fingerprint(rows.toLong, hash)
    }
    Gate.save(expectedFile(a, workload), fps, "op rows xxhash64-sum; recorded on " +
      s"${Workloads.dataDir(a("data-label"), workload)} at ${a("commit")}")
    System.err.println(s"[perfbench] recorded ${fps.size} fingerprints")
    0
  }

  /** Every end-to-end and per-layer metric name this benchmark defines;
    * the self-test fails if a traced pass over all layers misses one. */
  val endToEndNames: Seq[String] = Seq("setup_s", "op_p50_ms", "op_p90_ms",
    "ops_per_s", "pass_s", "write_mcells_per_s", "read_mcells_per_s",
    "mem_peak_mb", "fail_frac")
  val perLayerNames: Seq[String] = Seq("call_ms", "plan_ms", "plan_nodes",
    "plan_exchanges", "action_ms", "jobs_per_op", "stages_per_op",
    "tasks_per_op", "sched_wait_ms", "task_run_s", "task_cpu_s", "gc_s",
    "core_busy_frac", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "input_mb", "tasks_failed", "cache_blocks", "cache_mb", "stream.batches",
    "stream.input_rows", "stream.trigger_ms", "stream.planning_ms",
    "stream.wal_ms", "io.zarr.write_ms", "io.netcdf.write_ms",
    "io.zarr.chunks", "codec.zarr.decode_mb_s", "codec.hdf5.decode_mb_s",
    "codec.netcdf.decode_mb_s", "codec.blosc.encode_mb_s") ++
    modules.map(m => s"layer.$m.op_ms") ++
    Seq("zarr", "netcdf", "hdf5").flatMap(f =>
      Seq(s"io.$f.open_ms", s"io.$f.read_ms", s"io.$f.bytes_per_cell"))

  def selftest(spark: SparkSession, a: Map[String, String]): Int = {
    val expected = Gate.load(expectedFile(a, "interactive"))
    val store = storeFor(spark, a, Seq(4, 8, 8), Seq(2, 4, 4))
    def oneOfEachModule(exp: Map[String, Gate.Fingerprint]) =
      Workloads.interactiveOps(spark, dataOf(a, "interactive"), exp)
        .groupBy(_.layer).values.map(_.head).toSeq.sortBy(_.name)
    val inter = oneOfEachModule(expected)
    val verbs = Workloads.bulkOps(spark, dataOf(a, "bulk"),
      Gate.load(expectedFile(a, "bulk")))
    store.setup()
    val tracer = new Tracer(spark)
    tracer.start()
    val ops = inter ++ verbs ++ store.ops
    val samples = window(spark, ops, a("seed").toLong, None, Some(tracer))
    tracer.stop()
    val (metrics, _, _) = measure(spark, samples, 1.0, Some(tracer), Some(store),
      a("cores").toInt)
    val errors = ArrayBuffer.empty[String]
    val byName = metrics.map(m => m.name -> m).toMap
    (endToEndNames ++ perLayerNames).foreach { n =>
      byName.get(n) match {
        case None => errors += s"metric $n not emitted"
        case Some(m) if m.unit.isEmpty || m.value.isNaN => errors += s"metric $n has no unit or value"
        case _ =>
      }
    }
    samples.filter(!_.ok).foreach(s => errors += s"${s.op.name} failed: ${s.detail}")
    // the gate must fail an op whose recorded fingerprint is wrong
    val victim = inter.head.name
    val corrupt = expected.updated(victim, expected(victim)
      .copy(hash = (BigInt(expected(victim).hash) + 1).toString))
    val bad = runOne(spark, oneOfEachModule(corrupt).head, 1, None)
    if (bad.ok) errors += s"corrupted fingerprint for $victim was not caught"
    store.cleanup()
    metrics.foreach(m => println(f"selftest metric ${m.name}%-28s ${m.value}%14.4f ${m.unit}"))
    errors.foreach(e => println(s"selftest FAIL $e"))
    println(s"selftest ${if (errors.isEmpty) "PASS" else "FAIL"}: " +
      s"${metrics.size} metrics, ${samples.size} ops, corrupted-fingerprint check " +
      s"${if (bad.ok) "missed" else "caught"}")
    if (errors.isEmpty) 0 else 1
  }

  // -- minimal JSON writing --
  private def js(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${if (k.startsWith("\"")) k else js(k)}:$v" }
      .mkString("{", ",", "}")
}
