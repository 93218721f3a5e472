package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.{GenQueries, Schedule, Sinks, StreamGen}

/** The benchmark's JVM side. It calls the engine's layer entry points,
  * times each op from one client thread, and writes a run record that
  * `run.py` turns into metrics. Invoked by `run.py`, never by hand:
  *
  *   --workload generate|queries|selftest|classify
  *   --seed N --passes K --trace 0|1 --data DIR --queries FILE
  *   --out FILE
  */
object Driver {
  type Rec = Map[String, Any]

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Epoch milliseconds with sub-millisecond resolution. */
  private val (baseMs, baseNs) = (System.currentTimeMillis().toDouble, System.nanoTime())
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt("workload") == "classify") {
      Files.writeString(Paths.get(opt("out")),
        json.writeValueAsString(Map("queries" -> Classify.registry())))
      return
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.SessionTuning(SparkSession.builder().master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, opt, cpus.toInt)
    val ok =
      try run.main()
      finally {
        Files.writeString(Paths.get(opt("out")), json.writeValueAsString(run.record()))
        spark.stop()
      }
    if (!ok) sys.exit(1)
  }
}

final class Run(spark: SparkSession, opt: Map[String, String], cpus: Int) {
  import Driver.{now, Rec}

  private val workload = opt("workload")
  private val seed = opt.getOrElse("seed", "0").toLong
  private val passes = opt.getOrElse("passes", "1").toInt
  private val traced = opt.get("trace").contains("1")
  private val data = opt.getOrElse("data", "")

  private val fields = scala.collection.mutable.LinkedHashMap[String, Any](
    "workload" -> workload, "seed" -> seed, "cpus" -> cpus, "trace" -> traced,
    "session_ready" -> now())
  private val ops = ArrayBuffer.empty[Rec]
  private val checks = ArrayBuffer.empty[Rec]
  private val streams = new Recorder.Streams
  spark.streams.addListener(streams)
  private val jobs = new Recorder.Jobs
  private val phases = new Recorder.Phases
  if (traced) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(phases)
  }

  def record(): Rec = {
    drainBus()
    fields("ops") = ops.toSeq
    fields("checks") = checks.toSeq
    fields("streams") = streams.synchronized(streams.started.toSeq)
    fields("batches") = streams.synchronized(streams.batches.toSeq)
    if (traced) {
      fields("jobs") = jobs.synchronized(jobs.jobs.toSeq)
      fields("stages") = jobs.synchronized(jobs.stages.toSeq)
      fields("qes") = phases.synchronized(phases.qes.toSeq)
    }
    fields("peak_rss_mb") = procStatusKb("VmHWM") / 1024.0
    fields("heap_peak_mb") = ManagementHeap.peakMb()
    fields("gc_ms") = gcMs()
    fields.toMap
  }

  def main(): Boolean = workload match {
    case "generate"                 => generate(); true
    case "queries"                  => queries(); true
    case "selftest"                 => fullResultGuard()
  }

  // ---- one timed op ---------------------------------------------------

  /** The timed action: the result is written to the `noop` sink, which
    * executes the whole plan the way a real write would. Never `count()`:
    * Catalyst prunes joins, aggregates and windows under it. */
  private val noopSink: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** Run one op: `build` is the call into the engine that returns the
    * result DataFrame (`QueryDef.fn`, a generator entry point); `sink`
    * then executes it. */
  private def op(name: String, phase: String, pass: Int, extra: Rec = Map.empty,
      sink: DataFrame => Unit = noopSink)(build: => DataFrame): Rec = {
    val gc0 = gcMs()
    val t0 = now()
    var t1 = t0
    val err =
      try {
        val df = build
        t1 = now()
        sink(df)
        None
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          Some(String.valueOf(e.getMessage).take(300))
      }
    val t2 = now()
    val r = Map("name" -> name, "phase" -> phase, "pass" -> pass,
      "t0" -> t0, "t1" -> (if (err.isEmpty) t1 else t2), "t2" -> t2,
      "ok" -> err.isEmpty, "error" -> err, "gc_ms" -> (gcMs() - gc0)) ++ extra
    ops += r
    r
  }

  /** `passes` timed passes over `cycle`. The count comes from the command
    * line, never from the program's own speed, so a faster build gets no
    * extra samples. */
  private def timedPasses(cycle: Int => Unit): Unit = {
    hostPoint("start")
    ManagementHeap.reset()
    fields("timed_start") = now()
    (0 until passes).foreach(cycle)
    fields("timed_end") = now()
    fields("passes") = passes
    hostPoint("end")
  }

  private def check(name: String, ok: Boolean, detail: String): Unit = {
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  private def warmDone(): Unit = {
    calibProbe() // compiles the probe's code before the first reading
    fields("warm_done") = now()
  }

  // ---- generate ---------------------------------------------------------

  private def spec(n: Long) = GenQueries.demoSpec(n).copy(seed = seed)

  private def generate(): Unit = {
    val nBlock = opt("block-events").toLong
    val nExport = opt("export-events").toLong
    val dStreams = opt("detect-streams").toLong
    val dEvents = opt("detect-events").toLong
    val exportDir = Paths.get("target", "perfbench_export").toAbsolutePath.toString
    def block(phase: String, pass: Int, n: Long) =
      op("block", phase, pass, Map("events" -> n)) {
        StreamGen.block(spark, spec(n)).toDF()
      }
    def detect(phase: String, pass: Int, streams: Long, events: Long) =
      op("detect", phase, pass, Map("events" -> streams * events)) {
        GenQueries.keyedDetect(spark, spec(events), streams)
      }
    def export(phase: String, pass: Int, n: Long) =
      op("export", phase, pass, Map("events" -> n)) {
        Sinks.toParquet(StreamGen.block(spark, spec(n)), exportDir)
        spark.read.parquet(exportDir)
      }
    // a small cycle compiles the code paths, a full-size one lets the JIT
    // reach steady state before timing starts
    block("warmup", 0, 20000L)
    detect("warmup", 0, 4L, 5000L)
    export("warmup", 0, 20000L)
    block("warmup", 1, nBlock)
    detect("warmup", 1, dStreams, dEvents)
    export("warmup", 1, nExport)
    warmDone()
    timedPasses { p =>
      block("timed", p, nBlock)
      detect("timed", p, dStreams, dEvents)
      export("timed", p, nExport)
      if (p == 0) fields("export_bytes") = dirBytes(Paths.get(exportDir))
    }
    checkGenerate(nBlock, dStreams, dEvents, nExport, exportDir)
  }

  /** Output checks of the generator ops, on one untimed execution each
    * of the same specs the timed ops ran. */
  private def checkGenerate(nBlock: Long, dStreams: Long, dEvents: Long,
      nExport: Long, exportDir: String): Unit = {
    import spark.implicits._
    val ratio = spec(nBlock).randomRatio
    // per partition: n, randoms, min/max type, first/last (seq, ts), in order
    val parts = StreamGen.block(spark, spec(nBlock)).mapPartitions { it =>
      var n, nr, fs, fts, ls, lts = 0L
      var minT, maxT = -1
      var inOrder = true
      it.foreach { e =>
        if (n == 0) { fs = e.seq; fts = e.ts; minT = e.event_type; maxT = e.event_type }
        else inOrder &&= e.seq == ls + 1 && e.ts >= lts
        n += 1; if (!e.is_pattern) nr += 1
        minT = math.min(minT, e.event_type); maxT = math.max(maxT, e.event_type)
        ls = e.seq; lts = e.ts
      }
      Iterator((n, nr, minT, maxT, fs, fts, ls, lts, inOrder))
    }.collect().filter(_._1 > 0).sortBy(_._5)
    val n = parts.map(_._1).sum
    val nr = parts.map(_._2).sum
    val joined = parts.sliding(2).forall {
      case Array(a, b) => b._5 == a._7 + 1 && b._6 >= a._8
      case _ => true
    }
    check("block.count", n == nBlock, s"$n events, expected $nBlock")
    val tr = Schedule.targetRandom(nBlock, ratio)
    check("block.random", nr == tr, s"$nr random events, expected $tr")
    check("block.ts_monotone", parts.forall(_._9) && joined && parts.head._5 == 0,
      "seq dense and ts non-decreasing across the stream")
    check("block.types", parts.forall(p => p._3 >= 0 && p._4 < spec(1).nTypes),
      s"types in [${parts.map(_._3).min}, ${parts.map(_._4).max}]")

    val L = spec(dEvents).patterns.length
    val perStream = Schedule.blocks(dEvents, ratio, L).count(b => b.isPattern && b.len == L)
    val got = GenQueries.keyedDetect(spark, spec(dEvents), dStreams)
      .head().getAs[Long]("n_true_instances")
    check("detect.true_instances", got == dStreams * perStream,
      s"$got true instances, expected ${dStreams * perStream}")

    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(seq, ts, event_type, is_pattern))")).head()
      (r.getLong(0), r.getLong(1))
    }
    Sinks.toParquet(StreamGen.block(spark, spec(nExport)), exportDir)
    val back = fingerprint(spark.read.parquet(exportDir))
    val mem = fingerprint(StreamGen.block(spark, spec(nExport)).toDF())
    check("export.readback", back == mem && back._1 == nExport,
      s"read back (count, checksum) $back, in memory $mem")
  }

  // ---- queries ------------------------------------------------------------

  /** `--queries` lines: `name<TAB>1|0`, the second field saying whether
    * the query has oracle SQL. run.py picks the names. */
  private def queryList(): Seq[(String, Boolean)] =
    Files.readAllLines(Paths.get(opt("queries"))).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(n, o) = l.split('\t'); (n, o == "1")
      }

  private def queries(): Unit = {
    val names = queryList()
    val reg = graft.SparkEntry.queries
    // The warm-up pass is also the result pass: queries with oracle SQL
    // write their result to parquet for run.py's DuckDB compare.
    val out = Paths.get("oracle_out").toAbsolutePath
    val toParquet: String => DataFrame => Unit =
      n => _.coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
    val written = names.flatMap { case (n, hasOracle) =>
      val m0 = storeMarkers()
      val r = if (hasOracle) op(n, "warmup", 0, sink = toParquet(n))(reg(n)(spark, data))
              else op(n, "warmup", 0)(reg(n)(spark, data))
      val fresh = storeMarkers() -- m0
      ops(ops.size - 1) = r ++ Map("stores_built" -> fresh.size,
        "store_bytes" -> fresh.toSeq.map(p => dirBytes(Paths.get(p))).sum)
      if (hasOracle && r("ok") == true) Some(n) else None
    }
    fields("oracle_dir") = out.toString
    fields("oracle_written") = written
    fields("oracle_sql") = written.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
    // a second, noop pass lets the JIT reach steady state before timing
    names.foreach { case (n, _) => op(n, "warmup", 1)(reg(n)(spark, data)) }
    warmDone()
    timedPasses(p => names.foreach { case (n, _) => op(n, "timed", p)(reg(n)(spark, data)) })
    if (traced) {
      val t0 = now()
      fields("functions") = Kernels.measure(spark, data)
      fields("functions_span") = Seq(t0, now())
    }
  }

  // ---- classification and the full-result guard ---------------------------

  /** Self-test: the action the benchmark times (`op` with its default
    * sink) must run every Join, Aggregate, Window, Generate and Expand of
    * the query's optimized plan. The same count under `count()` is
    * recorded beside it. */
  private def fullResultGuard(): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def shape(p: LogicalPlan): Map[String, Int] =
      p.collectWithSubqueries {
        case _: Join => "Join"; case _: Aggregate => "Aggregate"
        case _: Window => "Window"; case _: Generate => "Generate"
        case _: Expand => "Expand"
      }.groupBy(identity).map { case (k, v) => k -> v.size }
    val captured = ArrayBuffer.empty[org.apache.spark.sql.execution.QueryExecution]
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        captured.synchronized(captured += qe)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    })
    val reg = graft.SparkEntry.queries
    val results = queryList().map { case (n, _) =>
      val df = reg(n)(spark, data)
      val want = shape(df.queryExecution.optimizedPlan)
      val counted = shape(df.groupBy().count().queryExecution.optimizedPlan)
      drainBus(); captured.synchronized(captured.clear())
      val ran = op(n, "selftest", 0)(df)("ok") == true
      drainBus()
      val timed = captured.synchronized(captured.lastOption)
        .map(qe => shape(qe.optimizedPlan)).getOrElse(Map.empty)
      def keeps(got: Map[String, Int]) = want.forall { case (k, v) => got.getOrElse(k, 0) >= v }
      val ok = ran && keeps(timed)
      if (!ok) System.err.println(s"[perfbench] GUARD FAILED $n: plan $want, timed $timed")
      Map("name" -> n, "plan" -> want, "timed" -> timed, "ok" -> ok,
        "count_keeps" -> keeps(counted))
    }
    fields("guard") = results
    results.forall(_("ok") == true)
  }

  // ---- host and JVM evidence ------------------------------------------------

  private def drainBus(): Unit = org.apache.spark.graft.BusSync.drain(spark.sparkContext)

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  private def procStatusKb(key: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** Bench's pinned pure-compute probe (`bit_xor(xxhash64(id))` over a
    * fixed range), at a fifth of Bench's range to fit a short run. */
  private def calibProbe(): Double = {
    val t0 = now()
    spark.range(300000000L).agg(expr("bit_xor(xxhash64(id))")).head()
    (now() - t0) / 1000
  }

  /** Calibration probe, 1-min load average and the machine-wide
    * /proc/stat jiffies (for the steal share). Evidence only. */
  private def hostPoint(at: String): Unit = {
    val load = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong).toSeq
    fields(s"host_$at") = Map("calib_s" -> calibProbe(), "load1" -> load, "jiffies" -> cpu)
  }

  /** Build-if-absent store markers and bucketed catalog tables under the
    * working directory (the same path-set rule Bench's warm ledger uses). */
  private def storeMarkers(): Set[String] = {
    def dirs(p: Path): Seq[Path] =
      if (!Files.isDirectory(p)) Nil
      else scala.util.Using.resource(Files.list(p))(_.iterator.asScala.toList)
        .filter(Files.isDirectory(_))
    val tgt = Paths.get("target").toAbsolutePath
    val bases = dirs(tgt).filter { d =>
      val n = d.getFileName.toString; n.startsWith("stage_") || n.startsWith("graft_")
    }
    val markers = bases.flatMap(dirs).filter(d => Files.exists(d.resolve("_GRAFT_STORE_COMPLETE")))
    val tables = dirs(Paths.get("spark-warehouse").toAbsolutePath)
      .filter(_.getFileName.toString.startsWith("graft_bk_"))
    (markers ++ tables).map(_.toString).toSet
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p))(
      _.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum)
}

/** Heap high-water mark over the timed passes. */
object ManagementHeap {
  private def pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb(): Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
