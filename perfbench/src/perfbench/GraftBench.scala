package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ocr.{OcrPipeline, StubOcr}

/** One workload run of the graft benchmark, in one JVM with one client
  * thread (a closed loop).
  *
  *  1. Set-up: build the session with graft.Bench's confs, then run every
  *     query once in the listed order and write its output as parquet for
  *     the DuckDB oracle check. This pass is the warm-up (it fills JIT and
  *     the engine's caches).
  *  2. Window: passes over the workload's queries, each pass in an order
  *     shuffled by the seed, until `seconds` of busy time have elapsed
  *     (untraced, the last pass may stop part-way). Each
  *     execution is `SparkEntry.queries(name)(spark, sfDir)` followed by a
  *     noop-sink write, the action graft.Bench times.
  *  3. With tracing on, the window runs whole blocks of untraced and
  *     traced passes (U T T U), and then the seeded OCR images are timed
  *     directly.
  *
  * Writes `result.json` to the output directory; run.py turns it into
  * the benchmark's metrics.
  *
  * Args: --queries a,b,c --sf-dir D --out D --seed N --seconds S
  *       --trace 0|1 --cpus N
  */
object GraftBench {
  type QueryFn = (SparkSession, String) => DataFrame
  val OcrImages = 200

  /** One measured execution; times on the epoch-microsecond clock. */
  final case class Exec(id: Int, query: String, pass: Int, traced: Boolean,
      q0: Long, b1: Long, e1: Long, err: String) {
    def ok: Boolean = err == null
  }

  /** One pass of the window: busy time excludes the untimed GC before it. */
  final case class Pass(traced: Boolean, busyS: Double, gcS: Double, jitS: Double)

  private val nanoBase = System.nanoTime()
  private val epochBaseUs = System.currentTimeMillis() * 1000
  def nowUs(): Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000

  /** graft.Bench's session confs (Bench.scala, `main`) with its env
    * defaults fixed and the cpu count taken from the host. run.py checks
    * the built session against Bench's source. */
  def benchConf(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
    "spark.cleaner.periodicGC.interval" -> "1min",
    "spark.ui.enabled" -> "false")

  def session(cpus: Int): SparkSession =
    benchConf(cpus).foldLeft(SparkSession.builder().withExtensions(new graft.plans.GraftExtensions)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()

  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val queries = opt("queries").split(",").toVector
    val sfDir = opt("sf-dir")
    val out = Paths.get(opt("out"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    Files.createDirectories(out)

    val t0 = System.nanoTime()
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val conf = spark.conf.getAll
    spark.range(1000).selectExpr("sum(id)").collect()
    val registry = SparkEntry.queries
    val unknown = queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val fns: Map[String, QueryFn] = queries.map(q => q -> registry(q)).toMap

    // Set-up pass: every query once, in the workload's listed order (the
    // same in every run, so the JIT profiles it leaves do not depend on the
    // seed), its output kept for the oracle check. This is the warm-up.
    val warmS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val warmErrors = queries.flatMap { q =>
      val w0 = System.nanoTime()
      try {
        fns(q)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
        None
      } catch { case e: Throwable => Some(q -> s"${e.getClass.getName}: ${e.getMessage}") }
      finally warmS(q) = (System.nanoTime() - w0) / 1e9
    }.toMap
    val setupS = (System.nanoTime() - t0) / 1e9
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => fns.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"), Json(oracle))

    // The window. With tracing on, passes alternate untraced/traced in
    // ABBA blocks (U T T U), so both kinds sit at the same point of the
    // JIT warm-up on average and their throughput difference is the
    // tracing overhead; every block ends with the listeners detached,
    // after the events the block posted have been delivered.
    val sc = spark.sparkContext
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val tracer = if (trace) Some(new Tracer) else None
    def tracedPass(p: Int) = tracer.isDefined && (p % 4 == 2 || p % 4 == 3)
    def attach(on: Boolean): Unit = tracer.foreach { t =>
      if (on) { sc.addSparkListener(t); classic.listenerManager.register(t) }
      else {
        BenchAccess.drainListeners(sc)
        sc.removeSparkListener(t)
        classic.listenerManager.unregister(t)
      }
    }
    val execs = ArrayBuffer.empty[Exec]
    val passes = ArrayBuffer.empty[Pass]
    def done = passes.nonEmpty && passes.map(_.busyS).sum >= seconds && (!trace || passes.size % 4 == 0)
    while (!done) {
      val p = passes.size + 1
      val on = tracedPass(p)
      if (on != tracedPass(p - 1)) attach(on)
      // Untimed full GC between passes, as graft.Bench does between
      // queries: the ContextCleaner frees shuffle and broadcast state
      // only once the driver-side handles are collected.
      System.gc()
      val gc0 = gcMs()
      val jit0 = jitMs()
      val start = System.nanoTime()
      // Untraced, the window may end inside a pass once every query has
      // run, so the number of executions grows smoothly with `seconds`
      // rather than in steps of a whole pass. Traced, it ends on whole
      // U T T U blocks, which the per-pass layer totals need.
      val busy0 = passes.map(_.busyS).sum
      def timeUp = !trace && passes.nonEmpty && busy0 + (System.nanoTime() - start) / 1e9 >= seconds
      order(queries, seed, p).iterator.takeWhile(_ => !timeUp).foreach { q =>
        val id = execs.size
        def tag(phase: String): Unit = if (on) sc.setLocalProperty(Tracer.SpanKey, s"$id/$phase")
        tag("b")
        val q0 = nowUs()
        var b1 = -1L
        val err =
          try {
            val df = fns(q)(spark, sfDir)
            b1 = nowUs()
            tag("e")
            df.write.format("noop").mode("overwrite").save()
            null
          } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
          finally if (on) sc.setLocalProperty(Tracer.SpanKey, null)
        val e1 = nowUs()
        execs += Exec(id, q, p, on, q0, if (b1 < 0) e1 else b1, e1, err)
      }
      passes += Pass(on, (System.nanoTime() - start) / 1e9, (gcMs() - gc0) / 1e3, (jitMs() - jit0) / 1e3)
    }
    val heapMb = retainedHeapMb()
    val layers = tracer.map(t => Layers(passes.toVector, execs.toVector, t))
    val ocr = if (trace) Some(ocrTimings(spark, sfDir, seed, OcrImages)) else None

    spark.stop()
    val result = Map[String, Any](
      "seed" -> seed, "sf_dir" -> sfDir, "cpus" -> cpus, "conf" -> conf,
      "setup_s" -> setupS, "warmup_errors" -> warmErrors,
      "warmup_s" -> warmS.toMap, "heap_retained_mb" -> heapMb,
      "passes" -> passes.map(p => Map("traced" -> p.traced, "busy_s" -> p.busyS, "gc_s" -> p.gcS, "jit_s" -> p.jitS)),
      "execs" -> execs.map(e => Seq(e.query, e.pass, (e.e1 - e.q0) / 1e6, e.err, e.traced)),
      "layers" -> layers.map(_.metrics).orNull,
      "accounting" -> layers.map(_.perQuery).orNull,
      "ocr" -> ocr.orNull)
    Files.writeString(out.resolve("result.json"), Json(result))
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** JIT compiler thread time so far (all compiler threads summed). */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Driver heap in use after full collections, in MiB. The ContextCleaner
    * frees shuffle and broadcast state on its own thread once a collection
    * has found their handles unreachable, so collect and give it time,
    * until the figure stops falling (at most 20 rounds). */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used(): Long = { mem.gc(); Thread.sleep(100); mem.gc(); mem.getHeapMemoryUsage.getUsed }
    var prev = used()
    var cur = used()
    var rounds = 2
    while (rounds < 20 && cur < prev - prev / 1000) { prev = cur; cur = used(); rounds += 1 }
    cur / (1024.0 * 1024.0)
  }

  /** The OCR layer called directly: seeded grey-noise PNGs, each carrying
    * a seeded `documents` text via StubOcr.embed, through
    * OcrPipeline.preprocess and a StubOcr backend. The first round warms
    * up; the second is timed. Every extracted text must equal the embedded
    * one. */
  def ocrTimings(spark: SparkSession, sfDir: String, seed: Long, n: Int): Map[String, Any] = {
    val texts = graft.Tables.documents(spark, sfDir).select("text").collect().map(_.getString(0))
    val rnd = new scala.util.Random(seed)
    val images = Vector.fill(n) {
      val w = 48 + rnd.nextInt(48)
      val h = 24 + rnd.nextInt(24)
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rnd.nextInt(0x1000000))
      val png = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", png)
      val text = texts(rnd.nextInt(texts.length))
      (s"img_${rnd.nextInt(1 << 20)}.png", StubOcr.embed(png.toByteArray, text), text)
    }
    val backend = StubOcr.Factory.create()
    var preNs, extNs, bad = 0L
    for (round <- 0 to 1; (path, bytes, text) <- images) {
      val t0 = System.nanoTime()
      val pre = OcrPipeline.preprocess(path, bytes)
      val t1 = System.nanoTime()
      val got = if (pre.error == null) backend.extract(pre.image) else Left(pre.error)
      val t2 = System.nanoTime()
      if (round == 1) {
        preNs += t1 - t0
        extNs += t2 - t1
        if (got != Right(text)) bad += 1
      }
    }
    Map("images" -> n, "preprocess_ms" -> preNs / 1e6 / n, "extract_ms" -> extNs / 1e6 / n,
      "mismatches" -> bad)
  }
}

/** Per-layer totals of a traced window, per pass, plus the per-query
  * self-time accounting.
  *
  * Self times split each query's wall time, with no overlap:
  *  - registry: build span outside Catalyst phases and jobs,
  *  - catalyst: analysis/optimization/planning of executed queries, outside jobs,
  *  - driver: execute span outside Catalyst phases and jobs,
  *  - scheduler: inside a job while no task runs,
  *  - tasks: inside a job while at least one task runs.
  */
final case class Layers(passes: Vector[GraftBench.Pass], all: Vector[GraftBench.Exec], tracer: Tracer) {
  import Layers.Acct

  private val w = all.filter(_.traced)
  private val phases = tracer.allPhases.map { case (n, s, e) => (n, Ival(s * 1000, e * 1000)) }
  private val empty = new SpanAcc

  val accts: Vector[Acct] = w.map { e =>
    val b = tracer.spanOpt(s"${e.id}/b").getOrElse(empty)
    val x = tracer.spanOpt(s"${e.id}/e").getOrElse(empty)
    def in(lo: Long, hi: Long) = phases.collect { case (_, i) if i.s >= lo && i.s < hi => i }
    val jb = Ival.union(b.jobIvals, e.q0, e.b1)
    val je = Ival.union(x.jobIvals, e.b1, e.e1)
    val cb = Ival.union(in(e.q0 / 1000 * 1000, e.b1), e.q0, e.b1)
    val ce = Ival.union(in(e.b1, e.e1 + 1000), e.b1, e.e1)
    val catB = Ival.minusLen(cb, jb)
    val catE = Ival.minusLen(ce, je)
    val tasks = Ival.union(b.taskIvals ++ x.taskIvals, e.q0, e.e1)
    val jobs = jb ++ je
    val tsk = jobs.iterator.map(j => Ival.total(Ival.union(tasks, j.s, j.e))).sum
    Acct(e, b, x, jb, je,
      regS = (e.b1 - e.q0) - Ival.total(jb) - catB,
      catS = catB + catE,
      drvS = (e.e1 - e.b1) - Ival.total(je) - catE,
      schS = Ival.total(jobs) - tsk,
      tskS = tsk,
      busyRaw = Ival.total(Ival.union(x.jobIvals, Long.MinValue, Long.MaxValue)),
      jobRaw = Ival.total(Ival.union(b.jobIvals ++ x.jobIvals, Long.MinValue, Long.MaxValue)))
  }

  def metrics: Map[String, Any] = {
    val p = passes.count(_.traced).toDouble
    def sumAcc(f: SpanAcc => Long) = accts.map(a => f(a.b) + f(a.x)).sum
    def s(us: Long) = us / 1e6 / p
    def phase(n: String) = accts.map { a =>
      phases.collect { case (`n`, i) if i.s >= a.e.q0 / 1000 * 1000 && i.s < a.e.e1 + 1000 => i.len }.sum
    }.sum / 1e6 / p
    val tasks = sumAcc(_.tasks)
    def qps(traced: Boolean) =
      all.count(e => e.ok && e.traced == traced) / passes.filter(_.traced == traced).map(_.busyS).sum
    val plainQps = qps(false)
    val tracedQps = qps(true)
    Map(
      "registry.build_s" -> s(accts.map(a => a.e.b1 - a.e.q0).sum),
      "registry.build_jobs" -> accts.map(_.b.jobs).sum / p,
      "registry.self_s" -> s(accts.map(_.regS).sum),
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "catalyst.self_s" -> s(accts.map(_.catS).sum),
      "scheduler.jobs" -> sumAcc(_.jobs) / p,
      "scheduler.stages" -> sumAcc(_.stages) / p,
      "scheduler.tasks" -> tasks / p,
      "scheduler.job_busy_s" -> s(accts.map(a => Ival.total(a.je)).sum),
      "scheduler.floor_s" -> s(accts.map(a => (a.e.e1 - a.e.b1) - Ival.total(a.je)).sum),
      "scheduler.task_delay_s" -> sumAcc(_.delayMs) / 1e3 / p,
      "scheduler.empty_task_frac" -> (if (tasks == 0) 0.0 else sumAcc(_.emptyTasks).toDouble / tasks),
      "scheduler.self_s" -> s(accts.map(_.schS).sum),
      "driver.self_s" -> s(accts.map(_.drvS).sum),
      "tasks.run_s" -> sumAcc(_.runMs) / 1e3 / p,
      "tasks.cpu_s" -> sumAcc(_.cpuNs) / 1e9 / p,
      "tasks.gc_s" -> sumAcc(_.gcMs) / 1e3 / p,
      "tasks.deserialize_s" -> sumAcc(_.deserMs) / 1e3 / p,
      "tasks.self_s" -> s(accts.map(_.tskS).sum),
      "exchange.write_bytes" -> sumAcc(_.shWriteB) / p,
      "exchange.read_bytes" -> sumAcc(_.shReadB) / p,
      "exchange.fetch_wait_s" -> sumAcc(_.fetchWaitMs) / 1e3 / p,
      "exchange.spill_bytes" -> sumAcc(_.spillB) / p,
      "sources.read_bytes" -> sumAcc(_.inB) / p,
      "sources.read_records" -> sumAcc(_.inRec) / p,
      "sources.write_bytes" -> sumAcc(_.outB) / p,
      "sources.write_records" -> sumAcc(_.outRec) / p,
      "jvm.gc_s" -> passes.filter(_.traced).map(_.gcS).sum / p,
      "jvm.jit_s" -> passes.filter(_.traced).map(_.jitS).sum / p,
      "trace.queries_per_s" -> tracedQps,
      "trace.overhead_frac" -> (plainQps - tracedQps) / plainQps,
      "trace.passes" -> p,
      "trace.failed" -> w.count(!_.ok),
      "trace.lost_events" -> (tracer.openJobs + accts.count(a => a.e.ok && !phases.exists { case (n, i) =>
        n == "planning" && i.s >= a.e.b1 - 1000 && i.s < a.e.e1 + 1000 })),
      "trace.account_err_max" -> accts.map(a => math.abs(a.accounted - a.wall).toDouble / math.max(1L, a.wall)).max,
      "trace.busy_over_wall" -> accts.count(a => a.busyRaw > a.e.e1 - a.e.b1 + 2000),
      "trace.clipped_frac" -> {
        val raw = accts.map(_.jobRaw).sum
        if (raw == 0) 0.0 else (raw - accts.map(a => Ival.total(a.jb) + Ival.total(a.je)).sum).toDouble / raw
      })
  }

  /** Per query: mean wall and self times per execution, in seconds. */
  def perQuery: Map[String, Any] = accts.groupBy(_.e.query).map { case (q, as) =>
    val n = as.size.toDouble
    def m(f: Acct => Long) = as.map(f).sum / 1e6 / n
    q -> Map("n" -> as.size, "wall_s" -> m(_.wall), "build_s" -> m(a => a.e.b1 - a.e.q0),
      "execute_s" -> m(a => a.e.e1 - a.e.b1), "job_busy_s" -> m(_.busyRaw),
      "registry_s" -> m(_.regS), "catalyst_s" -> m(_.catS), "driver_s" -> m(_.drvS),
      "scheduler_s" -> m(_.schS), "tasks_s" -> m(_.tskS), "jobs" -> as.map(a => a.b.jobs + a.x.jobs).sum / n)
  }
}

object Layers {
  /** One traced execution: its build/execute spans' listener totals, job
    * intervals, self times per layer and unclipped job time, in µs. */
  final case class Acct(e: GraftBench.Exec, b: SpanAcc, x: SpanAcc, jb: Vector[Ival], je: Vector[Ival],
      regS: Long, catS: Long, drvS: Long, schS: Long, tskS: Long, busyRaw: Long, jobRaw: Long) {
    def wall: Long = e.e1 - e.q0
    def accounted: Long = regS + catS + drvS + schS + tskS
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
