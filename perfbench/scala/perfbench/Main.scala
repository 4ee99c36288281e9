package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark program: one workload, one JVM, one result file.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --inputs DIR --work DIR --out FILE [--pins FILE] [--write-pins FILE]
  * }}}
  *
  * `--inputs` holds what `gen.py` wrote (`base/` and `seeded/`); the
  * program writes only under `--work`. The result file carries every
  * metric, every check and the run's environment; `run.py` turns it into
  * the one-line summary. */
object Main {

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      inputs: Path,
      work: Path,
      out: Path,
      pins: Option[Path],
      writePins: Option[Path]) {
    def base: Path = inputs.resolve("base")
    def seeded: Path = inputs.resolve("seeded")
  }

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("inputs")), Paths.get(need("work")),
      Paths.get(need("out")), kv.get("pins").map(Paths.get(_)),
      kv.get("write-pins").map(Paths.get(_)))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val r = new Result(o)
    r.env("loadavg_before") = Env.loadavg()
    val run: Workload = o.workload match {
      case "ingest"       => new Ingest(o, r)
      case "query_corpus" => new QueryCorpus(o, r)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try run.execute()
    finally run.stop()
    run.phase("stopped")
    r.e2e("heap_peak_mb") = (run.heapPeakMb, "MB")
    r.env("loadavg_after") = Env.loadavg()
    Env.record(r)
    Files.writeString(o.out, r.json)
  }
}

/** A workload: setup (repeated, median reported), a cold first operation,
  * then operations in a closed loop until the window closes, then checks. */
abstract class Workload(val o: Main.Opts, val r: Result) {
  val trace = new Trace
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())
  var spark: SparkSession = _
  val SetupRepeats = 3

  /** Copies inputs into the writable work area; called once per setup. */
  def stage(): Unit
  /** Everything after setup. */
  def measure(): Unit

  def execute(): Unit = {
    val setups = (1 to SetupRepeats).map { _ =>
      if (spark != null) { spark.stop(); spark = null }
      val t0 = System.nanoTime()
      spark = graft.GraftSession.builder(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      stage()
      warm()
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t0) / 1e9)
    }
    if (o.trace) trace.register(spark)
    r.samples("setup_s") = setups.map(_._2)
    r.samples("session_start_s") = setups.map(_._1)
    r.e2e("setup_s") = (Stats.median(setups.map(_._2)), "s")
    r.layer("session.start_s") = (Stats.median(setups.map(_._1)), "s")
    phase("setup")
    measure()
    phase("checks")
  }

  /** Brings up the paths every workload shares (codegen, the parquet
    * reader) so their one-time cost stays out of the first operation. */
  def warm(): Unit = {
    spark.range(1000000).selectExpr("sum(id) as s")
      .write.format("noop").mode("overwrite").save()
    spark.read.parquet(o.base.resolve("corpus/nation.parquet").toString)
      .write.format("noop").mode("overwrite").save()
  }

  def stop(): Unit = if (spark != null) spark.stop()

  /** Peak live heap: the most heap left in use after a full collection,
    * read by the workloads after every cycle or pass (outside its timing). */
  var heapPeakMb = 0.0
  def noteHeap(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapPeakMb = math.max(heapPeakMb, used / (1024.0 * 1024.0))
  }

  /** Runs one operation with tracing on or off, attributing its Spark work
    * to `op`; returns wall seconds. Listener events are drained before and
    * after so no event leaks into a neighbouring operation. */
  def timed(op: String, traced: Boolean)(body: => Unit): Double = {
    val sc = spark.sparkContext
    org.apache.spark.PerfbenchBus.drain(sc)
    trace.currentOp = op
    trace.threadOp.set(op)
    sc.setLocalProperty("perfbench.op", op)
    trace.on.set(traced)
    val c0 = processCpuNs()
    val t0 = System.nanoTime()
    try {
      body
      (System.nanoTime() - t0) / 1e9
    } finally {
      cpuOf(op) = (processCpuNs() - c0) / 1e9
      org.apache.spark.PerfbenchBus.drain(sc)
      trace.on.set(false)
      sc.setLocalProperty("perfbench.op", null)
    }
  }

  /** CPU seconds the whole process spent in each operation: its threads'
    * time on a CPU, which, unlike wall time, does not grow while the host
    * hands this machine's CPUs to someone else. */
  val cpuOf = scala.collection.concurrent.TrieMap.empty[String, Double]
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => throw new IllegalStateException("this JVM does not report process CPU time")
  }

  /** Runs one part of the operation under way, in the calling thread, with
    * its Spark jobs and spans attributed to `part`; returns its value and
    * wall seconds. */
  def within[T](part: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", part)
    trace.threadOp.set(part)
    val t0 = System.nanoTime()
    try {
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } finally sc.setLocalProperty("perfbench.op", trace.currentOp)
  }

  /** Runs the parts of one operation side by side, each in its own thread,
    * as a scheduler runs independent tasks; returns once all have ended. */
  def concurrently(parts: (() => Unit)*): Unit = {
    val threads = parts.map(p => new Thread(() => p()))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** In a traced run, operations are untraced, traced, traced, untraced
    * (repeating), so a steady drift in operation time cancels out of the
    * overhead estimate. */
  def tracedOp(i: Int): Boolean = o.trace && (i % 4 == 1 || i % 4 == 2)

  /** Operations every run measures. The JVM is still warming up through
    * the window, so the end-to-end figures come from this fixed prefix of
    * the loop: the same stretch of the warm-up curve on every run. */
  def minOps: Int

  /** Whether operation `i` of a loop begun at `start` still runs, given
    * the times of those before it: the first `minOps`, then each that is
    * expected to end inside the window. On a host so slow that the process
    * has run for `HardStopS`, only the first, so the run still ends in time. */
  def more(i: Int, start: Long, done: Seq[Double]): Boolean =
    i == 0 || (System.currentTimeMillis() - born) / 1e3 < HardStopS &&
      (i < minOps || (System.nanoTime() - start) / 1e9 + Stats.median(done) <= o.seconds)
  private val HardStopS = 110

  private val born = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Notes how far into the process a phase ended, to see where a run's
    * wall time goes. */
  def phase(name: String): Unit =
    r.notes(s"phase.$name") = f"${(System.currentTimeMillis() - born) / 1e3}%.1f s after JVM start"

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = r.synchronized {
    r.attempted += 1
    if (!ok) r.failed += 1
    r.checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  /** Records one engine operation; a throw counts as a failure. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try {
      val v = body
      r.synchronized(r.attempted += 1)
      Some(v)
    } catch {
      case e: Throwable =>
        check(what, ok = false, String.valueOf(e.getMessage).take(300))
        None
    }

  /** Spark work per traced operation, each given as the names its parts
    * were attributed to: medians of the summed counters. */
  def sparkLayer(ops: Seq[Seq[String]]): Unit = {
    def med(f: trace.Counters => Double) = Stats.median(ops.map(_.map(n => f(trace.countersOf(n))).sum))
    r.layer("spark.jobs") = (med(_.jobs.toDouble), "count")
    r.layer("spark.stages") = (med(_.stages.toDouble), "count")
    r.layer("spark.tasks") = (med(_.tasks.toDouble), "count")
    r.layer("spark.task_cpu_s") = (med(_.taskCpuNs / 1e9), "s")
    r.layer("spark.shuffle_bytes") = (med(_.shuffleBytes.toDouble), "bytes")
  }

  /** Tracing overhead: traced over untraced median operation time, minus 1. */
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Unit =
    if (o.trace && traced.nonEmpty && untraced.nonEmpty)
      r.layer("trace.overhead_frac") =
        (Stats.median(traced) / Stats.median(untraced) - 1.0, "ratio")
}

final class Result(o: Main.Opts) {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val env = mutable.LinkedHashMap.empty[String, String]
  val notes = mutable.LinkedHashMap.empty[String, String]
  var attempted, failed = 0L

  def json: String = {
    def s(x: String) = "\"" + x.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s"${s(k)}:{\"value\":${num(v)},\"unit\":${s(u)}}" }
        .mkString("{", ",", "}")
    val parts = Seq(
      "workload" -> s(o.workload), "seed" -> o.seed.toString,
      "trace" -> (if (o.trace) "1" else "0"),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "end_to_end" -> metrics(e2e), "per_layer" -> metrics(layer),
      "samples" -> samples.map { case (k, v) => s"${s(k)}:${v.map(num).mkString("[", ",", "]")}" }
        .mkString("{", ",", "}"),
      "checks" -> checks.map { case (n, ok, d) =>
        s"{\"name\":${s(n)},\"ok\":$ok,\"detail\":${s(d)}}" }.mkString("[", ",", "]"),
      "notes" -> notes.map { case (k, v) => s"${s(k)}:${s(v)}" }.mkString("{", ",", "}"),
      "env" -> env.map { case (k, v) => s"${s(k)}:${s(v)}" }.mkString("{", ",", "}"))
    parts.map { case (k, v) => s"${s(k)}:$v" }.mkString("{", ",", "}") + "\n"
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN when there are no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val v = xs.sorted
      val pos = q * (v.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }
  /** The highest percentile (in steps of 5) that still has at least 10
    * samples strictly beyond it; None when there are too few samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    (95 to 50 by -5).find(p => xs.size * (100 - p) / 100.0 >= 10.0)
      .map(p => p -> quantile(xs, p / 100.0))
}

object Env {
  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: Throwable => "unavailable" }

  def record(r: Result): Unit = {
    r.env("nproc") = Runtime.getRuntime.availableProcessors().toString
    r.env("SPARK_GRAFT_CPUS") = sys.env.getOrElse("SPARK_GRAFT_CPUS", "")
    r.env("jvm") = s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"
    r.env("max_heap_mb") = (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString
    r.env("spark") = org.apache.spark.SPARK_VERSION
  }
}
