package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.pipeline._

/** The reference's own job: a catalog-driven, per-table parallel copy with
  * persisted watermarks, into the idempotent parquet sink. */
final class CopyPart(w: Workload) {
  import CopyPart._
  import w.{o, r, trace}

  private val root = o.work.resolve("catalog")
  private val src = root.resolve("source")
  private val sinkDir = root.resolve("sink")
  private val statePath = root.resolve("state.properties")
  private val catalogPath = root.resolve("tables_list")
  private var specs: Seq[TableSpec] = Nil
  private val parallelism = math.min(4, w.cpus)
  private var layers = Vector.empty[(String, CopyLayers)]

  def stage(): Unit = {
    Files2.delete(root)
    for (t <- Tables) {
      Files.createDirectories(src.resolve(t))
      Files.copy(o.base.resolve(s"catalog/$t.parquet"), src.resolve(s"$t/part-base.parquet"))
    }
    Files.writeString(catalogPath,
      "table_name,to_be_loaded,watermark_column,watermark_type\n" +
        Tables.map { t =>
          val (c, ty) = Watermarks.getOrElse(t, ("", ""))
          s"$t,yes,$c,$ty"
        }.mkString("\n") + "\n")
    val t0 = System.nanoTime()
    specs = Catalog.load(w.spark, catalogPath.toString)
    r.layer("catalog.load_s") = ((System.nanoTime() - t0) / 1e9, "s")
  }

  /** Lands seeded delta `d` in the source; false when there is none. */
  def land(d: Int): Boolean = {
    val dir = o.seeded.resolve(f"deltas/$d%04d")
    Files.isDirectory(dir) && {
      for (t <- Watermarks.keys)
        Files.copy(dir.resolve(s"$t.parquet"), src.resolve(f"$t/part-delta-$d%04d.parquet"))
      true
    }
  }

  def state(): Map[String, String] = StateStore(statePath.toString).asMap

  /** One `Orchestrator.runAll`, through timing decorators when traced. */
  def cycle(op: String, traced: Boolean): (Double, Option[RunReport]) = {
    val source: Source = Connectors.ParquetSource(src.toString)
    val sink = Connectors.IdempotentParquetSink(sinkDir.toString)
    val state: WatermarkState = StateStore(statePath.toString)
    val start = System.nanoTime()
    val run = scala.util.Try(w.within(op) {
      if (traced)
        Orchestrator.runAll(w.spark, specs, new trace.TracedSource(source),
          new trace.TracedSink(sink), new trace.TracedState(state), parallelism = parallelism)
      else Orchestrator.runAll(w.spark, specs, source, sink, state, parallelism = parallelism)
    })
    run match {
      case scala.util.Success((rep, dt)) =>
        // Every table copy counts as one operation attempted.
        r.synchronized(r.attempted += rep.succeeded.size)
        for ((t, e) <- rep.failed) w.check(s"$op:$t copies", ok = false, String.valueOf(e.getMessage))
        if (traced) layers.synchronized(layers :+= (op -> CopyLayers(op, start, dt, Some(rep))))
        (dt, Some(rep))
      case scala.util.Failure(e) =>
        w.check(s"$op runs", ok = false, String.valueOf(e.getMessage))
        ((System.nanoTime() - start) / 1e9, None)
    }
  }

  def full(traced: Boolean): Double = {
    val (dt, rep) = cycle("full", traced)
    rep.foreach(rep => w.check("full load copies every table",
      rep.succeeded.size == Tables.size && rep.succeeded.values.forall(!_.skipped),
      s"succeeded=${rep.succeeded.keys.toSeq.sorted}"))
    dt
  }

  def delta(d: Int, traced: Boolean): Double = {
    val (dt, rep) = cycle(s"delta-$d", traced)
    rep.foreach(rep => w.check(s"delta-$d copies every watermarked table",
      Watermarks.keys.forall(t => rep.succeeded.get(t).exists(!_.skipped)),
      rep.succeeded.filter(_._2.skipped).keys.mkString(",") + " skipped"))
    dt
  }

  def empty(traced: Boolean): Double = {
    val before = state()
    val (dt, rep) = cycle("noop", traced)
    rep.foreach(rep => w.check("an empty cycle skips and leaves state unchanged",
      Watermarks.keys.forall(t => rep.succeeded.get(t).exists(_.skipped)) && state() == before,
      s"skipped=${rep.succeeded.filter(_._2.skipped).keys} state=${state()} was $before"))
    dt
  }

  /** Per-layer figures: medians over the traced delta cycles, and the
    * traced empty cycle for the figures an empty cycle is made of. */
  def summarise(): Unit = {
    val delta = layers.collect { case (op, l) if op.startsWith("delta-") => l }
    val empty = layers.collect { case (op, l) if op == "noop" => l }
    def med(ls: Seq[CopyLayers])(f: CopyLayers => Double) = Stats.median(ls.map(f))
    r.layer("orchestrator.queue_wait_s") = (med(delta)(_.queueWait), "s")
    r.layer("orchestrator.busy_frac") = (med(delta)(_.busyFrac(parallelism)), "ratio")
    r.layer("source.read_s") = (med(empty)(_.spanSum("source.read")), "s")
    r.layer("source.reads") = (med(empty)(_.spanCount("source.read")), "count")
    r.layer("source.files") = (Files2.count(src, ".parquet").toDouble, "count")
    r.layer("sink.write_s") = (med(delta)(_.spanSum("sink.writeBatch")), "s")
    r.layer("sink.bytes") = (med(delta)(_.counters.outBytes.toDouble), "bytes")
    r.layer("sink.files") = (Files2.count(sinkDir, ".parquet").toDouble, "count")
    r.layer("state.get_s") = (med(delta)(_.spanSum("state.get")), "s")
    r.layer("state.put_s") = (med(delta)(_.spanSum("state.put")), "s")
    r.layer("state.puts") = (med(delta)(_.spanCount("state.put")), "count")
    r.layer("copyjob.self_s") = (med(empty)(_.selfTime), "s")
    r.layer("copyjob.rows") = (med(delta)(_.rows), "count")
    r.layer("copyjob.skipped") = (med(empty)(_.skipped), "count")
    r.layer("copyjob.probe_jobs") = (med(empty)(_.probeJobs), "count")
    r.layer("copy.jobs") = (med(delta)(_.counters.jobs.toDouble), "count")
    r.layer("copy.stages") = (med(delta)(_.counters.stages.toDouble), "count")
    r.layer("copy.tasks") = (med(delta)(_.counters.tasks.toDouble), "count")
    r.layer("copy.task_cpu_s") = (med(delta)(_.counters.taskCpuNs / 1e9), "s")
    r.layer("copy.noop_jobs") = (med(empty)(_.counters.jobs.toDouble), "count")
    for ((op, l) <- layers)
      w.check(s"$op: traced copies go through IdempotentSink.writeBatch",
        l.copiedTables.forall(t => l.spans.exists(_.name == s"sink.writeBatch:$t")),
        s"copied=${l.copiedTables} spans=${l.spans.map(_.name).distinct}")
  }

  /** Everything the copy path promises, checked once after the loop. Row
    * multisets compare by count plus an order-free sum of row hashes. */
  def verify(): Unit = {
    val spark = w.spark
    val st = state()
    for (t <- Tables) {
      val source = spark.read.parquet(src.resolve(t).toString)
      val cols = source.columns.toSeq.map(col)
      val sunk = spark.read.parquet(sinkDir.resolve(t).toString)
      val wm = Watermarks.get(t).map(_._1)
      def digest(df: org.apache.spark.sql.DataFrame) = df.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(cols: _*), lit(2147483647L))), lit(0L)),
        wm.map(c => max(col(c))).getOrElse(lit(null))).head()
      val (a, b) = (digest(source), digest(sunk))
      val keys = sunk.select(Keys(t).map(col): _*).distinct().count()
      w.check(s"$t: every source row reaches the sink exactly once",
        a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1) && keys == b.getLong(0),
        s"source rows=${a.getLong(0)} sink rows=${b.getLong(0)} distinct keys=$keys " +
          s"row-hash sums ${a.getLong(1)} vs ${b.getLong(1)}")
      for ((c, ty) <- Watermarks.get(t)) {
        val expect = (ty, a.get(2)) match {
          case ("id", v: Number) => WatermarkValue.IdValue(v.longValue).serialized
          case (_, ts: java.sql.Timestamp) => WatermarkValue.TsValue(ts).serialized
          case (_, l: java.time.LocalDateTime) =>
            WatermarkValue.TsValue(java.sql.Timestamp.valueOf(l)).serialized
          case (_, i: java.time.Instant) =>
            WatermarkValue.TsValue(java.sql.Timestamp.from(i)).serialized
          case (_, other) => String.valueOf(other)
        }
        w.check(s"$t: final watermark equals the source maximum of $c",
          st.get(t).contains(expect), s"state=${st.get(t)} source max=$expect")
      }
    }
  }

  /** One traced `runAll`, reduced to its layers. */
  private case class CopyLayers(op: String, startNs: Long, wall: Double, report: Option[RunReport]) {
    val spans: Seq[Span] = trace.spansOf(op)
    val counters: trace.Counters = trace.countersOf(op)
    private def layer(s: Span) = s.name.takeWhile(_ != ':')
    private def table(s: Span) = s.name.dropWhile(_ != ':').drop(1)
    def spanSum(name: String): Double = spans.filter(layer(_) == name).map(_.seconds).sum
    def spanCount(name: String): Double = spans.count(layer(_) == name).toDouble
    /** A table's span runs from its first call into a layer (the source
      * read `CopyJob` starts with) to the last one returning. */
    private val perTable: Map[String, (Long, Long)] =
      spans.groupBy(table).map { case (t, ss) => t -> (ss.map(_.startNs).min, ss.map(_.endNs).max) }
    def queueWait: Double = perTable.values.map(v => (v._1 - startNs) / 1e9).sum
    def tableSpans: Double = perTable.values.map(v => (v._2 - v._1) / 1e9).sum
    def busyFrac(par: Int): Double = tableSpans / (wall * par)
    def selfTime: Double =
      tableSpans - spanSum("source.read") - spanSum("sink.writeBatch") -
        spanSum("state.get") - spanSum("state.put")
    private def results = report.map(_.succeeded).getOrElse(Map.empty)
    def copiedTables: Set[String] = results.filter(!_._2.skipped).keySet
    def rows: Double = results.values.map(_.rowsCopied).sum.toDouble
    def skipped: Double = results.values.count(_.skipped).toDouble
    /** Jobs spent on tables that were then skipped: wasted work. */
    def probeJobs: Double = {
      val skippedTables = results.filter(_._2.skipped).keySet
      counters.jobGroups.collect {
        case (g, n) if skippedTables.exists(t => g.endsWith(s"-$t")) => n
      }.sum.toDouble
    }
  }
}

object CopyPart {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "orders", "lineitem")
  val Watermarks: Map[String, (String, String)] = Map(
    "customer" -> ("c_custkey", "id"),
    "orders" -> ("o_orderdate", "timestamp"),
    "lineitem" -> ("l_orderkey", "id"))
  val Keys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))
}

object Files2 {
  def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)

  def count(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(_.getFileName.toString.endsWith(suffix)).toLong

  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
