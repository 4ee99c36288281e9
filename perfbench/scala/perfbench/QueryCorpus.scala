package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A pinned subset of the declared query corpus over the sf0.01 fixture,
  * each query fully evaluated through a `noop` write. The seed permutes
  * the order; a first pass, which also fingerprints every result, warms
  * the session; then whole passes repeat until the window closes. */
final class QueryCorpus(o: Main.Opts, r: Result) extends Workload(o, r) {
  import QueryCorpus._

  val minOps = 4
  private val dir = o.base.resolve("corpus").toString
  private val all = graft.SparkEntry.queries

  def stage(): Unit = ()

  /** The subset in the seeded order. */
  private lazy val order: Seq[String] = {
    val perm = Pins.orderPerm(o.seeded.resolve("order.json"))
    val names = Subset.map(p => all.keys.find(_.startsWith(p + "_"))
      .getOrElse(throw new IllegalStateException(s"no declared query $p")))
    names.zipWithIndex.sortBy { case (_, i) => perm(i) }.map(_._1)
  }

  def measure(): Unit = {
    val pins = o.pins.map(Pins.read).getOrElse(Map.empty[String, String])
    val found = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val cold = order.map { q =>
      var fp = ""
      val dt = timed(s"cold:$q", traced = false) {
        attempt(s"$q (first pass)") { fp = fingerprint(all(q)(spark, dir)) }
      }
      if (fp.nonEmpty) {
        found(q) = fp
        check(s"$q: result fingerprint matches the pin", pins.get(q).contains(fp),
          s"got $fp, pinned ${pins.getOrElse(q, "nothing")}")
      }
      dt
    }
    Pins.write(o.writePins, found.toSeq)
    noteHeap()
    r.e2e("first_s") = (cold.sum, "s")
    r.notes("first_s") = "first pass: warms and fingerprints every query"

    phase("first")
    val gc0 = gcSeconds()
    val start = System.nanoTime()
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector())
    val passT, passU = Vector.newBuilder[Double]
    val famLayers = Vector.newBuilder[Map[String, Map[String, Double]]]
    var pass = 0
    while (more(pass, start, passT.result() ++ passU.result())) {
      val traced = tracedOp(pass)
      val perQuery = order.map { q =>
        var build = 0.0
        val op = s"p$pass:$q"
        val dt = timed(op, traced) {
          attempt(q) {
            val t0 = System.nanoTime()
            val df = all(q)(spark, dir)
            build = (System.nanoTime() - t0) / 1e9
            df.write.format("noop").mode("overwrite").save()
          }
        }
        times(q) :+= dt
        (q, op, build, dt)
      }
      (if (traced) passT else passU) += perQuery.map(_._4).sum
      if (traced) famLayers += layersOf(perQuery)
      noteHeap()
      pass += 1
    }
    val gc = gcSeconds() - gc0
    phase("window")
    val medians = order.map(q => q -> Stats.median(times(q).take(minOps))).toMap
    def famSum(f: String) = order.filter(q => family(q) == f).map(medians).sum
    r.samples("passes") = Seq(pass.toDouble)
    order.foreach(q => r.samples(s"query:$q") = times(q))
    r.e2e("op_p50_s") = (medians.values.sum, "s")
    r.notes("op_p50_s") = s"corpus pass: sum over the subset of each query's median time " +
      s"in the first $minOps passes ($pass ran)"
    r.e2e("op_cpu_s") =
      (order.map(q => Stats.median((0 until minOps).map(p => cpuOf(s"p$p:$q")))).sum, "s")
    r.notes("op_cpu_s") = "CPU seconds the process spent in a pass, per query medians summed"
    r.e2e("corpus_s") = (medians.values.sum, "s")
    for (f <- Families) r.e2e(s"${f}_s") = (famSum(f), "s")
    if (o.trace) {
      r.layer("jvm.gc_s") = (gc, "s")
      val passes = famLayers.result()
      for (f <- Families; k <- LayerKeys)
        r.layer(k.replace("F", f)) = (Stats.median(passes.map(_(f)(k))), Units(k))
      sparkLayer((0 until pass).filter(tracedOp).map(p => order.map(q => s"p$p:$q")))
      overhead(passT.result(), passU.result())
    }
  }

  /** Per-family sums of one traced pass's layer figures. */
  private def layersOf(pass: Seq[(String, String, Double, Double)]): Map[String, Map[String, Double]] =
    Families.map { f =>
      val qs = pass.filter(p => family(p._1) == f)
      val cs = qs.map(p => trace.countersOf(p._2))
      val ps = qs.map(p => trace.planStatsOf(p._2))
      f -> Map(
        "queries.F.build_s" -> qs.map(_._3).sum,
        "queries.F.exec_s" -> qs.map(p => p._4 - p._3).sum,
        "queries.F.jobs" -> cs.map(_.jobs).sum.toDouble,
        "queries.F.stages" -> cs.map(_.stages).sum.toDouble,
        "queries.F.tasks" -> cs.map(_.tasks).sum.toDouble,
        "queries.F.shuffle_bytes" -> cs.map(_.shuffleBytes).sum.toDouble,
        "queries.F.spill_bytes" -> cs.map(_.spillBytes).sum.toDouble,
        "queries.F.task_cpu_s" -> cs.map(_.taskCpuNs).sum / 1e9,
        "queries.F.gc_s" -> cs.map(_.gcMs).sum / 1e3,
        "plans.F.fallback_exprs" -> ps.map(_.fallbackExprs).sum.toDouble,
        "plans.F.wscg_subtrees" -> ps.map(_.wscgSubtrees).sum.toDouble)
    }.toMap
}

object QueryCorpus {
  /** One or two queries per module, chosen for the ROADMAP targets they
    * hold: q39 quantiles, q97 profile, q156 the PQ codegen path, q42 a
    * perf-weak carry. */
  val Subset: Seq[String] = Seq(
    "q01", "q39",
    "q42",
    "q156",
    "q97", "q133")

  val Families: Seq[String] = Seq("relational", "text", "vector", "ops")

  def family(q: String): String =
    if (graft.queries.RelationalQueries.queries.contains(q)) "relational"
    else if (graft.queries.TextQueries.queries.contains(q)) "text"
    else if (graft.queries.VectorQueries.queries.contains(q)) "vector"
    else "ops"

  val LayerKeys: Seq[String] = Seq("queries.F.build_s", "queries.F.exec_s", "queries.F.jobs",
    "queries.F.stages", "queries.F.tasks", "queries.F.shuffle_bytes", "queries.F.spill_bytes",
    "queries.F.task_cpu_s", "queries.F.gc_s", "plans.F.fallback_exprs", "plans.F.wscg_subtrees")

  val Units: Map[String, String] = LayerKeys.map { k =>
    k -> (if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "bytes" else "count")
  }.toMap

  /** Order-insensitive fingerprint of a result: row count plus two
    * order-free folds of a per-row hash. Floating values are compared at
    * ten (double) or seven (float) significant digits, so a change in
    * summation order does not read as a different answer. */
  def fingerprint(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map(f => canon(df.col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(2147483647L))), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    f"${row.getLong(0)}:${row.getLong(1)}%x:${row.getLong(2)}%x"
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType => format_string("%.9e", c)
    case FloatType => format_string("%.6e", c)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType =>
      struct(st.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: MapType => to_json(c)
    case _ => c
  }
}
