package perfbench

import DrainPart.Spaces

/** The pipeline's scheduled incremental runs, end to end. Each cycle a
  * seeded catalog delta and a ledger shard land, then the catalog copy
  * (`Orchestrator.runAll`) and the two ledger drains (`GraftApp --stream`)
  * run side by side, as a scheduler runs independent tasks; the slowest
  * sets the cycle. The first operation is the cold start: the full load
  * beside the pinned first tick. After the window one empty cycle checks
  * that nothing moves. */
final class Ingest(o: Main.Opts, r: Result) extends Workload(o, r) {
  val minOps = 3
  private val copy = new CopyPart(this)
  private val drain = new DrainPart(this)

  def stage(): Unit = {
    copy.stage()
    drain.stage()
  }

  /** One cycle: `copyPart` beside both drains under `tickOp`; returns the
    * cycle's wall time, the copy's, the slower drain's and the epochs the
    * drains reported. */
  private def cycle(op: String, traced: Boolean, tickOp: String)(copyPart: => Double)
      : (Double, Double, Double, Map[String, String]) = {
    var c = 0.0
    val drains = new java.util.concurrent.ConcurrentHashMap[String, (String, Double)]()
    val dt = timed(op, traced) {
      concurrently(
        (() => c = copyPart) +: Spaces.map(s => () => { drains.put(s.table, drain.drain(s, tickOp)); () }): _*)
    }
    val ds = Spaces.map(s => Option(drains.get(s.table)).getOrElse(("?", 0.0)))
    (dt, c, ds.map(_._2).max, Spaces.map(_.table).zip(ds.map(_._1)).toMap)
  }

  def measure(): Unit = {
    drain.land(0)
    val (first, full, tick0, _) = cycle("first", traced = false, "tick-0")(copy.full(traced = false))
    drain.checkFirst()
    noteHeap()
    r.e2e("first_s") = (first, "s")
    r.notes("first_s") = "cold start: full load of the catalog (765 k rows) beside the first tick"
    phase("first")

    // One more cycle before the window: the first delta cycle still pays
    // for code paths the full load never ran.
    if (copy.land(0) && drain.land(1)) cycle("warm", traced = false, "tick-1")(copy.delta(0, traced = false))
    noteHeap()

    val gc0 = gcSeconds()
    val cycles, copies, ticks, cyclesT, cyclesU = Vector.newBuilder[Double]
    val tracedOps = Vector.newBuilder[(String, String, String)]
    val start = System.nanoTime()
    var i = 0
    // Measured cycle i copies delta i + 1 and drains shard i + 2.
    while (more(i, start, cycles.result()) && copy.land(i + 1) && drain.land(i + 2)) {
      val traced = tracedOp(i)
      val (dt, c, t, _) = cycle(s"cycle-$i", traced, s"tick-${i + 2}")(copy.delta(i + 1, traced))
      if (traced) tracedOps += ((s"cycle-$i", s"tick-${i + 2}", s"delta-${i + 1}"))
      cycles += dt
      copies += c
      ticks += t
      (if (traced) cyclesT else cyclesU) += dt
      noteHeap()
      i += 1
    }
    val gc = gcSeconds() - gc0
    phase("window")

    val rowsBefore = drain.rows()
    val (noop, noopCopy, noopTick, redrain) =
      cycle("noop-cycle", o.trace, "redrain")(copy.empty(traced = o.trace))
    noteHeap()

    val cs = cycles.result()
    val is = copies.result()
    val ts = ticks.result()
    r.samples("cycle_s") = cs
    r.samples("incr_cycle_s") = is
    r.samples("tick_s") = ts
    r.e2e("op_p50_s") = (Stats.median(cs.take(minOps)), "s")
    r.notes("op_p50_s") = s"median of the first $minOps cycles (${cs.size} ran): " +
      "delta and shard landed, copy beside both drains"
    r.e2e("op_cpu_s") = (Stats.median((0 until minOps).map(k => cpuOf(s"cycle-$k"))), "s")
    r.notes("op_cpu_s") = "CPU seconds the process spent in a cycle, median of the same cycles"
    r.e2e("full_load_s") = (full, "s")
    r.notes("full_load_s") = "the full load, run beside the first tick"
    r.e2e("incr_cycle_p50_s") = (Stats.median(is), "s")
    r.notes("incr_cycle_p50_s") = "the copy part of a cycle, run beside the drains"
    tail("incr_cycle_tail_s", is)
    r.e2e("noop_cycle_p50_s") = (noopCopy, "s")
    r.notes("noop_cycle_p50_s") = "the copy part of the one empty cycle after the window"
    r.e2e("tick_first_s") = (tick0, "s")
    r.e2e("tick_p50_s") = (Stats.median(ts), "s")
    r.notes("tick_p50_s") = "shards landed until both drains return"
    tail("tick_tail_s", ts)
    r.e2e("tick_empty_s") = (noopTick, "s")
    r.e2e("empty_cycle_s") = (noop, "s")
    if (o.trace) {
      r.layer("jvm.gc_s") = (gc, "s")
      copy.summarise()
      drain.summarise(tracedOps.result().map(p => (p._1, p._2)))
      sparkLayer(tracedOps.result().map(p => Seq(p._1, p._2, p._3)))
      overhead(cyclesT.result(), cyclesU.result())
    }
    copy.verify()
    drain.verify(redrain, rowsBefore)
  }

  private def tail(name: String, xs: Seq[Double]): Unit = Stats.tail(xs) match {
    case Some((p, v)) =>
      r.e2e(name) = (v, "s")
      r.notes(name) = s"p$p"
    case None =>
      r.e2e(name) = (Double.NaN, "s")
      r.notes(name) = s"${xs.size} samples: too few for a percentile with 10 beyond it"
  }
}
