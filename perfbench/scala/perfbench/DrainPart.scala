package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.pipeline.GraftApp

/** The incremental ledger path: a tick lands one shard of `documents` and
  * one of `embeddings`, then drains each through `GraftApp --stream`
  * (MinHash band ledger for text, SRP band ledger for vectors) into the
  * idempotent parquet sink with an AvailableNow trigger. */
final class DrainPart(w: Workload) {
  import DrainPart._
  import w.{o, r, trace}

  private val root = o.work.resolve("stream")

  def stage(): Unit = {
    Files2.delete(root)
    Spaces.foreach(s => Files.createDirectories(root.resolve(s"source/${s.table}")))
  }

  /** Lands shard `tick` (0 is the pinned one); false when there is none. */
  def land(tick: Int): Boolean = {
    val from = if (tick == 0) o.base.resolve("stream") else o.base.resolve(f"stream/shards/$tick%04d")
    Files.isDirectory(from) && {
      Spaces.foreach(s => Files.copy(from.resolve(s"${s.table}.parquet"),
        root.resolve(f"source/${s.table}/shard-$tick%04d.parquet")))
      true
    }
  }

  /** Drains one table through `GraftApp --stream`; returns the epochs it
    * reported ("" when it found nothing new) and its wall seconds. */
  def drain(s: Space, op: String): (String, Double) = {
    val out = mutable.Buffer.empty[String]
    val t0 = System.nanoTime()
    val code = w.attempt(s"$op:${s.table} drain") {
      w.within(op)(GraftApp.run(GraftApp.parseArgs(s.args(root)), w.spark,
        out = l => out.synchronized(out += l), log = _ => ()))._1
    }
    val t1 = System.nanoTime()
    trace.record("graftapp.run", op, t0, t1)
    if (code.exists(_ != 0)) w.check(s"$op:${s.table} drain exits 0", ok = false, s"exit $code")
    val prefix = s"STREAM_EPOCHS_${s.table.toUpperCase}="
    (out.collectFirst { case l if l.startsWith(prefix) => l.drop(prefix.length) }.getOrElse("?"),
      (t1 - t0) / 1e9)
  }

  private def survivors(s: Space) = w.spark.read.parquet(root.resolve(s"sink/${s.table}").toString)
  private def inputs(s: Space) = w.spark.read.parquet(root.resolve(s"source/${s.table}").toString)

  /** After the pinned first tick: its survivor sets against the pins. */
  def checkFirst(): Unit = {
    val found = Spaces.map(s => s"ledger.${s.table}.tick1" -> idsDigest(s))
    val pins = o.pins.map(Pins.read).getOrElse(Map.empty[String, String])
    for ((k, v) <- found)
      w.check(s"$k: survivor set matches the pin", pins.get(k).contains(v),
        s"got $v, pinned ${pins.getOrElse(k, "nothing")}")
    Pins.write(o.writePins, found)
  }

  /** Per-layer figures over the traced cycles, given as (cycle operation,
    * drain part) pairs: streaming progress arrives on the cycle, spans and
    * Spark jobs on the drain part. */
  def summarise(traced: Seq[(String, String)]): Unit = {
    val prog = mutable.Buffer.empty[(String, Map[String, Long])]
    trace.progress.forEach(prog += _)
    def dur(cycle: String, key: String) =
      prog.filter(_._1 == cycle).map(_._2.getOrElse(key, 0L)).sum / 1e3
    def med(f: ((String, String)) => Double) = Stats.median(traced.map(f))
    r.layer("graftapp.self_s") = (med { case (c, d) =>
      trace.total(d, "graftapp.run") - dur(c, "triggerExecution") }, "s")
    r.layer("streaming.trigger_s") = (med(p => dur(p._1, "triggerExecution")), "s")
    r.layer("streaming.add_batch_s") = (med(p => dur(p._1, "addBatch")), "s")
    r.layer("streaming.planning_s") = (med(p => dur(p._1, "queryPlanning")), "s")
    r.layer("streaming.wal_commit_s") = (med(p => dur(p._1, "walCommit")), "s")
    r.layer("stream.jobs") = (med(p => trace.countersOf(p._2).jobs.toDouble), "count")
    r.layer("stream.stages") = (med(p => trace.countersOf(p._2).stages.toDouble), "count")
    r.layer("stream.shuffle_bytes") =
      (med(p => trace.countersOf(p._2).shuffleBytes.toDouble), "bytes")
    for (s <- Spaces) {
      val ledger = root.resolve(s"ledger/${s.table}")
      r.layer(s"ledger.${s.space}.files") = (Files2.count(ledger, ".parquet").toDouble, "count")
      r.layer(s"ledger.${s.space}.bytes") = (Files2.bytes(ledger).toDouble, "bytes")
      r.layer(s"ledger.${s.space}.drop_frac") =
        (1.0 - survivors(s).count().toDouble / inputs(s).count(), "ratio")
    }
  }

  /** Exactly-once and dedup invariants over everything drained so far.
    * `redrain` holds the epochs of a tick run with no shard landed. */
  def verify(redrain: Map[String, String], rowsBefore: Map[String, Long]): Unit =
    for (s <- Spaces) {
      val sv = survivors(s)
      val n = sv.count()
      w.check(s"${s.table}: re-draining a drained tick emits nothing",
        redrain.get(s.table).contains("") && n == rowsBefore(s.table),
        s"epochs=${redrain.get(s.table)} rows $n after, ${rowsBefore(s.table)} before")
      val ids = sv.select(s.id).distinct().count()
      val foreign = sv.select(s.id).except(inputs(s).select(s.id)).count()
      w.check(s"${s.table}: survivors are input rows, each emitted once",
        ids == n && foreign == 0, s"rows=$n distinct ids=$ids not in input=$foreign")
      val distinctContent = sv.select(s.content).distinct().count()
      w.check(s"${s.table}: no two survivors carry identical content",
        distinctContent == n, s"rows=$n distinct contents=$distinctContent")
      val dropped = inputs(s).count() - n
      w.check(s"${s.table}: the ledger drops the copies later shards carry", dropped > 0,
        s"dropped=$dropped")
    }

  def rows(): Map[String, Long] = Spaces.map(s => s.table -> survivors(s).count()).toMap

  /** Row count plus a digest of the sorted survivor ids. */
  private def idsDigest(s: Space): String = {
    val ids = survivors(s).select(col(s.id)).collect().map(_.getLong(0)).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ids.foreach(i => md.update(java.nio.ByteBuffer.allocate(8).putLong(i).array()))
    s"${ids.length}:" + md.digest().take(8).map(b => f"$b%02x").mkString
  }
}

object DrainPart {
  final case class Space(table: String, space: String, id: String, content: String, dedup: String) {
    def args(root: Path): Seq[String] = Seq(
      "bench", table, "--stream",
      "--source", s"parquet:${root.resolve(s"source/$table")}",
      "--sink", s"parquet-idempotent:${root.resolve("sink")}",
      "--ledger", root.resolve(s"ledger/$table").toString,
      "--checkpoint", root.resolve(s"checkpoint/$table").toString,
      "--dedup", dedup, "--id-col", id) ++
      (if (dedup == "embed") Seq("--vec-col", content) else Seq("--text-col", content))
  }

  val Spaces: Seq[Space] = Seq(
    Space("documents", "text", "doc_id", "text", "neardup"),
    Space("embeddings", "vec", "vec_id", "embedding", "embed"))
}
