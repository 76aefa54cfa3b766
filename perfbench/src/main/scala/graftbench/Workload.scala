package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.lake.LakeTable

/** What a workload is given. [[units]] is the fixed amount of timed work
  * (replay-and-serve units, suite passes) the run's `--seconds` buys at the
  * workload's nominal unit length, rounded — fixed work, not a stopwatch, so the
  * sample counts behind every percentile are the same on every run and on
  * both sides of an A/B. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Int,
    tracer: Tracer,
    workDir: String,
    benchDir: String,
    sessionStartS: Double) {

  def traced: Boolean = tracer.enabled

  /** `--seconds` over the unit's nominal length, and at least `min`. */
  def units(nominalUnitS: Double, min: Int): Int =
    math.max(min, math.round(seconds / nominalUnitS).toInt)

  /** Readings of the measurement window, filled by [[window]]. */
  val fingerprint: mutable.Map[String, Double] = mutable.Map()

  /** Run the timed part of a workload, fingerprinting its window: GC time,
    * peak heap, the host's steal share and load, and the CPU canary timed
    * just before and just after. */
  def window[T](body: => T): T = {
    val canary0 = Host.canaryMs()
    val load0 = Host.loadavg()
    val cpu0 = Host.cpuTimes()
    val gc0 = Host.gcMs()
    Host.resetHeapPeak()
    tracer.stages.foreach { st =>
      org.apache.spark.graftbench.ListenerBridge.drain(spark.sparkContext)
      st.reset()
    }
    val r = body
    val cpu1 = Host.cpuTimes()
    fingerprint ++= Map(
      "jvm.gc_s" -> (Host.gcMs() - gc0) / 1e3,
      "jvm.heap_peak_mb" -> Host.heapPeakMb(),
      "host.steal_frac" -> Host.stealFrac(cpu0, cpu1),
      "host.loadavg_before" -> load0,
      "host.loadavg_after" -> Host.loadavg())
    val canary1 = Host.canaryMs()
    fingerprint ++= Map(
      "host.canary_before_ms" -> canary0,
      "host.canary_after_ms" -> canary1,
      "host.canary_ms" -> (canary0 + canary1) / 2)
    r
  }

  def dir(name: String): String = {
    val p = Paths.get(workDir, name)
    graft.util.Fs.rmTree(p)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

/** A workload's verdict and figures. `failures` names every failed
  * operation or mismatched gate. */
final case class Outcome(
    attempted: Long,
    failures: Seq[String],
    values: Map[String, Double],
    notes: Map[String, String] = Map.empty)

/** Timing and counting helpers shared by the workloads. */
object Measure {
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `body`, counting it as one attempted operation; an exception is a
    * failure recorded under `what`. */
  final class Ops {
    var attempted = 0L
    val failures = mutable.ArrayBuffer[String]()
    def apply[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Throwable =>
          failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }
    def check(what: String, ok: Boolean, detail: => String): Unit = {
      attempted += 1
      if (!ok) failures += s"$what: $detail"
    }
  }

  /** Storage figures of a lake table, from its snapshot history: commits,
    * live files, bytes written by every commit and by rewrite commits
    * (compactions, L0 flushes). */
  final case class LakeFigures(commits: Int, filesLive: Int, l0Live: Int,
      liveBytes: Long, writtenBytes: Long, rewrittenBytes: Long)

  def lakeFigures(t: LakeTable): LakeFigures = {
    val cur = t.currentVersion
    var prev = Set.empty[String]
    var written = 0L
    var rewritten = 0L
    (1 to cur).foreach { v =>
      val snap = t.snapshotAt(v)
      val fs = t.filesOf(snap)
      val added = fs.filterNot(f => prev.contains(f.path)).map(_.bytes).sum
      written += added
      if (snap.opKind == "rewrite") rewritten += added
      prev = fs.map(_.path).toSet
    }
    val live = t.files
    LakeFigures(cur - 1, live.size, live.count(_.kind == "l0"),
      live.map(_.bytes).sum, written, rewritten)
  }

  def dirBytes(dir: String): Long =
    graft.util.Fs.walk(Paths.get(dir)).filter(Files.isRegularFile(_)).map(Files.size).sum
}
