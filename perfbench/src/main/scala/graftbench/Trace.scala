package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One recorded call: `name` is `<layer>.<detail>`; `parent` is the id of
  * the enclosing span (0 at the top). */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans around the benchmark's calls into the engine, kept in memory and
  * written out at exit. Disabled, `span` only runs its body: the untraced
  * run measures the end-to-end metrics without any of this bookkeeping.
  *
  * Enabled, each span also sets the Spark local property [[Trace.SpanProp]]
  * on the calling thread, so [[StageStats]] can attribute every job the call
  * starts to it. */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var current = 0
  private var nextId = 1

  val stages: Option[StageStats] =
    if (enabled) {
      val s = new StageStats
      spark.sparkContext.addSparkListener(s)
      Some(s)
    } else None

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = nextId
      nextId += 1
      val parent = current
      val prevProp = sc.getLocalProperty(Trace.SpanProp)
      sc.setLocalProperty(Trace.SpanProp, name)
      current = id
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, t0, System.nanoTime())
        current = parent
        sc.setLocalProperty(Trace.SpanProp, prevProp)
      }
    }

  /** Self time per span name, ms: each span's duration minus the part of
    * its interval its children cover, summed over spans of that name. */
  def selfMs: Map[String, Double] = Trace.selfMs(spans.toSeq)

  /** Write the spans as JSON lines. */
  def write(path: String): Unit = if (enabled) {
    Files.createDirectories(Paths.get(path).getParent)
    val self = Trace.selfNs(spans.toSeq)
    val lines = spans.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}"""
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
    ()
  }
}

object Trace {
  val SpanProp = "graftbench.span"

  /** Self time of each span id: duration minus the union of its direct
    * children's intervals (children may overlap when work runs async). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e6 }
  }
}

/** Per-task metrics summed by the owner of the job that ran them. Jobs the
  * engine starts on its own threads are recognised by their properties:
  * the background compactor's job group, or the streaming query id that
  * every micro-batch job carries. Everything else belongs to the span
  * active on the benchmark thread that started the job. */
final class StageStats extends SparkListener {
  final class Acc {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val accs = mutable.Map[String, Acc]()
  private val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String): String = if (p == null) null else p.getProperty(k)
    val owner =
      if (prop("spark.jobGroup.id") == "graft-compactor") "compactor"
      else if (prop("sql.streaming.queryId") != null) "stream"
      else Option(prop(Trace.SpanProp)).getOrElse("untraced")
    e.stageIds.foreach(id => stageOwner.put(id, owner))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val owner = Option(stageOwner.get(e.stageId)).getOrElse("untraced")
      val a = accs.getOrElseUpdate(owner, new Acc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }

  /** Forget the tasks seen so far: the figures then cover only the
    * measurement window. */
  def reset(): Unit = synchronized {
    accs.clear()
    taskMs.clear()
  }

  /** Stage-level figures of every owner whose name satisfies `sel`:
    * shuffle/spill MiB, task count, executor run and CPU seconds, and the
    * worst max/median task-time ratio over its stages of ≥4 tasks (1 when
    * none has that many). Empty when no such owner ran a task, so a broken
    * attribution reads as missing rather than as zero. */
  def summary(sel: String => Boolean): Map[String, Double] = synchronized {
    val mb = 1024.0 * 1024.0
    val as = accs.filter { case (k, _) => sel(k) }.values
    if (as.isEmpty) return Map.empty
    val stages = taskMs.filter { case (id, ts) =>
      ts.size >= 4 && Option(stageOwner.get(id)).exists(sel)
    }.values
    val skew = stages.map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med > 0) ts.max / med else 1.0
    }
    Map(
      "shuffle_write_mb" -> as.map(_.shuffleWrite).sum / mb,
      "shuffle_read_mb" -> as.map(_.shuffleRead).sum / mb,
      "spill_mb" -> as.map(_.spill).sum / mb,
      "tasks" -> as.map(_.tasks).sum.toDouble,
      "run_s" -> as.map(_.runMs).sum / 1e3,
      "cpu_s" -> as.map(_.cpuNs).sum / 1e9,
      "task_skew" -> (1.0 +: skew.toSeq).max)
  }
}
