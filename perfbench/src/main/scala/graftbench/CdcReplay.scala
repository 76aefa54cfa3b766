package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.cdc.{CdcStream, EventGen, LakeMerge}
import graft.lake.LakeTable
import graft.sql.GraftSql

/** `cdc_replay` — the product path, ingest and then serving.
  *
  * A seeded binlog (power-law skewed repos, 5% tombstones, a `lang` column
  * that appears halfway through the stream) is drained by the streaming
  * tail in L0 mode with the background compactor; compaction is drained,
  * the table fully compacted and its resolved state checked against the
  * binlog's LWW oracle. That is the timed ingest. The same table is then
  * served through the SQL catalog by a closed-loop client ([[ServeClient]]):
  * skewed point lookups, an IN-list lookup, a GROUP BY scan, a MERGE INTO
  * upsert and a compaction, each checked, and the final state checked
  * again. A compaction or layout change that speeds ingest but raises read
  * amplification moves `throughput_per_s` one way and the lookup latency
  * the other.
  *
  * Loads the cdc write path, lake commits, shuffle, the compactor, SQL
  * resolution, key blooms and bucket pruning; never touches the operator
  * kernels. One unit of work is one replay of a freshly generated binlog
  * into a fresh table, followed by one serving phase on it.
  *
  * Sizes (measured on a 4-vCPU host; see perfbench/README.md): an ingest
  * costs about 6 s whatever its size (stream start, per-epoch commits,
  * compactor drain, final compaction, state check) plus about 39 µs per
  * event, so at 160k events per-event work is half of it. Each epoch
  * takes one segment of 20k events, near the 31k of the engine's own
  * streaming bench (8M events in 256 segments). One unit takes about 26 s,
  * so the default 16 s buys one. */
object CdcReplay {
  val Events = 160000L
  val Segments = 8
  val Repos = 2000
  val PathsPerRepo = 50
  val Buckets = 16
  val FilesPerTrigger = 1
  val CompactAtDeltas = 4
  val NominalUnitS = 26.0
  /** The untimed warm-up unit replays and serves a smaller binlog, in as
    * many epochs as a timed unit, so per-epoch code is warm too. */
  val WarmEvents = 20000L
  val WarmSegments = Segments
  /** One serving phase, a read-mostly mix (an assumption: the repo records
    * no serving traffic): 40 point lookups, with one upsert, one scan, one
    * IN-list lookup and one compaction between blocks of ten. */
  val Requests: String = Seq("L" * 10, "U", "L" * 10, "S", "L" * 10, "I", "L" * 10, "C").mkString
  val WarmRequests = "LUSIC"

  /** The layers whose per-layer metrics a traced run reports, by prefix. */
  val LayerPrefixes: Seq[String] =
    Seq("stream.", "compactor.", "lake.", "keybloom.", "sql.", "maint.", "serve.") ++
      Seq("stream", "compactor", "compact", "read", "write").map(o => s"stage.$o.")

  private final case class Replay(wallS: Double, cpuS: Double,
      triggerMs: Seq[Double], addBatchMs: Seq[Double], passes: Long,
      drainS: Double, finalS: Double, atDrain: Measure.LakeFigures,
      atEnd: Measure.LakeFigures, binlogBytes: Double)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val ops = new Measure.Ops
    val warehouse = ctx.dir("warehouse")
    Files.createDirectories(Paths.get(warehouse, "ns"))
    val sql = GraftSql.attach(spark, root = Some(warehouse))
    val rng = new java.util.Random(ctx.seed)
    val samples = new Samples

    // Every unit drains its own binlog, generated just before it from the
    // run's seed and the unit's index, with the expected state derived by
    // the LWW oracle. `setup_s` counts the median of these generations.
    def generate(name: String, events: Long, segments: Int, seed: Long): (String, Expected) =
      tr.span("setup.binlog") {
        val dir = ctx.dir(name)
        EventGen.writeBinlog(spark, dir, events, segments, seed = seed,
          nRepos = Repos, pathsPerRepo = PathsPerRepo, skew = 2.0,
          langFromLsn = events / 2)
        val exp = new Expected
        Checksum.lwwOracle(spark.read.schema(CdcStream.binlogSchema).parquet(dir))
          .collect().foreach(r => exp.put(r.toSeq.map(v => if (v == null) null else v.toString)))
        (dir, exp)
      }

    def unit(tag: String, events: Long, segments: Int, seed: Long,
        requests: String): (Option[Replay], Double) = {
      val ((dir, exp), genS) = Measure.seconds(generate(s"binlog-$tag", events, segments, seed))
      val r = replay(ctx, dir, tag, warehouse, exp, events, ops)
      if (r.isDefined) {
        val client = new ServeClient(ctx, sql, s"r$tag", s"$warehouse/ns/r$tag", exp,
          Repos, rng, ops, samples, firstLsn = events)
        client.run(requests)
        client.verify(s"unit $tag state after serving")
      }
      graft.util.Fs.rmTree(Paths.get(dir))
      graft.util.Fs.rmTree(Paths.get(warehouse, "ns", s"r$tag"))
      (r, genS)
    }

    val (_, warmS) = Measure.seconds(
      unit("warm", WarmEvents, WarmSegments, ctx.seed * 31 - 1, WarmRequests))
    samples.clear()

    val n = ctx.units(NominalUnitS, min = 1)
    val units = ctx.window((0 until n).map(i =>
      unit(i.toString, Events, Segments, ctx.seed * 31 + i, Requests)))
    val rs = units.flatMap(_._1)
    val genS = units.map(_._2)

    val base = Map("setup_s" -> (ctx.sessionStartS + Stats.median(genS) + warmS))
    val lookups = samples.latency.getOrElse('L', mutable.ArrayBuffer[Double]()).toSeq
    if (rs.isEmpty || lookups.isEmpty) return Outcome(ops.attempted, ops.failures.toSeq, base)
    val trig = rs.flatMap(_.triggerMs)
    val add = rs.flatMap(_.addBatchMs)
    val e2e = base ++ Map(
      "throughput_per_s" -> Events / Stats.median(rs.map(_.wallS)),
      "p50_ms" -> Stats.median(lookups),
      "tail_ms" -> Stats.tail(lookups)._1,
      "cpu_s" -> Stats.median(rs.map(_.cpuS)))
    val layer =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val last = rs.last
        val mb = 1024.0 * 1024.0
        Map(
          "stream.epoch_p50_ms" -> Stats.median(trig),
          "stream.add_batch_ms_p50" -> Stats.median(add),
          "stream.overhead_ms_p50" -> Stats.median(trig.zip(add).map { case (t, a) => t - a }),
          "stream.epoch_tail_ms" -> Stats.tail(trig)._1,
          "stream.epochs" -> trig.size.toDouble,
          "compactor.passes" -> Stats.median(rs.map(_.passes.toDouble)),
          "compactor.drain_s" -> Stats.median(rs.map(_.drainS)),
          "lake.final_compact_s" -> Stats.median(rs.map(_.finalS)),
          "lake.bytes_rewritten_mb" -> Stats.median(rs.map(_.atEnd.rewrittenBytes / mb)),
          "lake.commits" -> last.atEnd.commits.toDouble,
          "lake.files_live" -> last.atDrain.filesLive.toDouble,
          "lake.l0_files_live" -> last.atDrain.l0Live.toDouble,
          "lake.write_amp" -> last.atEnd.writtenBytes / last.binlogBytes,
          "lake.space_amp" -> last.atEnd.liveBytes / last.binlogBytes) ++
        Seq(
          "serve.in_lookup_p50_ms" -> samples.p50('I'),
          "serve.scan_p50_ms" -> samples.p50('S'),
          "serve.upsert_p50_ms" -> samples.p50('U'),
          "maint.compact_ms" -> samples.p50('C'),
          "sql.lookup_plan_ms_p50" -> samples.p50("plan"),
          "sql.lookup_exec_ms_p50" -> samples.p50("exec"),
          "sql.merge_plan_ms_p50" -> samples.p50("merge_plan"),
          "lake.files_per_lookup_p50" -> samples.p50("key_files"),
          "keybloom.skip_frac" -> samples.mean("skip"),
          "lake.files_added_per_upsert" -> samples.p50("files_added"),
          "lake.snapshot_load_ms" -> samples.p50("snapshot_load"))
          .collect { case (k, Some(v)) => k -> v }
      }
    Outcome(ops.attempted, ops.failures.toSeq, e2e ++ layer,
      Map("units" -> rs.size.toString, "events_per_unit" -> Events.toString,
        "epochs" -> trig.size.toString, "epoch_p50_ms" -> f"${Stats.median(trig)}%.1f",
        "lookups" -> lookups.size.toString, "tail_pct" -> f"${Stats.tail(lookups)._2}%.1f",
        "in_lookup_p50_ms" -> ms(samples.p50('I')),
        "scan_p50_ms" -> ms(samples.p50('S')),
        "upsert_p50_ms" -> ms(samples.p50('U')),
        "compact_p50_ms" -> ms(samples.p50('C'))))
  }

  private def ms(v: Option[Double]): String = v.fold("none")(x => f"$x%.1f")

  /** The timed ingest: stream drain, compactor drain, full compaction and
    * the state check, into table `r<tag>` of the SQL catalog's warehouse. */
  private def replay(ctx: Ctx, binlog: String, tag: String, warehouse: String,
      exp: Expected, events: Long, ops: Measure.Ops): Option[Replay] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val qid = s"replay-$tag"
    val out = ops(s"replay $tag") {
      val root = ctx.dir(qid)
      val table = LakeTable.create(spark, s"$warehouse/ns/r$tag", CdcStream.binlogSchema, Buckets)
      val metrics = CdcStream.metricsTable(spark, s"$root/metrics")
      val cpu0 = Host.processCpuNs()
      val t0 = System.nanoTime()
      val q = tr.span("stream.drain") {
        val q = CdcStream.start(spark, table, metrics, binlog, s"$root/ckpt",
          queryId = qid, maxFilesPerTrigger = FilesPerTrigger,
          compactAtDeltas = CompactAtDeltas, l0Mode = true, asyncCompact = true)
        q.awaitTermination()
        q
      }
      val compactor = CdcStream.compactorOf(qid)
      val (_, drainS) = Measure.seconds(tr.span("compactor.drain")(CdcStream.drainCompaction(qid)))
      val atDrain = if (ctx.traced) Measure.lakeFigures(table) else null
      val (_, finalS) = Measure.seconds(tr.span("compact.final")(LakeMerge.compact(table)))
      val got = tr.span("read.verify")(Checksum.of(
        LakeMerge.readState(table).select(Checksum.StateCols.map(col): _*)))
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = (Host.processCpuNs() - cpu0) / 1e9

      val progress = q.recentProgress.filter(_.numInputRows > 0)
      def dur(k: String) = progress.toSeq.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
      val lineage = metrics.read().where(col("query_id") === qid)
        .select(col("epoch_id"), col("batch_rows")).collect()
      val epochIds = lineage.map(_.getLong(0)).sorted.toSeq
      val rows = lineage.map(_.getLong(1)).sum
      val atEnd = if (ctx.traced) Measure.lakeFigures(table) else null
      graft.util.Fs.rmTree(Paths.get(root))
      (got, rows, epochIds,
        Replay(wallS, cpuS, dur("triggerExecution"), dur("addBatch"),
          compactor.map(_.passes).getOrElse(0L), drainS, finalS, atDrain, atEnd,
          Measure.dirBytes(binlog).toDouble))
    }
    out.flatMap { case (got, rows, epochIds, r) =>
      val want = exp.checksum
      ops.check(s"replay $tag state", got == want, s"checksum $got, oracle $want")
      ops.check(s"replay $tag lineage rows", rows == events, s"batch_rows sum $rows != $events")
      ops.check(s"replay $tag lineage epochs",
        epochIds.nonEmpty && epochIds == epochIds.indices.map(_.toLong),
        s"epochs not contiguous from 0: ${epochIds.mkString(",")}")
      ops.check(s"replay $tag epochs seen", r.triggerMs.size == epochIds.size,
        s"${r.triggerMs.size} progress reports for ${epochIds.size} epochs")
      if (got == want) Some(r) else None
    }
  }
}
