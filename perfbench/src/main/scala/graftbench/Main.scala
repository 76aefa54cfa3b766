package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.graftbench.ListenerBridge
import org.apache.spark.sql.SparkSession

/** Benchmark entry point; `perfbench/run.py` builds the classpath and runs
  * it. One JVM, one `local[nproc]` session, one workload:
  *
  * {{{
  *   graftbench.Main --workload cdc_replay|operator_suite
  *     --seed N --seconds S --trace 0|1 --work-dir DIR --bench-dir DIR
  *     [--write-expected]
  * }}}
  *
  * Prints a detail line (`{"detail": …}`: window fingerprint, sample
  * counts, failures, span self times) and then, last, the result line of
  * [[Catalogue.resultJson]]. Exits 0 only when every operation succeeded
  * and every correctness gate held. */
object Main {
  val Workloads: Seq[String] = Seq("cdc_replay", "operator_suite")

  /** The per-layer metrics each workload measures. */
  val Owned: Map[String, Set[String]] = Map(
    "cdc_replay" -> Catalogue.owned(CdcReplay.LayerPrefixes),
    "operator_suite" -> Catalogue.owned(OperatorSuite.LayerPrefixes))

  private def session(workDir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = opt("workload")
    if (!Workloads.contains(workload)) {
      System.err.println(s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
      sys.exit(2)
    }
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val workDir = Paths.get(opt("work-dir")).toAbsolutePath.toString
    val benchDir = opt("bench-dir")
    Files.createDirectories(Paths.get(workDir))

    val (spark, sessionS) = Measure.seconds(session(workDir))
    val tracer = new Tracer(traced, spark)
    val ctx = Ctx(spark, seed, seconds, tracer, workDir, benchDir, sessionS)
    val outcome =
      try workload match {
        case "cdc_replay" => CdcReplay.run(ctx)
        case "operator_suite" => OperatorSuite.run(ctx, args.contains("--write-expected"))
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $workload aborted: $e")
          e.printStackTrace()
          spark.stop()
          sys.exit(3)
      }

    val stageValues = tracer.stages.map { st =>
      ListenerBridge.drain(spark.sparkContext)
      Catalogue.StageOwners.flatMap { o =>
        st.summary(k => k == o || k.startsWith(o + ".")).map { case (f, v) => s"stage.$o.$f" -> v }
      }.toMap
    }.getOrElse(Map.empty)
    val e2e = Catalogue.endToEnd.map(_.name).flatMap(n => outcome.values.get(n).map(n -> _)).toMap
    val values = outcome.values ++ ctx.fingerprint ++ stageValues ++
      (if (traced) e2e.map { case (k, v) => s"traced.$k" -> v } else Map.empty)
    spark.stop()

    val outDir = Paths.get(".perfbench-out")
    if (traced) tracer.write(outDir.resolve(s"trace-$workload-$seed.jsonl").toString)
    val failed = outcome.failures.size.toLong
    val lost = Catalogue.missing(values, traced, Owned(workload))
    val complete = lost.isEmpty
    val correct = failed == 0 && complete
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
    val detail = Seq(
      "workload" -> q(workload), "seed" -> seed.toString, "traced" -> traced.toString,
      "notes" -> outcome.notes.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}"),
      "fingerprint" -> ctx.fingerprint.toSeq.sorted
        .map { case (k, v) => s"${q(k)}:${Catalogue.num(v)}" }.mkString("{", ",", "}"),
      "failures" -> outcome.failures.take(20).map(q).mkString("[", ",", "]"),
      "self_ms" -> tracer.selfMs.toSeq.sorted
        .map { case (k, v) => s"${q(k)}:${Catalogue.num(v)}" }.mkString("{", ",", "}"))
      .map { case (k, v) => s"${q(k)}:$v" }.mkString("{\"detail\":{", ",", "}}")
    println(detail)
    if (complete)
      println(Catalogue.resultJson(correct, math.max(1L, outcome.attempted), failed, values,
        traced, Owned(workload)))
    else System.err.println(s"[perfbench] not measured: ${lost.mkString(", ")}; no result")
    outcome.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    sys.exit(if (correct) 0 else 1)
  }
}
