package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.SparkEntry

/** `operator_suite` — the 16 headline operator queries through
  * `SparkEntry.queries`, on the fixed tables of [[SuiteData]]. The only
  * workload that runs the query layer and the fused expression kernels.
  * One untimed pass warms codegen and the JIT and renders every query's
  * row count and order-free checksum, which must equal the expected file
  * kept beside the benchmark; each timed pass runs every query once into
  * the no-op sink. The seed does not change the input.
  *
  * One unit of work is one pass over the 16 queries; a pass takes about
  * 8 s. A run makes at least three, so the median pass is neither the
  * first warm pass, which is still a few percent slower while the JIT
  * compiles, nor a single pass a neighbour's burst of load slowed.
  *
  * A pass costs about 6.4 s whatever the table size (planning, job
  * scheduling, per-query set-up on the driver) plus 0.26 s per size step of
  * [[SuiteData]] (measured on a 4-vCPU host; see perfbench/README.md). The
  * tables are as large as the run's time budget allows. */
object OperatorSuite {
  val NominalPassS = 8.0
  val SetupReps = 3
  val ExpectedFile = "expected/operator_suite.tsv"

  /** The layers whose per-layer metrics a traced run reports, by prefix. */
  val LayerPrefixes: Seq[String] = Seq("query.", "codegen.", "suite.", "stage.suite.")

  private final case class Run(query: String, wallS: Double, cpuS: Double)

  def run(ctx: Ctx, writeExpected: Boolean): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val ops = new Measure.Ops
    // timing runs skip the CDC queries' export of their inputs for the
    // external DuckDB comparison
    sys.props("graft.skipOracleExport") = "true"

    var dir = ""
    val genS = (0 until SetupReps).map { i =>
      Measure.seconds(tr.span("setup.tables") {
        dir = ctx.dir(s"tables-$i")
        SuiteData.write(spark, dir)
      })._2
    }
    (0 until SetupReps - 1).foreach(i => graft.util.Fs.rmTree(Paths.get(ctx.workDir, s"tables-$i")))
    val queries = SparkEntry.queries

    val checksums = scala.collection.mutable.Map[String, String]()
    // one timed query: the warm-up pass renders the result's checksum (the
    // correctness gate), a timed pass writes it to the no-op sink
    def pass(span: String, check: Boolean): Seq[Run] = Catalogue.HeadlineQueries.flatMap { q =>
      val cpu0 = Host.processCpuNs()
      val t0 = System.nanoTime()
      ops(q)(tr.span(s"$span.$q") {
        val df = queries(q)(spark, dir)
        if (check) checksums(q) = Checksum.of(df)
        else df.write.mode("overwrite").format("noop").save()
      }).map(_ => Run(q, (System.nanoTime() - t0) / 1e9, (Host.processCpuNs() - cpu0) / 1e9))
    }
    val compile0 = CodeGenerator.compileTime
    val classes = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
    val classes0 = classes.getCount
    val (cold, coldS) = Measure.seconds(pass("warmup", check = true))
    val n = ctx.units(NominalPassS, min = 3)
    val warm = ctx.window((0 until n).map(_ => pass("suite", check = false)))
    val compileMs = (CodeGenerator.compileTime - compile0) / 1e6
    val bytecodeKb = (classes.getCount - classes0) * classes.getSnapshot.getMean / 1024.0

    val expectedPath = Paths.get(ctx.benchDir, ExpectedFile)
    if (writeExpected) {
      Files.writeString(expectedPath, Catalogue.HeadlineQueries
        .map(q => s"$q\t${checksums.getOrElse(q, "missing")}").mkString("", "\n", "\n"))
    } else {
      val want = Files.readAllLines(expectedPath).asScala.filter(_.nonEmpty)
        .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
      checksums.foreach { case (q, c) =>
        ops.check(s"$q result", want.get(q).contains(c), s"checksum $c, expected ${want.get(q)}")
      }
    }

    val passS = warm.filter(_.size == Catalogue.HeadlineQueries.size).map(_.map(_.wallS).sum)
    val passCpu = warm.filter(_.size == Catalogue.HeadlineQueries.size).map(_.map(_.cpuS).sum)
    val base = Map("setup_s" -> (ctx.sessionStartS + Stats.median(genS) + coldS))
    if (passS.isEmpty) return Outcome(ops.attempted, ops.failures.toSeq, base)
    val walls = warm.flatten.map(_.wallS * 1e3)
    val e2e = base ++ Map(
      "throughput_per_s" -> Catalogue.HeadlineQueries.size / Stats.median(passS),
      "p50_ms" -> Stats.median(walls),
      "tail_ms" -> Stats.tail(walls)._1,
      "cpu_s" -> Stats.median(passCpu))
    val layer =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        val byQuery = warm.flatten.groupBy(_.query)
        val stages = ctx.tracer.stages.get
        // task-end events of the last queries may still be on the bus
        ListenerBridge.drain(spark.sparkContext)
        Catalogue.HeadlineQueries.flatMap { q =>
          val rs = byQuery.getOrElse(q, Nil)
          if (rs.isEmpty) Nil
          else Seq(
            s"query.${q}_s" -> Stats.median(rs.map(_.wallS)),
            s"query.${q}_cpu_s" -> Stats.median(rs.map(_.cpuS))) ++
            stages.summary(_ == s"suite.$q").get("shuffle_write_mb")
              .map(mb => s"query.${q}_shuffle_mb" -> mb / rs.size)
        }.toMap ++ Map(
          "codegen.compile_ms" -> compileMs,
          "codegen.bytecode_kb" -> bytecodeKb,
          "suite.cold_minus_warm_s" -> (cold.map(_.wallS).sum - Stats.median(passS)))
      }
    Outcome(ops.attempted, ops.failures.toSeq, e2e ++ layer,
      Map("passes" -> n.toString, "suite_s" -> f"${Stats.median(passS)}%.3f",
        "pass_s" -> passS.map(p => f"$p%.3f").mkString(" "),
        "cold_pass_s" -> f"${cold.map(_.wallS).sum}%.3f",
        "tail_pct" -> f"${Stats.tail(walls)._2}%.1f"))
  }
}
