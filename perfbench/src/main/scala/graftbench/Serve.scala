package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.lake.LakeTable

/** The expected live state of a replayed table, kept on the driver: per
  * (repo, path) the winning row. It starts from the binlog's LWW oracle and
  * follows every upsert the client sends (an upsert's (commit, lsn) orders
  * after every binlog event, so it always wins). */
final class Expected {
  private val byKey = mutable.HashMap[(String, String), Seq[String]]()
  private val byRepo = mutable.HashMap[String, mutable.Set[String]]()
  val keys: mutable.ArrayBuffer[(String, String)] = mutable.ArrayBuffer()

  /** `row` is rendered as in [[Checksum.StateCols]] order. */
  def put(row: Seq[String]): Unit = {
    val k = (row(0), row(1))
    if (!byKey.contains(k)) {
      keys += k
      byRepo.getOrElseUpdate(k._1, mutable.Set[String]()) += k._2
    }
    byKey(k) = row
  }

  /** (live rows, sum of lsn) of one repo. */
  def ofRepo(repo: String): (Long, Long) = {
    val ps = byRepo.getOrElse(repo, mutable.Set.empty[String])
    (ps.size.toLong, ps.toSeq.map(p => byKey((repo, p))(3).toLong).sum)
  }

  def langCounts: Map[String, Long] =
    byKey.values.groupBy(r => Option(r(4)).getOrElse(Checksum.Null))
      .map { case (l, vs) => l -> vs.size.toLong }

  def checksum: String = Checksum.ofRows(byKey.values)
}

/** Latency samples by request kind and per-layer readings, pooled over
  * every serving phase of a run. */
final class Samples {
  val latency: mutable.Map[Char, mutable.ArrayBuffer[Double]] = mutable.Map()
  val layer: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map()
  def add(k: Char, v: Double): Unit = latency.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
  def record(k: String, v: Double): Unit = layer.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
  /** None when no sample of that kind was taken. */
  def p50(k: Char): Option[Double] = latency.get(k).filter(_.nonEmpty).map(x => Stats.median(x.toSeq))
  def p50(k: String): Option[Double] = layer.get(k).filter(_.nonEmpty).map(x => Stats.median(x.toSeq))
  def mean(k: String): Option[Double] = layer.get(k).filter(_.nonEmpty).map(x => x.sum / x.size)
  def clear(): Unit = { latency.clear(); layer.clear() }
}

/** A single closed-loop client on one table of the SQL catalog: the next
  * request is sent when the previous one returns. Request kinds:
  * L point lookup (`WHERE repo = …`), I IN-list lookup, S `GROUP BY lang`
  * scan of the resolved state, U `MERGE INTO` upsert of [[UpsertRows]]
  * rows, C `CALL graft.compact`. Each is timed from issue to result (for
  * MERGE INTO: to the committed snapshot) and checked against [[Expected]].
  *
  * Every lookup forces its plan before executing it, and every MERGE INTO
  * is analysed before it executes, traced or not, so both runs take one
  * call path. Traced, the client records those splits, reads the key's
  * bloom and bucket pruning from table metadata, and times a snapshot load
  * after each upsert. */
final class ServeClient(ctx: Ctx, sql: SparkSession, table: String, path: String,
    exp: Expected, repos: Int, rng: java.util.Random, ops: Measure.Ops,
    samples: Samples, firstLsn: Long) {
  import ServeClient._
  private val tr = ctx.tracer
  private var nextLsn = firstLsn
  private var upsertNo = 0

  /** Power-law repo choice, the binlog's own skew. */
  private def repo(): String = {
    val idx = math.min(repos - 1, math.floor(repos * math.pow(rng.nextDouble(), 2.0)).toInt)
    f"repo_$idx%05d"
  }

  def run(kinds: String): Unit = kinds.foreach { kind =>
    val t0 = System.nanoTime()
    val ok = kind match {
      case 'L' => lookup(Seq(repo()))
      case 'I' => lookup(Seq.fill(InListSize)(repo()).distinct)
      case 'S' => scan()
      case 'U' => upsert()
      case 'C' => ops("compact")(tr.span("compact.call")(
        sql.sql(s"CALL graft.compact('ns.$table')").collect())).isDefined
    }
    if (ok) samples.add(kind, (System.nanoTime() - t0) / 1e6)
  }

  /** The table's live state against the expected one. */
  def verify(what: String): Unit = {
    val got = ops(what)(tr.span("read.verify")(Checksum.of(sql.sql(
      s"SELECT ${Checksum.StateCols.map(c => s"`$c`").mkString(", ")} FROM graft.ns.$table"))))
    val want = exp.checksum
    got.foreach(g => ops.check(what, g == want, s"checksum $g, expected $want"))
  }

  private def lookup(rs: Seq[String]): Boolean = {
    val single = rs.size == 1
    val pred = if (single) s"repo = '${rs.head}'" else rs.map(r => s"'$r'").mkString("repo IN (", ", ", ")")
    val q = s"SELECT repo, path, `commit`, lsn, lang, content FROM graft.ns.$table WHERE $pred"
    val rows = ops(s"lookup $pred")(tr.span(if (single) "read.lookup" else "read.in") {
      // the plan is lazy and reused by collect, so forcing it first splits
      // planning from execution at no cost
      val (df, planS) = Measure.seconds {
        val df = sql.sql(q)
        df.queryExecution.executedPlan
        df
      }
      val (rows, execS) = Measure.seconds(df.collect())
      if (ctx.traced && single) {
        samples.record("plan", planS * 1e3)
        samples.record("exec", execS * 1e3)
      }
      rows
    })
    if (ctx.traced && single) probeKey(rs.head)
    rows.exists { got =>
      rs.forall { r =>
        val mine = got.filter(_.getString(0) == r)
        val (n, lsnSum) = exp.ofRepo(r)
        val ok = mine.length == n && mine.map(_.getLong(3)).sum == lsnSum
        ops.check(s"lookup $r", ok, s"${mine.length} rows, expected $n")
        ok
      }
    }
  }

  /** Files the key's bucket holds against the files its bloom admits. */
  private def probeKey(key: String): Unit = {
    val t = LakeTable.load(ctx.spark, path)
    val snap = t.snapshot
    val keyFiles = t.filesForKey(snap, key).size
    val bucketFiles = t.filesOf(snap,
      Set(LakeTable.bucketOf(key, snap.numBuckets), LakeTable.L0Bucket)).size
    samples.record("key_files", keyFiles.toDouble)
    if (bucketFiles > 0) samples.record("skip", 1.0 - keyFiles.toDouble / bucketFiles)
  }

  private def scan(): Boolean = {
    val q = s"SELECT lang, count(*) AS n FROM graft.ns.$table GROUP BY lang"
    ops("scan")(tr.span("read.scan")(sql.sql(q).collect())).exists { rs =>
      val got = rs.map(r => Option(r.getString(0)).getOrElse(Checksum.Null) -> r.getLong(1)).toMap
      val want = exp.langCounts
      ops.check("scan by lang", got == want, s"$got, expected $want")
      got == want
    }
  }

  private def upsert(): Boolean = {
    upsertNo += 1
    val commit = f"u$upsertNo%011d"
    val keys = mutable.LinkedHashSet[(String, String)]()
    while (keys.size < UpsertRows) {
      if (rng.nextDouble() < 0.8 && exp.keys.nonEmpty) keys += exp.keys(rng.nextInt(exp.keys.size))
      else keys += ((repo(), s"src/new/u${upsertNo}_${keys.size}.scala"))
    }
    val rows = keys.toSeq.map { case (r, p) =>
      nextLsn += 1
      (r, p, commit, nextLsn, Langs(rng.nextInt(Langs.size)), s"// upsert $nextLsn\n")
    }
    sql.createDataFrame(rows).toDF(Checksum.StateCols: _*).createOrReplaceTempView("upsert_src")
    val text =
      s"""MERGE INTO graft.ns.$table t USING upsert_src s
         |ON t.repo = s.repo AND t.path = s.path
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    val filesBefore = if (ctx.traced) LakeTable.load(ctx.spark, path).files.size else 0
    // what `spark.sql` does for a command, in two steps: analysis, then the
    // eager execution that commits the snapshot
    val done = ops(s"upsert $upsertNo")(tr.span("write.upsert") {
      val st = sql.sessionState
      val (qe, planS) = Measure.seconds {
        val qe = st.executePlan(st.sqlParser.parsePlan(text))
        qe.analyzed
        qe
      }
      qe.commandExecuted
      if (ctx.traced) samples.record("merge_plan", planS * 1e3)
    }).isDefined
    if (done) {
      rows.foreach { case (r, p, c, lsn, lang, content) =>
        exp.put(Seq(r, p, c, lsn.toString, lang, content))
      }
      if (ctx.traced) {
        val (t, loadS) = Measure.seconds {
          val t = LakeTable.load(ctx.spark, path)
          t.snapshot
          t
        }
        samples.record("snapshot_load", loadS * 1e3)
        samples.record("files_added", (t.files.size - filesBefore).toDouble)
      }
    }
    done
  }
}

object ServeClient {
  /** A MERGE INTO of 2,000 rows costs no more than one of 200: its time is
    * the statement's fixed cost. */
  val UpsertRows = 2000
  val InListSize = 5
  private val Langs = Seq("scala", "java", "py", "go", "rs")
}
