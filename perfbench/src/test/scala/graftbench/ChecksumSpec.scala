package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{ChangeEvent, EventGen, MergeEngine}

class ChecksumSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def rendered(e: ChangeEvent): Seq[String] =
    Seq(e.repo, e.path, e.commit, e.lsn.toString, e.lang, e.content)

  test("the LWW oracle's checksum equals the engine's fold oracle on a tiny binlog") {
    import spark.implicits._
    // few keys, so most keys see several events, tombstones included, and
    // `lang` appears halfway through
    val events = EventGen.events(spark, 600L, seed = 7L, nRepos = 6,
      pathsPerRepo = 4, langFromLsn = 300L, deleteRatio = 0.2)
    val fold = MergeEngine.foldOracle(events.as[ChangeEvent].collect().toSeq)
    assert(fold.nonEmpty && fold.size < 24, "some keys must end deleted")
    val viaSpark = Checksum.of(Checksum.lwwOracle(events))
    assert(viaSpark == Checksum.ofRows(fold.values.map(rendered)))
    assert(viaSpark.startsWith(s"${fold.size}:"))
  }

  test("the checksum ignores row order and sees every changed value") {
    import spark.implicits._
    val rows = Seq(("a", 1L, 0.1 + 0.2), ("b", 2L, 1.0), ("c", 3L, -2.5))
    val df = rows.toDF("k", "n", "x")
    assert(Checksum.of(df) == Checksum.of(df.orderBy($"k".desc).repartition(3)))
    assert(Checksum.of(df) == Checksum.of(Seq(("a", 1L, 0.3), ("b", 2L, 1.0), ("c", 3L, -2.5))
      .toDF("k", "n", "x")), "doubles are compared rounded")
    assert(Checksum.of(df) != Checksum.of(rows.updated(1, ("b", 2L, 1.5)).toDF("k", "n", "x")))
  }
}
