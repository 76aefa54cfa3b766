package graftbench

import java.time.LocalDateTime

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.queries.Tables

/** The operator suite's input tables, generated on the driver from a fixed
  * seed: the star schema, `events`, `documents` and `embeddings` of the
  * engine's declared test-table schemas ([[Tables.schemas]], plus
  * `supplier`), at three times the row counts of the 0.01 scale factor
  * ([[Scale]] size steps of half of it each). The suite's expected results
  * are recorded against exactly these tables, so the seed never changes. */
object SuiteData {
  val Seed = 42L
  val Scale = 6
  val Customers = 750 * Scale
  val Suppliers = 100 * Scale
  val Parts = 1000 * Scale
  val Orders = 7500 * Scale
  val Events = 10000 * Scale
  val Users = 150 * Scale
  val Documents = 500 * Scale
  val Vectors = 500 * Scale
  val Dims = 64

  private val Words = Seq("a", "the", "row", "key", "value", "table", "part",
    "scan", "join", "agg", "sort", "hash", "merge", "batch", "stream", "window",
    "query", "filter", "group", "order", "line", "customer", "data", "column",
    "spark", "vector", "fast", "slow", "big", "small")

  /** `supplier` has no declared schema in the engine; the suite's tables
    * take the declared ones wherever they exist. */
  private val schemas: Map[String, StructType] = Tables.schemas + ("supplier" -> StructType(Seq(
    StructField("s_suppkey", LongType), StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))))

  /** Rows are drawn from the seeded generator in a fixed order, on the
    * calling thread; each table is then written by a job of its own, the
    * jobs running concurrently. */
  def write(spark: SparkSession, dir: String): Unit = {
    val r = new java.util.Random(Seed)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    def money(lo: Double, hi: Double): Double = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    val writes = mutable.ArrayBuffer[Future[Unit]]()
    def table(name: String, rows: Seq[Row]): Unit =
      writes += Future {
        spark.createDataFrame(rows.asJava, schemas(name)).coalesce(1)
          .write.parquet(s"$dir/$name.parquet")
      }(ExecutionContext.global)
    val day0 = LocalDateTime.of(1992, 1, 1, 0, 0)

    table("region", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) })
    table("nation", (0 until 25).map(i => Row(i, f"NATION_$i%02d", i % 5)))
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    table("customer", (1 to Customers).map(k =>
      Row(k.toLong, f"Customer#$k%09d", r.nextInt(25), money(-999.99, 9999.99), pick(segments))))
    table("supplier", (1 to Suppliers).map(k =>
      Row(k.toLong, f"Supplier#$k%09d", r.nextInt(25), money(-999.99, 9999.99))))
    val types = Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
    table("part", (1 to Parts).map(k =>
      Row(k.toLong, Seq.fill(3)(pick(Words)).mkString(" "),
        s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}", pick(types),
        1 + r.nextInt(50), money(900, 2000))))

    val orders = (1 to Orders).map { k =>
      Row(k.toLong, (1 + r.nextInt(Customers)).toLong, pick(Seq("F", "O", "P")),
        money(1000, 400000), day0.plusDays(r.nextInt(2400).toLong),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
    }
    table("orders", orders)
    table("lineitem", orders.flatMap { o =>
      val ok = o.getLong(0)
      val date = o.getAs[LocalDateTime](4)
      (1 to 1 + r.nextInt(7)).map { ln =>
        val qty = (1 + r.nextInt(50)).toDouble
        Row(ok, (1 + r.nextInt(Parts)).toLong, (1 + r.nextInt(Suppliers)).toLong, ln,
          qty, math.round(qty * money(900, 2000) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          pick(Seq("R", "A", "N")), pick(Seq("O", "F")),
          date.plusDays(1L + r.nextInt(120)))
      }
    })

    val evTypes = Seq("click", "view", "purchase", "signup", "error")
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    var ts = t0
    table("events", (0 until Events).map { i =>
      ts = ts.plusNanos((r.nextInt(520000) * 1000000L))
      Row(i.toLong, ts, r.nextInt(Users).toLong, pick(evTypes),
        money(0, 100), s"""{"k": ${r.nextInt(100)}}""")
    })

    // every 10th document repeats an earlier one verbatim and every 10th
    // (offset 5) with one word changed, so the dedup operators find work
    val texts = mutable.ArrayBuffer[String]()
    (0 until Documents).foreach { i =>
      val t =
        if (i >= 10 && i % 10 == 0) texts(r.nextInt(i))
        else if (i >= 10 && i % 10 == 5) {
          val ws = texts(r.nextInt(i)).split(" ")
          ws(r.nextInt(ws.length)) = pick(Words)
          ws.mkString(" ")
        } else Seq.fill(20 + r.nextInt(60))(pick(Words)).mkString(" ")
      texts += t
    }
    val langs = Seq("en", "en", "de", "fr", "es", "zh")
    table("documents", texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, pick(langs), s"src${r.nextInt(20)}", t.length.toLong)
    }.toSeq)
    table("embeddings", (0 until Vectors).map { i =>
      Row(i.toLong, Seq.fill(Dims)(r.nextGaussian().toFloat), r.nextInt(3))
    })
    writes.foreach(Await.result(_, Duration.Inf))
  }
}
