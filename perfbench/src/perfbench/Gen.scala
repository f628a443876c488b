package perfbench

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator: the TPC-H-ish star schema and the `events`
  * stream table, in the layout the graft
  * operators read (`<dir>/<table>.parquet`, one file per table, naive
  * microsecond timestamps). Value domains follow the repository's test
  * data (same categorical constants, ranges and near-duplicate shape),
  * so every operator's filters select rows. Row counts are those of
  * sf0.01. The same seed always yields the same rows.
  */
object Gen {
  val Vocab: Array[String] = ("join hash row batch scan column customer filter small slow " +
    "merge order vector line table data agg value key stream window a spark part group " +
    "big sort query fast the").split(" ")
  val Langs: Array[String] = Array("de", "en", "en", "es", "fr", "zh")

  private val epoch = LocalDateTime.of(1995, 1, 1, 0, 0)
  private def day(d: Int): LocalDateTime = epoch.plusDays(d.toLong)
  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def write(spark: SparkSession, dir: String, name: String,
                    schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  /** Random words from the shared vocabulary, space-joined. */
  def words(r: Random, n: Int): String =
    Iterator.fill(n)(Vocab(r.nextInt(Vocab.length))).mkString(" ")

  /** Document texts: 8-90 words each; every 25th document is a near
    * duplicate of an earlier one (leading words dropped, "dup"
    * appended), the shape the dedup operators look for. */
  def docTexts(r: Random, n: Int): IndexedSeq[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](n)
    (0 until n).foreach { i =>
      if (i > 10 && i % 25 == 7) {
        val src = out(r.nextInt(i)).split(" ")
        out += (src.drop(1 + r.nextInt(2)) :+ "dup").mkString(" ")
      } else out += words(r, 8 + r.nextInt(83))
    }
    out.toIndexedSeq
  }

  def tpch(spark: SparkSession, dir: String, seed: Long): Unit = {
    val nCust = 1500; val nSupp = 100; val nPart = 2000
    val nOrd = 15000; val nLine = 60000

    write(spark, dir, "region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (s, i) => Row(i, s) })
    write(spark, dir, "nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val rc = new Random(seed * 31 + 1)
    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write(spark, dir, "customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -999.99, 9999.99), segs(rc.nextInt(5)))))

    val rs = new Random(seed * 31 + 2)
    write(spark, dir, "supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -999.99, 9999.99))))

    val rp = new Random(seed * 31 + 3)
    val adj = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val noun = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    write(spark, dir, "part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, adj(rp.nextInt(8)) + " " + noun(rp.nextInt(8)),
        s"Brand#${1 + rp.nextInt(25)}", types(rp.nextInt(6)), 1 + rp.nextInt(50),
        900.0 + (i % 1000) / 10.0)))

    val ro = new Random(seed * 31 + 4)
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write(spark, dir, "orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType),
      f("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, ro.nextInt(nCust).toLong, "FOP".charAt(ro.nextInt(3)).toString,
        money(ro, 1000, 500000), day(ro.nextInt(2405)), prio(ro.nextInt(5)))))

    val rl = new Random(seed * 31 + 5)
    write(spark, dir, "lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
      (0 until nLine).map(_ => Row(rl.nextInt(nOrd).toLong, rl.nextInt(nPart).toLong,
        rl.nextInt(nSupp).toLong, 1 + rl.nextInt(7), (1 + rl.nextInt(50)).toDouble,
        money(rl, 900, 105000), rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
        "ANR".charAt(rl.nextInt(3)).toString, "FO".charAt(rl.nextInt(2)).toString,
        day(1 + rl.nextInt(2499)))))

    val re = new Random(seed * 31 + 6)
    val nEv = 10000
    val users = 150
    val evTypes = Array("click", "error", "purchase", "signup", "view")
    val meanGapUs = 30L * 86400L * 1000000L / nEv
    var tsUs = 0L
    val evStart = LocalDateTime.of(2024, 1, 1, 0, 0)
    write(spark, dir, "events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
      (0 until nEv).map { i =>
        tsUs += (-math.log(1.0 - re.nextDouble()) * meanGapUs).toLong
        Row(i.toLong, evStart.plusNanos(tsUs * 1000L), re.nextInt(users).toLong,
          evTypes(re.nextInt(5)), math.round(-math.log(1.0 - re.nextDouble()) * 5000) / 100.0,
          s"""{"k": ${re.nextInt(100)}}""")
      })
  }
}
