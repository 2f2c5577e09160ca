package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The expectations are computed in plain Scala from the generator's hash
  * recipe; this pins that they equal what Spark computes over the
  * generated rows themselves. */
class ScanDataSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("Scala expectations match Spark aggregates of the generated rows") {
    val (seed, version, parts, rows) = (5L, 1, 3, 4000)
    val g = ScanData.generate(spark, seed, version, parts, rows)
      .withColumn("p", expr(s"l_orderkey div ${ScanData.KeySpan}").cast("int"))
    val q1 = g.groupBy("p", "l_returnflag", "l_linestatus").agg(
      sum("l_quantity").cast("long"), sum("l_extendedprice"),
      sum(col("l_extendedprice") * (lit(100) - col("l_discount"))),
      sum(col("l_extendedprice") * (lit(100) - col("l_discount")) * (lit(100) + col("l_tax"))),
      count(lit(1))).collect()
    (0 until parts).foreach { p =>
      val e = ScanData.expected(seed, version, p, rows)
      val got = q1.filter(_.getInt(0) == p).map(r => (r.getString(1), r.getString(2)) ->
        Q1Row(r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
      assert(got == e.q1, s"Q1 of partition $p")
      ScanData.Q6Variants.indices.foreach { v =>
        val want = g.filter(col("p") === p && ScanData.q6Cond(v))
          .agg(coalesce(sum(col("l_extendedprice") * col("l_discount")), lit(0L)))
          .collect()(0).getLong(0)
        assert(e.q6(v) == want, s"Q6 variant $v of partition $p")
      }
      e.lookups.foreach { case (k, (n, s)) =>
        val r = g.filter(col("l_orderkey") === k)
          .agg(count(lit(1)), coalesce(sum("l_extendedprice"), lit(0L))).collect()(0)
        assert((r.getLong(0), r.getLong(1)) == (n, s), s"lookup $k")
      }
      assert(e.lookups.values.exists(_._1 == 0) && e.lookups.values.exists(_._1 > 0))
    }
  }
}
