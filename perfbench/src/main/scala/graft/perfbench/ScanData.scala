package graft.perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact Q1 aggregates of one (returnflag, linestatus) group:
  * sum(qty), sum(price), sum(price·(100−disc)), sum(price·(100−disc)·(100+tax)), count. */
final case class Q1Row(qty: Long, price: Long, discPrice: Long, charge: Long, n: Long) {
  def +(o: Q1Row): Q1Row = Q1Row(qty + o.qty, price + o.price,
    discPrice + o.discPrice, charge + o.charge, n + o.n)
}

/** What a query over one partition version must return, fixed when the
  * version is generated: Q1 groups, the Q6 revenue of every variant, and
  * (count, sum(price)) of every lookup key. */
final case class Expected(q1: Map[(String, String), Q1Row], q6: IndexedSeq[Long],
    lookups: Map[Long, (Long, Long)])

/** Seeded lineitem-like partitions. All money is in integer cents and all
  * rates in integer percent, so every aggregate is exact and a result
  * either matches its expectation bit for bit or is wrong. Rows are a pure
  * function of (seed, version, partition, row). */
object ScanData {
  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", IntegerType), StructField("l_extendedprice", LongType),
    StructField("l_discount", IntegerType), StructField("l_tax", IntegerType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType)))

  /** Order keys of partition p live in [p·KeySpan, p·KeySpan + rows/4). */
  val KeySpan = 1000000000L
  val LookupKeysPerPart = 16

  /** Q6 variants: (ship year, discount low, discount high, quantity bound). */
  val Q6Variants: IndexedSeq[(Int, Int, Int, Int)] = IndexedSeq(
    (1994, 5, 7, 24), (1995, 2, 4, 25), (1996, 6, 8, 30), (1993, 0, 2, 20))

  def q6Cond(v: Int): Column = {
    val (y, lo, hi, q) = Q6Variants(v)
    col("l_shipdate") >= lit(java.sql.Date.valueOf(s"$y-01-01")) &&
    col("l_shipdate") < lit(java.sql.Date.valueOf(s"${y + 1}-01-01")) &&
    col("l_discount").between(lo, hi) && col("l_quantity") < q
  }

  /** Rows of `parts` partitions of `rows` rows each, version `version`. */
  def generate(spark: SparkSession, seed: Long, version: Int, parts: Int,
      rows: Int): DataFrame = {
    val salt = seed * 16 + version
    def h(k: Int): Column = xxhash64(col("id"), lit(salt), lit(k))
    spark.range(0L, parts.toLong * rows, 1L, parts)
      .select(
        expr(s"id div $rows").as("p"), pmod(col("id"), lit(rows.toLong)).as("r"),
        h(1).as("h1"), h(2).as("h2"), h(3).as("h3"), h(4).as("h4"))
      .select(
        (col("p") * KeySpan + expr("r div 4")).as("l_orderkey"),
        pmod(col("h1"), lit(200000L)).as("l_partkey"),
        pmod(shiftright(col("h1"), 24), lit(10000L)).as("l_suppkey"),
        (pmod(col("r"), lit(4L)) + 1).cast("int").as("l_linenumber"),
        (pmod(col("h2"), lit(50L)) + 1).cast("int").as("l_quantity"),
        ((pmod(col("h2"), lit(50L)) + 1) *
          (pmod(shiftright(col("h2"), 8), lit(100000L)) + 900)).as("l_extendedprice"),
        pmod(col("h3"), lit(11L)).cast("int").as("l_discount"),
        pmod(shiftright(col("h3"), 8), lit(9L)).cast("int").as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (pmod(shiftright(col("h3"), 16), lit(3L)) + 1).cast("int")).as("l_returnflag"),
        when(pmod(shiftright(col("h3"), 20), lit(2L)) === 0, "O").otherwise("F")
          .as("l_linestatus"),
        date_add(lit(java.sql.Date.valueOf("1992-01-01")),
          pmod(col("h4"), lit(2526L)).cast("int")).as("l_shipdate"))
  }

  /** Lookup keys of partition p (the same in every version): mostly
    * present, one in eight past the partition's last order (count 0). */
  def lookupKeys(seed: Long, p: Int, rows: Int): IndexedSeq[Long] = {
    val rnd = new java.util.Random(seed * 1000003L + p)
    (0 until LookupKeysPerPart).map { k =>
      val off = if (k % 8 == 7) rows / 4 + rnd.nextInt(1000) else rnd.nextInt(rows / 4)
      p * KeySpan + off
    }
  }

  /** Writes version `version` of `parts` partitions as one parquet file
    * each, `<dir>/part-<p>.parquet`, and returns every partition's
    * expectations. */
  def write(spark: SparkSession, seed: Long, version: Int, parts: Int, rows: Int,
      dir: File): IndexedSeq[Expected] = {
    val staging = new File(dir, "_staging")
    generate(spark, seed, version, parts, rows).write.parquet(staging.getPath)
    val files = staging.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).sortBy(_.getName)
    require(files.length == parts, s"expected $parts files, got ${files.length}")
    files.zipWithIndex.foreach { case (f, p) =>
      require(f.renameTo(new File(dir, fileName(p))), s"rename $f")
    }
    deleteRecursively(staging)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try (0 until parts).map(p => pool.submit(() => expected(seed, version, p, rows)))
      .map(_.get)
    finally pool.shutdown()
  }

  def fileName(p: Int): String = f"part-$p%03d.parquet"

  private val Day0 = java.time.LocalDate.of(1992, 1, 1).toEpochDay
  private def yearStart(y: Int): Long = java.time.LocalDate.of(y, 1, 1).toEpochDay - Day0

  /** Expectations of partition p, computed row by row in plain Scala from
    * the same hash recipe as [[generate]] (Spark's xxhash64 chains
    * XXH64 over its arguments from seed 42) — never by reading the files,
    * and not through Spark's execution engine. */
  def expected(seed: Long, version: Int, p: Int, rows: Int): Expected = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val salt = seed * 16 + version
    val flags = IndexedSeq("A", "N", "R")
    val q1 = Array.ofDim[Long](6, 5)
    val q6 = new Array[Long](Q6Variants.length)
    val q6Days = Q6Variants.map { case (y, _, _, _) => (yearStart(y), yearStart(y + 1)) }
    val keys = lookupKeys(seed, p, rows).distinct
    val keyIdx = keys.zipWithIndex.map { case (k, i) => (k - p * KeySpan) -> i }.toMap
    val lkCount = new Array[Long](keys.length)
    val lkSum = new Array[Long](keys.length)
    var r = 0
    while (r < rows) {
      val base = XXH64.hashLong(salt, XXH64.hashLong(p.toLong * rows + r, 42L))
      val h2 = XXH64.hashInt(2, base)
      val h3 = XXH64.hashInt(3, base)
      val h4 = XXH64.hashInt(4, base)
      val qty = java.lang.Math.floorMod(h2, 50L) + 1
      val price = qty * (java.lang.Math.floorMod(h2 >> 8, 100000L) + 900)
      val disc = java.lang.Math.floorMod(h3, 11L)
      val tax = java.lang.Math.floorMod(h3 >> 8, 9L)
      val g = java.lang.Math.floorMod(h3 >> 16, 3L).toInt * 2 +
        java.lang.Math.floorMod(h3 >> 20, 2L).toInt
      val ship = java.lang.Math.floorMod(h4, 2526L)
      val a = q1(g)
      a(0) += qty; a(1) += price; a(2) += price * (100 - disc)
      a(3) += price * (100 - disc) * (100 + tax); a(4) += 1
      var v = 0
      while (v < q6.length) {
        val (_, lo, hi, q) = Q6Variants(v)
        if (ship >= q6Days(v)._1 && ship < q6Days(v)._2 && disc >= lo && disc <= hi && qty < q)
          q6(v) += price * disc
        v += 1
      }
      keyIdx.get((r / 4).toLong).foreach { i => lkCount(i) += 1; lkSum(i) += price }
      r += 1
    }
    val groups = for {
      g <- 0 until 6 if q1(g)(4) > 0
    } yield (flags(g / 2), if (g % 2 == 0) "O" else "F") ->
      Q1Row(q1(g)(0), q1(g)(1), q1(g)(2), q1(g)(3), q1(g)(4))
    Expected(groups.toMap, q6.toIndexedSeq,
      keys.indices.map(i => keys(i) -> (lkCount(i), lkSum(i))).toMap)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}
