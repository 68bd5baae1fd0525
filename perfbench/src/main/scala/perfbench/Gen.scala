package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Seeded orders-shaped inputs and the diffs they must produce, built with
  * plain Spark only: no graft code computes an expectation.
  *
  * Every value is a pure function of (seed, key), so one seed gives the
  * same tables and the same mutations on every run and every machine. */
object Gen {
  val Key = "o_orderkey"
  val Cols: Seq[String] = Seq(Key, "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  val Compare: Seq[String] = Cols.tail

  /** Mutation kinds of a key between side a and side b. */
  val Same = 0
  val Update = 1
  val Delete = 2 // in a only
  val Insert = 3 // in b only

  private def h(seed: Long, salt: Int, c: Column): Column =
    xxhash64(c, lit(seed), lit(salt))

  /** Uniform draw in [0, 1) per key. */
  def unit(seed: Long, salt: Int, k: Column = col(Key)): Column =
    pmod(h(seed, salt, k), lit(1L << 30)).cast("double") / (1L << 30).toDouble

  /** The row image of every key in `keys` (one long column named [[Key]]). */
  def rows(seed: Long, keys: DataFrame): DataFrame = {
    val k = col(Key)
    keys.select(
      k,
      (pmod(h(seed, 1, k), lit(15000L)) + 1L).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        (pmod(h(seed, 2, k), lit(3L)) + 1L).cast("int")).as("o_orderstatus"),
      round(pmod(h(seed, 3, k), lit(50000000L)).cast("double") / 100.0 + 900.0, 2)
        .as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + pmod(h(seed, 4, k), lit(2400L)) * 86400L)
        .cast("timestamp_ntz").as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .map(lit): _*), (pmod(h(seed, 5, k), lit(5L)) + 1L).cast("int"))
        .as("o_orderpriority"))
  }

  def keyRange(spark: SparkSession, from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id").as(Key))

  /** The updated image of a row: a status no base row has, a price moved
    * by one. The same change the remote workload applies by SQL. */
  def updated(df: DataFrame): DataFrame =
    df.withColumn("o_orderstatus", lit("X"))
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .select(Cols.map(col): _*)

  /** Kind of each key at mutation density `d`: updates, deletes and
    * inserts in the ratio 6:2:2. */
  def kind(seed: Long, d: Double): Column = {
    val u = unit(seed, 6)
    when(u < d * 0.6, Update).when(u < d * 0.8, Delete).when(u < d, Insert)
      .otherwise(Same)
  }

  /** The density at which exactly the `k` keys of [0, n) with the lowest
    * draws mutate (barring ties between draws). */
  def densityFor(spark: SparkSession, seed: Long, n: Long, k: Int): Double =
    keyRange(spark, 0, n).select(unit(seed, 6).as("u")).orderBy("u").limit(k)
      .agg(max("u")).head().getDouble(0) + 0.5 / (1L << 30)

  /** Base rows of keys [0, n) tagged with their mutation kind. */
  def tagged(spark: SparkSession, seed: Long, n: Long, d: Double): DataFrame =
    rows(seed, keyRange(spark, 0, n)).withColumn("_kind", kind(seed, d))

  def sideA(t: DataFrame): DataFrame =
    t.where(col("_kind") =!= Insert).select(Cols.map(col): _*)

  def sideB(t: DataFrame): DataFrame = {
    val upd = col("_kind") === Update
    t.where(col("_kind") =!= Delete).select(Cols.map {
      case "o_orderstatus" => when(upd, lit("X")).otherwise(col("o_orderstatus")).as("o_orderstatus")
      case "o_totalprice" =>
        when(upd, col("o_totalprice") + 1.0).otherwise(col("o_totalprice")).as("o_totalprice")
      case c => col(c)
    }: _*)
  }

  /** The signed rows a diff of a against b must emit: '-' the a image of
    * every updated or deleted key, '+' the b image of every updated or
    * inserted key. */
  def expectedDiff(t: DataFrame): DataFrame =
    sideA(t.where(col("_kind").isin(Update, Delete))).withColumn("sign", lit("-"))
      .unionByName(sideB(t.where(col("_kind").isin(Update, Insert))).withColumn("sign", lit("+")))

  /** (sign, key) pairs of [[expectedDiff]], sorted. */
  def expectedKeys(t: DataFrame): Seq[(String, Long)] =
    expectedDiff(t).select("sign", Key).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
}

/** An order-independent summary of a signed diff: per sign, the row count
  * and the sum of a 64-bit hash of every row. The sum is a DECIMAL(38,0):
  * a long sum overflows, and ANSI mode makes that an error. */
final case class Fingerprint(minus: Long, minusSum: BigDecimal, plus: Long, plusSum: BigDecimal) {
  def rows: Long = minus + plus
}

object Fingerprint {
  val Empty: Fingerprint = Fingerprint(0L, BigDecimal(0), 0L, BigDecimal(0))

  /** Fingerprint of `diff` over `cols` (a `sign` column plus the row
    * columns); one Spark job, which also consumes every diff row. */
  def of(diff: DataFrame, cols: Seq[String] = Gen.Cols): Fingerprint = {
    val hash = xxhash64(cols.map(col): _*).cast(DecimalType(38, 0))
    diff.groupBy(col("sign")).agg(count(lit(1)), sum(hash)).collect()
      .foldLeft(Empty) { (fp, r) =>
        val s = BigDecimal(r.getDecimal(2))
        r.getString(0) match {
          case "-" => fp.copy(minus = r.getLong(1), minusSum = s)
          case "+" => fp.copy(plus = r.getLong(1), plusSum = s)
          case other => throw new IllegalStateException(s"diff row with sign '$other'")
        }
      }
  }
}
