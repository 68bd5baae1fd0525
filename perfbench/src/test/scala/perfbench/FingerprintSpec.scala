package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.diff.JoinDiffer

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tagged = Gen.tagged(spark, 7L, 4000L, 0.05)

  test("the generator's expected diff is the diff JoinDiffer emits") {
    val t = tagged
    val got = JoinDiffer.diff(Gen.sideA(t), Gen.sideB(t), Seq(Gen.Key), Gen.Compare)
    val want = Fingerprint.of(Gen.expectedDiff(t))
    assert(want.minus > 0 && want.plus > 0)
    assert(Fingerprint.of(got) == want)
    assert(Gen.expectedKeys(t) ==
      got.select("sign", Gen.Key).collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted)
  }

  test("the same seed gives the same inputs; another seed does not") {
    def fp(seed: Long) = Fingerprint.of(Gen.expectedDiff(Gen.tagged(spark, seed, 4000L, 0.05)))
    assert(fp(7L) == fp(7L))
    assert(fp(7L) != fp(8L))
  }

  test("densityFor mutates exactly the k keys with the lowest draws") {
    val d = Gen.densityFor(spark, 7L, 4000L, 8)
    assert(Gen.tagged(spark, 7L, 4000L, d).where(col("_kind") =!= Gen.Same).count() == 8)
  }

  test("a seeded wrong diff is caught: dropped, duplicated, re-signed or altered rows") {
    val want = Fingerprint.of(Gen.expectedDiff(tagged))
    val good = Gen.expectedDiff(tagged).orderBy(Gen.Key, "sign").localCheckpoint()
    val victim = good.limit(1)
    def without(df: DataFrame) = good.exceptAll(df)
    val wrong: Seq[(String, DataFrame)] = Seq(
      "dropped" -> without(victim),
      "duplicated" -> good.unionByName(victim),
      "re-signed" -> without(victim).unionByName(victim.withColumn("sign",
        when(col("sign") === "-", "+").otherwise("-"))),
      "altered" -> without(victim).unionByName(
        victim.withColumn("o_totalprice", col("o_totalprice") + 0.01)))
    wrong.foreach { case (how, df) =>
      assert(Fingerprint.of(df) != want, s"$how diff was not caught")
    }
  }

  test("the hash sum is exact where a long sum would overflow") {
    val df = spark.range(200).select(lit("+").as("sign"), col("id").as("k"))
    val want = df.collect().map(r => BigDecimal(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(r.getLong(1),
        org.apache.spark.sql.types.LongType, 42L))).sum
    assert(Fingerprint.of(df, Seq("k")) == Fingerprint(0L, BigDecimal(0), 200L, want))
  }
}
