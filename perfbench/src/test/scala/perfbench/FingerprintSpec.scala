package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, rand}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def frame = {
    import spark.implicits._
    (1 to 200).map(i => (i % 17, s"k$i", i * 0.25, Map(s"a$i" -> i, "b" -> -i), Seq(i, i + 1)))
      .toDF("g", "name", "x", "m", "arr")
  }

  test("fingerprint is invariant under row order and partition count") {
    val base = Fingerprint.of(frame)
    assert(Fingerprint.of(frame.repartition(7)) == base)
    assert(Fingerprint.of(frame.orderBy(rand(3)).coalesce(1)) == base)
    assert(Fingerprint.of(frame.repartition(5, col("g")).sortWithinPartitions(col("x").desc)) == base)
    // column order does not matter either: columns are hashed in name order
    assert(Fingerprint.of(frame.select("x", "m", "g", "arr", "name")) == base)
  }

  test("fingerprint changes with a value, a duplicate row, or a column name") {
    val base = Fingerprint.of(frame)
    assert(Fingerprint.of(frame.withColumn("x", col("x") + 1e-9)) != base)
    assert(Fingerprint.of(frame.union(frame.limit(1))) != base)
    assert(Fingerprint.of(frame.withColumnRenamed("name", "label")) != base)
    assert(base.startsWith("200:"))
  }

  test("negative zero and zero hash alike") {
    import spark.implicits._
    assert(Fingerprint.of(Seq(0.0).toDF("v")) == Fingerprint.of(Seq(-0.0).toDF("v")))
  }
}
