package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def frame = spark.range(0, 5000, 1, 3).select(
    col("id"),
    (col("id") / 7.0).as("d"),
    when(col("id") % 11 === 0, lit(null)).otherwise(col("id").cast("string")).as("s"),
    array(col("id") * 0.1, col("id") * 0.3).as("arr"),
    map(lit("k"), (col("id") % 5).cast("double")).as("m"),
    struct((col("id") * 1.5).as("x"), col("id").cast("int").as("y")).as("st"),
    col("id").cast("string").cast("binary").as("b"))

  test("the same frame hashed at two partition counts gives the same digest") {
    val a = Digest.of(frame.repartition(1))
    val b = Digest.of(frame.repartition(7, col("s")))
    assert(a == b)
    assert(a.rows == 5000)
  }

  test("rounding hides last-bit float noise but not real changes") {
    val base = spark.range(100).select((col("id") * 0.1).as("v"))
    val noisy = base.select((col("v") + 1e-12).as("v"))
    val moved = base.select((col("v") + 1e-3).as("v"))
    assert(Digest.of(base) == Digest.of(noisy))
    assert(Digest.of(base) != Digest.of(moved))
  }

  test("replay's compare counts missing and extra rows as multisets") {
    import spark.implicits._
    val ref = Seq(("a", 1L), ("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v")
    val got = Seq(("a", 1L), ("b", 2L), ("b", 2L), ("d", 4L)).toDF("k", "v")
    assert(Replay.compare(ref, got) == ((4L, 2L, 2L)))
    assert(Replay.compare(ref, ref) == ((4L, 0L, 0L)))
  }

  test("a changed or dropped row changes the digest") {
    val a = Digest.of(frame)
    assert(Digest.of(frame.filter(col("id") =!= 17)) != a)
    assert(Digest.of(frame.withColumn("s", when(col("id") === 3, "x").otherwise(col("s")))) != a)
  }
}
