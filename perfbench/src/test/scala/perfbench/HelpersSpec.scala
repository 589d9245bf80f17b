package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the same seed gives a byte-identical input fingerprint") {
    assert(DedupSearch.fingerprint(DedupSearch.inputs(5)) ==
      DedupSearch.fingerprint(DedupSearch.inputs(5)))
    val (d1, q1) = IndexServe.inputs(5)
    val (d2, q2) = IndexServe.inputs(5)
    assert(IndexServe.fingerprint(d1, q1) == IndexServe.fingerprint(d2, q2))
    def records(seed: Long) = Checks.checksum(
      graft.sources.DataGenerator.generate(spark, 300, seed).toDF())
    assert(records(5) == records(5))
  }

  test("a different seed gives a different fingerprint") {
    assert(DedupSearch.fingerprint(DedupSearch.inputs(5)) !=
      DedupSearch.fingerprint(DedupSearch.inputs(6)))
    val (d1, q1) = IndexServe.inputs(5)
    val (d2, q2) = IndexServe.inputs(6)
    assert(IndexServe.fingerprint(d1, q1) != IndexServe.fingerprint(d2, q2))
    def records(seed: Long) = Checks.checksum(
      graft.sources.DataGenerator.generate(spark, 300, seed).toDF())
    assert(records(5) != records(6))
  }

  test("tail picks the highest percentile with at least ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tail(hundred) == Some(Stats.Tail(90, 90.0, 100, 10)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) ==
      Some(Stats.Tail(50, 10.0, 20, 10)))
    // p50 would leave nine beyond: too few for any percentile from p50 up
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 100).map(_.toDouble), minBeyond = 1) ==
      Some(Stats.Tail(99, 99.0, 100, 1)))
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("checksum ignores row order and partitioning but not content") {
    import spark.implicits._
    val rows = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5), (3L, "c", 3.5))
    val base = Checks.checksum(rows.toDF("id", "s", "x"))
    assert(base._1 == 4)
    assert(Checks.checksum(rows.reverse.toDF("id", "s", "x").repartition(3)) == base)
    assert(Checks.checksum(rows.updated(1, (2L, "B", 2.5)).toDF("id", "s", "x")) != base)
    assert(Checks.checksum(rows.distinct.toDF("id", "s", "x")) != base)
    assert(Checks.checksum(Seq.empty[(Long, String, Double)].toDF("id", "s", "x")) ==
      ((0L, BigDecimal(0))))
  }

  test("self time subtracts the union of child intervals clipped to the span") {
    // children overlap each other ([10,30) and [20,40)) and one runs past
    // the span's end ([90,120)): covered = [10,40) + [90,100) = 40
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60)
    assert(Stats.selfTime(0, 100, Nil) == 100)
    assert(Stats.selfTime(50, 60, Seq((0L, 100L))) == 0)
    assert(Stats.unionLength(Seq((5L, 7L), (1L, 3L), (2L, 4L))) == 5)
  }
}
