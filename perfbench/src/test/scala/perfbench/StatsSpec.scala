package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("p90 is reported only with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9).contains(90.0))
    assert(Stats.percentile(xs.take(99), 0.9).isEmpty)
    assert(Stats.percentile(xs, 0.5).contains(50.0))
    assert(Stats.percentile((1 to 20).map(_.toDouble), 0.5).contains(10.0))
    assert(Stats.percentile((1 to 19).map(_.toDouble), 0.5).isEmpty)
    assert(Stats.percentile(Nil, 0.9).isEmpty)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of overlapping children") {
    // parent [0, 100]; children [10, 40] and [30, 60] overlap on [30, 40],
    // [90, 120] sticks out of the parent: covered = 50 + 10
    assert(Stats.selfTime(0, 100, Seq((10.0, 40.0), (30.0, 60.0), (90.0, 120.0))) == 40.0)
    // a child nested in another counts once
    assert(Stats.selfTime(0, 100, Seq((10.0, 80.0), (20.0, 30.0))) == 30.0)
    // touching children, unsorted input
    assert(Stats.selfTime(0, 10, Seq((5.0, 10.0), (0.0, 5.0))) == 0.0)
    assert(Stats.selfTime(0, 10, Nil) == 10.0)
    // children wholly outside the parent cover nothing
    assert(Stats.selfTime(50, 60, Seq((0.0, 10.0), (70.0, 80.0))) == 10.0)
  }

  test("fingerprint ignores row and column order") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", -0.25), (3L, null, 2.0)).toDF("k", "s", "x")
    val fp = Stats.fingerprint(df)
    assert(fp.rows == 3 && fp.columns == Seq("k", "s", "x"))
    assert(Stats.fingerprint(df.select("x", "k", "s")) == fp)
    assert(Stats.fingerprint(df.orderBy($"k".desc).repartition(3)) == fp)
  }

  test("fingerprint sees values, nulls and their places") {
    import spark.implicits._
    val base = Seq[(Option[Long], Option[Long])]((Some(1L), None), (Some(2L), Some(3L))).toDF("a", "b")
    val fp = Stats.fingerprint(base)
    val swappedNull = Seq[(Option[Long], Option[Long])]((None, Some(1L)), (Some(2L), Some(3L))).toDF("a", "b")
    assert(Stats.fingerprint(swappedNull).hash != fp.hash)
    val changed = Seq[(Option[Long], Option[Long])]((Some(1L), None), (Some(2L), Some(4L))).toDF("a", "b")
    assert(Stats.fingerprint(changed).hash != fp.hash)
    assert(Stats.fingerprint(base.withColumnRenamed("b", "c")).shape != fp.shape)
    assert(Stats.fingerprint(base.limit(1)).rows == 1)
  }
}
