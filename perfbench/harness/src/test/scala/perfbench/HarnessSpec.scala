package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession

/** Self-tests for the benchmark's own logic. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = GraftSession.builder(appName = "perfbench-selftest", cpus = "2").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("a percentile needs at least ten samples beyond it") {
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.supports(100, 0.9))
    assert(!Stats.supports(99, 0.9))
    assert(Stats.supports(20, 0.5))
    assert(!Stats.supports(19, 0.5))
    assert(Stats.highestSupported(100) == 90)
    assert(Stats.highestSupported(1000) == 99)
    assert(Stats.highestSupported(9) == 0)
  }

  test("quantiles interpolate between ranks") {
    val xs = (1 to 11).map(_.toDouble).reverse
    assert(Stats.median(xs) == 6.0)
    assert(Stats.quantile(xs, 0.9) == 10.0)
    assert(Stats.quantile(Seq(1.0, 2.0), 0.5) == 1.5)
  }

  test("self time subtracts the union of overlapping children") {
    val spans = Seq(
      Span(1, -1, "op:x", "x", 0, 10),
      Span(2, 1, "job:1", "", 2, 6),
      Span(3, 1, "job:2", "", 4, 8))
    val self = Spans.selfTimes(spans)
    // The parent is self-running outside [2, 8]; the overlap [4, 6] is
    // shared by the two jobs, so the tree still sums to the op's 10 ms.
    assert(self(1L) == 4.0)
    assert(self(2L) == 3.0)
    assert(self(3L) == 3.0)
    assert(self.values.sum == 10.0)
  }

  test("self times of a nested tree sum to the root, after clipping") {
    val spans = Spans.clip(Seq(
      Span(1, -1, "op:x", "x", 0, 100),
      Span(2, 1, "frame", "x", 0, 30),
      Span(3, 1, "sql:1", "", 35, 99),
      Span(4, 3, "job:1", "", 40, 101), // ends after its parent: clipped
      Span(5, 4, "stage:1.0", "", 41, 90),
      Span(6, 5, "task", "", 42, 80),
      Span(7, 5, "task", "", 43, 85),
      Span(8, 5, "task", "", 60, 89)))
    assert(spans.find(_.id == 4).get.end == 99)
    val self = Spans.selfTimes(spans)
    assert(math.abs(self.values.sum - 100.0) < 1e-9)
    assert(self(2L) == 30.0)
    assert(self(1L) == 100.0 - 30.0 - 64.0)
  }

  test("interval union merges overlaps") {
    assert(Spans.unionMs(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7))) == 4.0)
  }

  test("the seed fixes each pass's order, and builds keep theirs") {
    val ops = (1 to 22).map(i => s"q$i")
    assert(Stats.order(ops, 7, 3, permute = true) == Stats.order(ops, 7, 3, permute = true))
    assert(Stats.order(ops, 7, 3, permute = true).sorted == ops.sorted)
    assert(Stats.order(ops, 7, 3, permute = true) != Stats.order(ops, 8, 3, permute = true))
    assert(Stats.order(ops, 7, 3, permute = true) != Stats.order(ops, 7, 4, permute = true))
    assert(Stats.order(ops, 7, 3, permute = false) == ops)
  }

  test("the digest ignores row order and partitioning but sees every column") {
    import spark.implicits._
    val a = Seq((1, "x", 1.5), (2, "y", 2.5), (3, "z", 3.5)).toDF("k", "s", "v")
    val shuffled = a.orderBy($"k".desc).repartition(3)
    assert(Digest.of(a) == Digest.of(shuffled))
    assert(Digest.of(a).rows == 3)
    // A change in a column nothing filters, joins or sorts on still shows.
    val edited = a.withColumn("s", org.apache.spark.sql.functions.lit("x"))
    assert(Digest.of(a) != Digest.of(edited))
    assert(Digest.parse(Digest.of(a).toString) == Digest.of(a))
  }

  test("the digest handles map columns and empty results") {
    val m = spark.sql("SELECT map(1, 'a', 2, 'b') AS m, 1 AS k")
    assert(Digest.of(m).rows == 1)
    assert(Digest.of(m.filter("k = 0")) == Digest(0, java.math.BigDecimal.ZERO))
  }

  test("a build that starts no Spark job is detected") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("perfbench-selftest").toString
    val cache = new graft.queries.SessionCache[Long](_ => ())
    def build(): Unit = cache.getOrElseUpdate(spark, dir)(spark.range(100).count())
    assert(Jobs.counted(sc, "selftest-first")(build()) > 0)
    // The second call returns the cached value: no job, so no build.
    assert(Jobs.counted(sc, "selftest-again")(build()) == 0)
  }
}
