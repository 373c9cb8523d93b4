package graft.core

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.jobsOf

/** [[Land]]: the tallies come from the write's own job, equal a
  * separate count/sum over the same frame, and read 0 on an empty one. */
class LandSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def frame: DataFrame = spark.range(0, 1000, 1, 4)
    .select(col("id"), (col("id") % 7).as("k"))

  private val tallies = Seq("rows" -> count(lit(1)), "k_sum" -> sum(col("k")),
    "k0" -> count_if(col("k") === 0))

  private def sinks(): Seq[Land.Sink] = {
    val dir = Files.createTempDirectory("land").toString
    Seq(Land.Csv(s"$dir/out.csv"), Land.Csv(s"$dir/sorted.csv", col("k")),
      Land.Parquet(s"$dir/pq"), Land.Noop)
  }

  test("tallies equal a separate count and sum, for every sink") {
    val want = frame.agg(count(lit(1)), sum(col("k")),
      count_if(col("k") === 0)).head()
    for (sink <- sinks()) {
      val got = Land(frame, sink)(tallies: _*)
      assert(got === Map("rows" -> want.getLong(0),
        "k_sum" -> want.getLong(1), "k0" -> want.getLong(2)), sink)
    }
  }

  test("the write is the only job") {
    for (sink <- sinks().filter {
      case Land.Csv(_, order @ _*) => order.isEmpty // a sort adds its own
      case _ => true
    }) {
      val (got, jobs) = jobsOf(Land(frame, sink)(tallies: _*))
      assert(got("rows") === 1000L, sink)
      assert(jobs === 1, sink)
    }
  }

  test("an empty frame tallies 0, its null sums included") {
    import spark.implicits._
    val empties = Seq(frame.limit(0), frame.where(lit(false)),
      Seq.empty[(Long, Long)].toDF("id", "k"))
    for (df <- empties; sink <- sinks())
      assert(Land(df, sink)(tallies: _*) ===
        Map("rows" -> 0L, "k_sum" -> 0L, "k0" -> 0L), sink)
  }

  test("the CSV sink lands the rows in the given order") {
    val path = Files.createTempDirectory("land_order").toString + "/o.csv"
    Land(frame, Land.Csv(path, col("k"), col("id")))("rows" -> count(lit(1)))
    val lines = scala.io.Source.fromFile(path).getLines().toVector
    assert(lines.head === "id,k")
    val ks = lines.tail.map(_.split(",").map(_.toLong))
    assert(ks === ks.sortBy(r => (r(1), r(0))) && ks.length === 1000)
  }
}
