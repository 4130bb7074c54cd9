package graft.sources

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TestSpark

/** The synthetic sources' partitioning follows the session by default. */
class GeneratorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def generators: Seq[(String, Option[Int] => DataFrame)] = Seq(
    "ImageTable.generate" -> {
      case Some(p) => ImageTable.generate(spark, 10, partitions = p)
      case None => ImageTable.generate(spark, 10)
    },
    "PolygonTable.generate" -> {
      case Some(p) => PolygonTable.generate(spark, 10, partitions = p)
      case None => PolygonTable.generate(spark, 10)
    },
    "PolygonTable.points" -> {
      case Some(p) => PolygonTable.points(spark, 10, partitions = p)
      case None => PolygonTable.points(spark, 10)
    },
    "AudioTable.generate" -> {
      case Some(p) => AudioTable.generate(spark, 10, partitions = p)
      case None => AudioTable.generate(spark, 10)
    })

  /** Rows in collect order, binary cells compared by content. */
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case o => o
    })

  test("each generator defaults to the session's defaultParallelism") {
    val want = spark.sparkContext.defaultParallelism
    generators.foreach { case (name, gen) =>
      assert(gen(None).rdd.getNumPartitions == want, name)
    }
  }

  test("each generator honours an explicit partition count with the same rows") {
    generators.foreach { case (name, gen) =>
      val want = rows(gen(None))
      Seq(1, 3, 32).foreach { p =>
        val df = gen(Some(p))
        assert(df.rdd.getNumPartitions == p, s"$name at $p")
        assert(rows(df) == want, s"$name rows at $p")
      }
    }
  }
}
