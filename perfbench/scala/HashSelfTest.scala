package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-test of `OutputHash`'s canonical form; exits 1 on any failure.
  *
  *   graftbench.HashSelfTest
  */
object HashSelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def h(df: DataFrame) = OutputHash.of(df)
    var failures = 0
    def check(what: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }

    val zeros = Seq(0.0, 1.5).toDF("x")
    val negZeros = Seq(-0.0, 1.5).toDF("x")
    check("-0.0 hashes as 0.0", h(zeros) == h(negZeros))
    check("-0.0f hashes as 0.0f",
      h(Seq(0.0f).toDF("x")) == h(Seq(-0.0f).toDF("x")))
    check("-0.0 inside an array hashes as 0.0",
      h(Seq(Seq(0.0, 2.0)).toDF("a")) == h(Seq(Seq(-0.0, 2.0)).toDF("a")))
    val nan2 = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    check("every NaN hashes as one NaN",
      h(Seq(Double.NaN).toDF("x")) == h(Seq(nan2).toDF("x")))
    check("0.0 and 1.0 differ", h(Seq(0.0).toDF("x")) != h(Seq(1.0).toDF("x")))

    val ab = Seq((Option.empty[Int], Option(1))).toDF("a", "b")
    val ba = Seq((Option(1), Option.empty[Int])).toDF("a", "b")
    check("a null in column a differs from a null in column b", h(ab) != h(ba))
    check("null differs from 0",
      h(Seq(Option.empty[Int]).toDF("a")) != h(Seq(Option(0)).toDF("a")))
    check("[null, 1] differs from [1, null]",
      h(Seq(Seq[Option[Int]](None, Some(1))).toDF("a")) !=
        h(Seq(Seq[Option[Int]](Some(1), None)).toDF("a")))

    val cols = Seq((1, "x", 2.0), (2, "y", 3.0)).toDF("a", "b", "c")
    check("column order does not matter", h(cols) == h(cols.select("c", "a", "b")))
    check("renaming a column changes the hash",
      h(cols) != h(cols.withColumnRenamed("c", "d")))
    check("row order and partitioning do not matter",
      h(cols) == h(cols.orderBy(desc("a")).repartition(3)))
    check("a duplicated row changes the hash", h(cols) != h(cols.union(cols.limit(1))))
    check("two equal rows do not cancel out",
      h(cols.union(cols)) != h(cols.limit(0)))
    check("map entry order does not matter",
      h(Seq(1).toDF("k").select(map(lit("p"), lit(1), lit("q"), lit(2)).as("m"))) ==
        h(Seq(1).toDF("k").select(map(lit("q"), lit(2), lit("p"), lit(1)).as("m"))))
    check("duplicate column names are hashed by position",
      h(cols.select(col("a"), col("a"))).rows == 2)
    check("row count is exact", h(spark.range(12345).toDF()).rows == 12345L)
    check("an empty frame has count 0", h(cols.limit(0)).rows == 0L)

    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
