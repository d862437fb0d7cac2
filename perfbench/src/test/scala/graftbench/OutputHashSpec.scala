package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class OutputHashSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def frame(rows: Seq[(String, Int, Seq[String], Seq[String])]) = {
    import spark.implicits._
    // props: a map built from parallel key/value arrays, so the entry order
    // of the map follows the order the arrays are given in
    rows.toDF("id", "n", "keys", "vals")
      .withColumn("props", map_from_arrays(col("keys"), col("vals")))
      .withColumn("nested", array(struct(col("props").as("m"), col("n").as("n"))))
      .drop("keys", "vals")
  }

  private def rowCount(hash: String) = hash.takeWhile(_ != ':').toLong

  private val rows = Seq(
    ("a", 1, Seq("x", "y"), Seq("1", "2")),
    ("b", 2, Seq("y"), Seq("3")),
    ("c", 3, Seq.empty[String], Seq.empty[String]),
    ("d", 4, Seq("z", "x", "y"), Seq("4", "5", "6")))

  test("the hash ignores row order and partitioning") {
    val h = OutputHash.of(frame(rows))
    assert(h == OutputHash.of(frame(rows.reverse)))
    assert(h == OutputHash.of(frame(rows).repartition(3, col("n"))))
    assert(h == OutputHash.of(frame(rows).orderBy(col("id").desc).coalesce(1)))
    assert(rowCount(h) == 4)
  }

  test("the hash ignores the entry order of map columns, at any depth") {
    val reordered = rows.map { case (id, n, ks, vs) =>
      val (k2, v2) = ks.zip(vs).reverse.unzip
      (id, n, k2, v2)
    }
    assert(OutputHash.of(frame(rows)) == OutputHash.of(frame(reordered)))
  }

  test("the hash sees a changed map value, a changed scalar and a duplicate row") {
    val h = OutputHash.of(frame(rows))
    assert(h != OutputHash.of(frame(rows.updated(0, ("a", 1, Seq("x", "y"), Seq("1", "9"))))))
    assert(h != OutputHash.of(frame(rows.updated(1, ("b", 7, Seq("y"), Seq("3"))))))
    val dup = OutputHash.of(frame(rows :+ rows.head))
    assert(dup != h)
    assert(rowCount(dup) == 5)
  }

  test("an empty frame hashes to zero sums") {
    assert(OutputHash.of(frame(rows).filter(lit(false))) ==
      "0:0000000000000000:0000000000000000")
  }
}
