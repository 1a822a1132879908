package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Self-check of [[Digest]], run by `perfbench/tests/test_digest.py`:
  * the digest must not depend on row order or partitioning, and must
  * change when a value, a row's multiplicity or a map entry changes.
  * Prints one line per check and exits non-zero if any fails. */
object DigestCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
      .config("spark.local.dir", args(0)).config("spark.sql.warehouse.dir", args(0) + "/wh")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rows = (1 to 500).map(i => (i.toLong, s"w$i", i * 0.5, Map(s"k${i % 3}" -> i, "z" -> 1)))
    val base = rows.toDF("id", "s", "d", "m")
    val shuffled = scala.util.Random.shuffle(rows).toDF("id", "s", "d", "m").repartition(7)
    val sorted = base.orderBy(desc("id"))
    val changed = rows.updated(10, rows(10).copy(_3 = 99.0)).toDF("id", "s", "d", "m")
    val duplicated = (rows :+ rows(3)).toDF("id", "s", "d", "m")
    val swapped = rows.map(r => r.copy(_4 = r._4.toSeq.reverse.toMap)).toDF("id", "s", "d", "m")
    val movedKey = rows.updated(5, rows(5).copy(_4 = Map("k9" -> 6, "z" -> 1))).toDF("id", "s", "d", "m")
    val d0 = Digest.of(base)
    val checks = Seq(
      "order and partitioning do not matter" -> (Digest.of(shuffled) == d0 && Digest.of(sorted) == d0),
      "map entry order does not matter" -> (Digest.of(swapped) == d0),
      "a changed value changes the digest" -> (Digest.of(changed) != d0),
      "a duplicated row changes the digest" -> (Digest.of(duplicated) != d0),
      "a changed map key changes the digest" -> (Digest.of(movedKey) != d0),
      "the empty result has a digest" -> (Digest.of(base.limit(0)) == "0:0:0"))
    checks.foreach { case (name, ok) => println(s"${if (ok) "PASS" else "FAIL"} $name") }
    spark.stop()
    if (checks.exists(!_._2)) sys.exit(1)
  }
}
