package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The certificate diffs count keys by presence flags over a union instead
  * of by the null pattern of a full-outer join. The two agree only because
  * each side holds a key at most once; this pins that equivalence.
  */
class PresenceFlagsSpec extends SparkTestBase {

  test("presenceFlags: flag counts equal the full-outer null-pattern counts on distinct keyed inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // (qid, nid, score) keys, the widest key shape the certificates use;
    // the score is a function of the pair so overlapping keys match exactly
    def side(n: Int): Seq[(Long, Long, Double)] =
      Seq.fill(n)((rnd.nextInt(12).toLong, rnd.nextInt(30).toLong)).distinct
        .map { case (q, k) => (q, k, (q * 31 + k) / 7.0) }
    val left = side(200)
    val right = side(150)
    val keys = Seq("qid", "nid", "score")
    val l = left.toDF(keys: _*)
    val r = right.toDF(keys: _*)

    def counts(df: DataFrame): Seq[Long] = {
      val row = df.head()
      (0 until row.length).map(row.getLong)
    }
    val flags = counts(Queries.presenceFlags(l, r, keys).agg(
      count(lit(1)),
      count(when(col("_l") === 1, 1)),
      count(when(col("_l") === 1 && col("_r") === 1, 1)),
      count(when(col("_l") === 0, 1)),
      count(when(col("_r") === 0, 1)),
      count_distinct(when(col("_l") === 1, col("qid")))))
    val outer = counts(l.withColumn("_t", lit(1))
      .join(r.withColumn("_f", lit(1)), keys, "full_outer").agg(
        count(lit(1)),
        count(col("_t")),
        count(when(col("_t").isNotNull && col("_f").isNotNull, 1)),
        count(when(col("_t").isNull, 1)),
        count(when(col("_f").isNull, 1)),
        count_distinct(when(col("_t").isNotNull, col("qid")))))
    assert(flags == outer)

    val (ls, rs) = (left.toSet, right.toSet)
    assert(flags == Seq((ls ++ rs).size, ls.size, (ls & rs).size, (rs -- ls).size,
      (ls -- rs).size, left.map(_._1).distinct.size).map(_.toLong))
    assert((ls & rs).nonEmpty && (ls -- rs).nonEmpty && (rs -- ls).nonEmpty,
      "test setup: both one-sided parts and the overlap must be non-empty")
  }
}
