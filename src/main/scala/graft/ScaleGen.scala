package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Replication-based scale-up generator for the local scale soak
  * (VERDICT r5 #1): reads the driver-written sf0.1 tables and writes a
  * `factor`× dataset with the same schemas, so the full query registry can
  * be soaked at ~sf1 without a network or the driver's generator.
  *
  * Each copy k shifts every key by k × (domain max + 1), consistently
  * across fact/dimension FKs (lineitem.l_orderkey moves with
  * orders.o_orderkey, etc.), so join selectivities and rows-per-group
  * scale LINEARLY — the property the soak measures against.
  *
  * Content columns are decorrelated across copies so similarity operators
  * see a 10× corpus, not 10 copies of one corpus (which would
  * quadratically inflate near-dup candidate sets for data reasons and mask
  * plan-shape problems):
  *  - `documents.text`: vowels are rotated by a per-copy permutation
  *    (translate — codegen'd, length-preserving, word boundaries
  *    untouched), which rewrites nearly every shingle; each copy keeps the
  *    sf0.1 corpus's INTERNAL dup/near-dup structure exactly, so planted
  *    pair counts scale ×factor.
  *  - `embeddings.embedding`: dimensions are rotated by 3k positions (an
  *    orthogonal transform — norms and all intra-copy pairwise cosines are
  *    preserved exactly; cross-copy directions decorrelate).
  *
  * `events.ts` copies through VERBATIM in whatever encoding the source
  * files carry (int64 nanos in early rounds, TIMESTAMP(MICROS) since
  * round 7) — [[graft.sources.Tables.events]] dispatches on the resolved
  * type, so the scaled file round-trips the same loader path as the
  * driver's original either way.
  */
object ScaleGen {

  /** Per-copy letter permutation: vowels rotate by k mod 5, consonants by
    * k mod 21 — lcm = 105 DISTINCT transforms, so no two copies share
    * text up to factor 105 (vowels alone repeat every 5 copies, which at
    * factor 100 would give every document 19 exact twins and inflate
    * banding candidates quadratically for data reasons). Identity at
    * k=0; length- and word-structure-preserving either way.
    */
  private[graft] def perturbText(c: Column, k: Int): Column = {
    val vow = "aeiou"; val con = "bcdfghjklmnpqrstvwxyz"
    def rot(s: String, r: Int) = s.drop(r) + s.take(r)
    val (rv, rc) = (k % 5, k % 21)
    if (rv == 0 && rc == 0) c
    else {
      val from = vow + vow.toUpperCase + con + con.toUpperCase
      val to = rot(vow, rv) + rot(vow.toUpperCase, rv) +
        rot(con, rc) + rot(con.toUpperCase, rc)
      translate(c, from, to)
    }
  }

  /** Per-copy orthogonal transform: rotate dimensions by 3k (mod dim),
    * and negate once the rotations wrap (copies k and k+dim share a
    * rotation — gcd(3, dim)=1 walks all dim offsets first). Norms and
    * intra-copy pairwise cosines are preserved exactly; cross-copy
    * directions decorrelate for factors up to 2·dim.
    */
  private[graft] def rotateVec(c: Column, k: Int, embDim: Int): Column = {
    val r = (3 * k) % embDim
    val rotated =
      if (r == 0) c
      else concat(slice(c, r + 1, embDim - r), slice(c, 1, r))
    if ((k / embDim) % 2 == 1)
      transform(rotated, x => (-x).cast("float"))
    else rotated
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/root/repo/testdata-sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.create(extra = Seq(
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true"))
    run(spark, src, dst, factor)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def rd(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def keyOffset(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).first().getLong(0) + 1L

    val offCust = keyOffset(rd("customer"), "c_custkey")
    val offSupp = keyOffset(rd("supplier"), "s_suppkey")
    val offPart = keyOffset(rd("part"), "p_partkey")
    val offOrder = keyOffset(rd("orders"), "o_orderkey")
    val offEvent = keyOffset(rd("events"), "event_id")
    val offUser = keyOffset(rd("events"), "user_id")
    val offDoc = keyOffset(rd("documents"), "doc_id")
    val offVec = keyOffset(rd("embeddings"), "vec_id")
    val embDim = rd("embeddings").select(size(col("embedding")).cast("int"))
      .first().getInt(0)

    def shifted(c: String, off: Long, k: Int): Column =
      (col(c) + lit(off * k)).as(c)

    def perturbText(c: Column, k: Int): Column = ScaleGen.perturbText(c, k)
    def rotateVec(c: Column, k: Int): Column = ScaleGen.rotateVec(c, k, embDim)

    def replicate(name: String, parts: Int)(
        perCopy: (DataFrame, Int) => DataFrame): Unit = {
      val base = rd(name)
      val out = (0 until factor).map(k => perCopy(base, k)).reduce(_ unionAll _)
      out.repartition(parts).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")
      System.err.println(s"[scalegen] $name x$factor done")
    }

    // fixed-size dims copy through unchanged (TPC-H keeps region/nation
    // constant across scale factors)
    Seq("region", "nation").foreach { name =>
      rd(name).coalesce(1).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      System.err.println(s"[scalegen] $name copied")
    }
    replicate("customer", 4)((df, k) => df.select(
      shifted("c_custkey", offCust, k), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment")))
    replicate("supplier", 1)((df, k) => df.select(
      shifted("s_suppkey", offSupp, k), col("s_name"), col("s_nationkey"),
      col("s_acctbal")))
    replicate("part", 4)((df, k) => df.select(
      shifted("p_partkey", offPart, k), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice")))
    replicate("orders", 16)((df, k) => df.select(
      shifted("o_orderkey", offOrder, k), shifted("o_custkey", offCust, k),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))
    replicate("lineitem", 32)((df, k) => df.select(
      shifted("l_orderkey", offOrder, k), shifted("l_partkey", offPart, k),
      shifted("l_suppkey", offSupp, k), col("l_linenumber"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      col("l_tax"), col("l_returnflag"), col("l_linestatus"),
      col("l_shipdate")))
    replicate("events", 16)((df, k) => df.select(
      shifted("event_id", offEvent, k), col("ts"),
      shifted("user_id", offUser, k), col("event_type"), col("value"),
      col("props")))
    replicate("documents", 8)((df, k) => df.select(
      shifted("doc_id", offDoc, k), perturbText(col("text"), k).as("text"),
      col("lang"), col("source"), col("n_chars")))
    replicate("embeddings", 8)((df, k) => df.select(
      shifted("vec_id", offVec, k),
      rotateVec(col("embedding"), k).as("embedding"), col("label")))

    // the stored binary-media corpus rides the scaled doc_id domain: the
    // payloads are closed-form in doc_id, so generating from the SCALED
    // documents table keeps every media oracle valid at any factor
    graft.sources.MediaTable.write(
      spark.read.parquet(s"$dst/documents.parquet"), s"$dst/media.parquet")
    System.err.println(s"[scalegen] media x$factor done")

    (graft.sources.Tables.names :+ "media").foreach { t =>
      val n = spark.read.parquet(s"$dst/$t.parquet").count()
      System.err.println(s"[scalegen] $t: $n rows")
    }
  }
}
