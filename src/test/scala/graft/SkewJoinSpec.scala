package graft

import org.apache.spark.sql.functions._

import graft.operators.SkewJoin

/** The salted join must be result-identical to the plain equi-join while
  * actually spreading a hot key across salt values.
  */
class SkewJoinSpec extends SparkSpecBase {
  import spark.implicits._

  test("salted join equals plain join on skewed data") {
    // hot key: 900 of 1000 rows share key 7
    val big = spark.range(0, 1000).toDF("i")
      .select(when(col("i") < 900, 7L).otherwise(col("i")).as("k"), col("i"))
    val small = Seq((7L, "hot"), (950L, "cold"), (999L, "cold")).toDF("k2", "tag")
    val salted = SkewJoin.saltedEquiJoin(big, small, "k", "k2", salts = 8)
      .select("k", "i", "tag")
    val plain = big.join(small, col("k") === col("k2")).select("k", "i", "tag")
    assert(salted.count() === plain.count())
    assert(rows(salted) === rows(plain))
  }

  test("the hot key actually spreads across salts") {
    val big = spark.range(0, 1000).toDF("i").select(lit(7L).as("k"), col("i"))
    val saltCount = big
      .withColumn("s", pmod(hash(col("k"), col("i")), lit(8)))
      .select("s").distinct().count()
    assert(saltCount > 4) // 1000 distinct rows hash into most of 8 salts
  }

  test("salted shingle verify equals the plain verify") {
    import graft.operators.Dedup
    import org.apache.spark.sql.expressions.Window
    // a hot doc (1) pairing with everything, plus cold pairs — the
    // hot-key boilerplate shape at spec scale, over REAL shingle rows
    val texts = Seq(
      1L -> "alpha bravo charlie delta echo foxtrot golf hotel india",
      2L -> "alpha bravo charlie delta echo foxtrot golf hotel juliet",
      3L -> "alpha bravo charlie delta echo foxtrot golf kilo lima",
      4L -> "totally different words with nothing shared at all here",
      5L -> "alpha bravo charlie delta echo foxtrot golf hotel india")
    val docs = texts.map { case (id, t) => doc(id, t) }.toDF()
    val sh = Dedup.shingleRowsOf(docs)
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .localCheckpoint()
    val cand = (for {
      a <- texts.map(_._1); b <- texts.map(_._1) if a < b
    } yield (a, b)).toDF("id_a", "id_b")
    val plain = rows(Dedup.verifyJaccard(cand, sh))
    val salted = rows(Dedup.verifyJaccardSalted(cand, sh, salts = 8))
    // threshold 3 makes doc 1 (4 pairs as id_a) genuinely take the
    // hot path while the rest stay cold — both branches exercised
    val aware = rows(Dedup.verifyJaccardSkewAware(cand, sh, salts = 8,
      hotThreshold = 3L))
    assert(plain.nonEmpty)
    assert(salted === plain)
    assert(aware === plain)
  }
}
