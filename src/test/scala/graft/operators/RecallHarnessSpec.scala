package graft.operators

import graft.SparkSpec

/** Contracts of the one recall harness every ANN recall row reads through
  * ([[Similarity.recallAt]] / [[Similarity.recallCurve]]), on tiny
  * synthetic frames — no corpus scan.
  */
class RecallHarnessSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("per-query form reports a query with 0 hits as hits = 0, recall = 0.0") {
    val s = spark
    import s.implicits._
    val truth = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L)).toDF("query_id", "vec_id")
    // query 1 is absent from the arm; the arm-only id 9 is not a hit
    val arm = Seq((0L, 1L), (0L, 9L)).toDF("query_id", "vec_id")
    val got = Similarity.recallAt(truth, arm, 2, keys = Seq("query_id"))
    assert(got.columns.toSeq == Seq("query_id", "k", "hits", "recall"))
    assert(rows(got) == Seq(Seq(0L, 2, 1L, 0.5), Seq(1L, 2, 0L, 0.0)))
  }

  test("single-query form is one row, also when nothing is found") {
    val s = spark
    import s.implicits._
    val truth = Seq(1L, 2L, 3L, 4L).toDF("vec_id")
    assert(rows(Similarity.recallAt(truth, Seq(2L, 4L, 7L).toDF("vec_id"), 4)) ==
      Seq(Seq(4, 2L, 0.5)))
    assert(rows(Similarity.recallAt(truth, Seq(8L).toDF("vec_id"), 4)) ==
      Seq(Seq(4, 0L, 0.0)))
  }

  test("labelled form yields one row per label") {
    val s = spark
    import s.implicits._
    val truth = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val arms = Seq(
      8L -> Seq(1L, 2L, 3L, 4L).toDF("doc_id"),
      1L -> Seq(9L).toDF("doc_id"),
      2L -> Seq(1L, 2L, 9L).toDF("doc_id"))
    val got = Similarity.recallCurve(truth, arms, 4, "pool", idCol = "doc_id")
    assert(got.columns.toSeq == Seq("pool", "k", "hits", "recall"))
    assert(rows(got) ==
      Seq(Seq(1L, 4, 0L, 0.0), Seq(2L, 4, 2L, 0.5), Seq(8L, 4, 4L, 1.0)))
  }
}
