package graft

import org.apache.spark.SparkException

import graft.operators.Par

/** Par.build: branch results come back in input order whatever order the
  * branches finish in; the first branch failure is the exception thrown,
  * it cancels the siblings' Spark jobs, and their failures ride along as
  * suppressed.
  */
class ParSpec extends SparkSpecBase {
  import spark.implicits._

  test("Par.build returns branch results in input order") {
    val s = spark // Par.build runs on the active session
    // the later a branch comes, the sooner it finishes
    val fs = (0 until 4).map { i => () =>
      Thread.sleep((3 - i) * 100L)
      s.range(i, i + 1).toDF("i").localCheckpoint()
    }
    assert(Par.build(fs).map(_.as[Long].head()) === Seq(0L, 1L, 2L, 3L))
  }

  test("Par.build throws the first failure, siblings' failures suppressed") {
    val first = new IllegalStateException("first")
    // interrupt the cancelled sibling's sleeping tasks so they free their
    // slots; the branch threads inherit this local property
    spark.sparkContext.setLocalProperty("spark.job.interruptOnCancel", "true")
    val t0 = System.nanoTime()
    val err =
      try intercept[IllegalStateException] {
        Par.build(Seq(
          () => throw first,
          // only the cancellation ends this branch early
          () => spark.range(0, 4, 1, 4)
            .map { i => Thread.sleep(20000); i.longValue }
            .toDF("i").localCheckpoint()))
      } finally
        spark.sparkContext.setLocalProperty("spark.job.interruptOnCancel", null)
    assert(err eq first)
    assert(err.getSuppressed.toSeq.map(_.getClass) === Seq(classOf[SparkException]))
    assert((System.nanoTime() - t0) / 1e9 < 15)
  }
}
