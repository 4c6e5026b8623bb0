package graft

import graft.functions.{CentroidAssignExpr, GraftFunctions, PqEncodeExpr}
import graft.ops.Similarity
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** Misused native operators fail loudly and early: a wrong array type at
  * analysis, an empty model before any job runs. */
class BadInputSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("graft_pairs rejects array<int> and null-bearing arrays at analysis") {
    val ints = Seq(Seq(1, 2, 3)).toDF("a")
    val e1 = intercept[AnalysisException](
      ints.select(GraftFunctions.sortedPairs(spark, col("a"))))
    assert(e1.getMessage.contains("graft_pairs"), e1.getMessage)
    val nullable = Seq(Seq(Some(1L), None, Some(3L))).toDF("a")
    assert(nullable.schema("a").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = true))
    intercept[AnalysisException](
      nullable.select(GraftFunctions.sortedPairs(spark, col("a"))))
    intercept[AnalysisException](
      spark.sql("SELECT graft_pairs(array(1, 2, 3)) AS p"))
    // the supported shape: sorted distinct bigint baskets
    val ok = Seq((1L, 3L), (1L, 1L), (1L, 2L)).toDF("o", "p")
      .groupBy("o").agg(sort_array(collect_set(col("p"))).as("parts"))
      .select(explode(GraftFunctions.sortedPairs(spark, col("parts")))
        .as("q"))
      .select(col("q.a"), col("q.b")).as[(Long, Long)].collect().sorted
    assert(ok.toSeq == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  private val emb = Seq((1L, Seq(1.0f, 0.0f))).toDF("id", "embedding")

  test("an empty centroid list fails before any job runs") {
    val (_, jobs) = JobCount(spark) {
      intercept[IllegalArgumentException](Similarity.assignToCentroids(
        emb, col("embedding"), col("id"), Nil))
      intercept[IllegalArgumentException](
        CentroidAssignExpr(Bridge.expression(col("embedding")), Nil))
    }
    assert(jobs == 0)
  }

  test("an empty PQ codebook or sub-codebook fails before any job runs") {
    val sub = Seq((0L, Seq(1.0)), (1L, Seq(0.0)))
    val (_, jobs) = JobCount(spark) {
      intercept[IllegalArgumentException](Similarity.pqCodes(
        emb, col("embedding"), col("id"), Nil, 1))
      intercept[IllegalArgumentException](Similarity.pqCodes(
        emb, col("embedding"), col("id"), Seq(sub, Nil), 1))
      intercept[IllegalArgumentException](
        PqEncodeExpr(Bridge.expression(col("embedding")), Nil, 1))
      intercept[IllegalArgumentException](
        PqEncodeExpr(Bridge.expression(col("embedding")), Seq(Nil, sub), 1))
    }
    assert(jobs == 0)
  }
}
