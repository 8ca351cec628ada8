package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions

class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // literal frames fold into LocalRelation before the rule can be
  // observed, so plan assertions run over a real parquet scan
  private lazy val emb = {
    Tables.register(spark, "/root/testdata/sf0.001")
    spark.table("embeddings")
  }

  test("HOF dot-product fold rewrites to the codegen expression") {
    val df = emb.select(VectorFunctions.vecDotHof(col("embedding"), col("embedding")).as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("vec_dot_fast"),
      "aggregate(zip_with(...)) should rewrite to VecDotExpr:\n" + optimized)
    // values match the direct VecDotExpr spelling exactly
    val viaRule = df.collect().map(_.getDouble(0)).toSeq
    val direct = emb.select(VectorFunctions.vecDot(col("embedding"), col("embedding")))
      .collect().map(_.getDouble(0)).toSeq
    assert(viaRule == direct && viaRule.nonEmpty)
  }

  test("SQL spelling rewrites too, with identical results") {
    val df = spark.sql(
      """SELECT aggregate(zip_with(embedding, embedding,
        |                          (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |                 CAST(0 AS DOUBLE), (s, v) -> s + v) AS d FROM embeddings""".stripMargin)
    assert(df.queryExecution.optimizedPlan.toString.contains("vec_dot_fast"))
    val direct = emb.selectExpr("vec_dot_fast(embedding, embedding) AS d")
    assert(df.collect().map(_.getDouble(0)).toSeq ==
      direct.collect().map(_.getDouble(0)).toSeq)
    // these contract queries have no impl: the rule alone gives their
    // declared SQL the kernel
    for (q <- Seq(QueryInventory.qv2, QueryInventory.qv4, QueryInventory.ql4)) {
      val plan = spark.sql(q.sparkSql).queryExecution.optimizedPlan.toString
      assert(plan.contains("vec_dot_fast"), s"${q.name} lost the dot kernel:\n$plan")
    }
  }

  test("rewrite preserves golden values and null semantics") {
    // golden through the rule (literal data: values only, no plan check)
    val docs = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val d = docs.select(VectorFunctions.vecDotHof(col("a"), col("b")).as("d"))
      .collect().head.getDouble(0)
    assert(d == 32.0)
    // dim mismatch -> NULL in both spellings
    val mm = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    assert(mm.select(VectorFunctions.vecDotHof(col("a"), col("b"))).collect().head.isNullAt(0))
    assert(mm.select(VectorFunctions.vecDot(col("a"), col("b"))).collect().head.isNullAt(0))
  }

  test("non-matching folds are left untouched") {
    // different init value: not a dot product, must NOT rewrite
    val df = emb.select(
      aggregate(zip_with(col("embedding"), col("embedding"), (x, y) =>
        x.cast("double") * y.cast("double")),
        lit(1.0), (s, v) => s + v).as("d"))
    assert(!df.queryExecution.optimizedPlan.toString.contains("vec_dot_fast"))
  }
}
