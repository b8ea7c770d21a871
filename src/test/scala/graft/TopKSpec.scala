package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The whole-operator Catalyst extension path: TopKPerKey logical node →
  * injected planner strategy → partial/final physical pair. Semantics are
  * pinned against Spark's own window formulation (the plan we replace), the
  * plan shape against the scale contract (partial reduction BEFORE the one
  * hash exchange, no Sort/Window anywhere).
  */
class TopKSpec extends AnyFunSuite {

  private def withExtSession[A](f: SparkSession => A): A =
    SparkSpec.withSession("local[4]", "4", "graft-topk-test")(f)

  // deterministic synthetic input: many keys, duplicate scores (ties), a
  // NULL score per key — spread over several partitions so the partial
  // phase genuinely merges across partitions in the final
  private def input(spark: SparkSession) = {
    import spark.implicits._
    spark.range(0, 2000, 1, 8)
      .select(
        (col("id") % 37).as("k"),
        col("id").as("uid"),
        when(col("id") % 53 === 0, lit(null))
          .otherwise((col("id") * 7919 % 101).cast("double")).as("score"))
  }

  test("perKey matches the row_number window formulation (ties + nulls)") {
    withExtSession { spark =>
      val df = input(spark)
      val got = org.apache.spark.sql.graft.TopK.perKey(
        df, Seq("k"), Seq(col("score").desc, col("uid").asc), k = 5)
      val want = df
        .withColumn("rn", row_number().over(
          Window.partitionBy("k").orderBy(col("score").desc, col("uid").asc)))
        .filter(col("rn") <= 5).drop("rn")
      assert(got.count() === want.count())
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }
  }

  test("k larger than every group keeps the whole input") {
    withExtSession { spark =>
      val df = input(spark)
      val got = org.apache.spark.sql.graft.TopK.perKey(
        df, Seq("k"), Seq(col("uid").asc), k = 1000)
      assert(got.count() === df.count())
    }
  }

  test("ascending order and k=1 selects each key's minimum") {
    withExtSession { spark =>
      val df = input(spark)
      val got = org.apache.spark.sql.graft.TopK.perKey(
          df.filter(col("score").isNotNull), Seq("k"), Seq(col("score").asc, col("uid").asc), k = 1)
        .groupBy("k").agg(min("score").as("s"), count(lit(1)).as("c"))
      val want = df.filter(col("score").isNotNull)
        .groupBy("k").agg(min("score").as("s"))
      assert(got.filter(col("c") =!= 1).isEmpty)
      assert(got.select("k", "s").exceptAll(want).isEmpty)
    }
  }

  test("plan: partial below the single hash exchange, final above, no Sort/Window") {
    withExtSession { spark =>
      val df = org.apache.spark.sql.graft.TopK.perKey(
        input(spark), Seq("k"), Seq(col("score").desc, col("uid").asc), k = 3)
      df.count() // finalize any adaptive stages
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKeyPartial"), plan)
      assert(plan.contains("TopKPerKeyFinal"), plan)
      assert(plan.contains("Exchange hashpartitioning"), plan)
      // exactly the partial→exchange→final sandwich: in tree print the final
      // comes first, then the exchange, then the partial beneath it
      val fin = plan.indexOf("TopKPerKeyFinal")
      val ex = plan.indexOf("Exchange hashpartitioning", fin)
      val part = plan.indexOf("TopKPerKeyPartial", ex)
      assert(fin >= 0 && ex > fin && part > ex, plan)
      assert(!plan.contains("Window"), plan)
      assert(!"\\bSort\\b".r.findFirstIn(plan).isDefined, plan)
    }
  }

  test("unknown column name fails fast with the available columns listed") {
    withExtSession { spark =>
      val e = intercept[IllegalArgumentException] {
        org.apache.spark.sql.graft.TopK.perKey(
          input(spark), Seq("nope"), Seq(col("uid").asc), k = 1)
      }
      assert(e.getMessage.contains("nope") && e.getMessage.contains("uid"))
    }
  }
}
