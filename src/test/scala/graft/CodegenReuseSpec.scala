package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** A generated class is compiled once per JVM under the production
  * session configuration: the codegen cache holds a working set far
  * beyond Spark's 100-entry default, and every session's tasks share one
  * ClassLoader, so neither a repeated round of many query shapes nor a
  * new or cloned session (a streaming micro-batch) compiles again.
  * Compiles are counted as the codegen compile-time histogram's count.
  */
class CodegenReuseSpec extends SparkSpec {

  private def compilesDuring(body: => Unit): Long = {
    val c0 = GraftSession.codegenCompiles()
    body
    GraftSession.codegenCompiles() - c0
  }

  test("a second pass over 150 distinct query shapes compiles nothing") {
    // the inlined multiplier makes each query's generated code distinct
    val queries = (1 to 150).map { i =>
      () => spark.range(0, 20, 1, 2).select((col("id") * i + 1).as("x")).collect()
    }
    val first = compilesDuring(queries.foreach(_()))
    assert(first >= 150, s"expected a class per query shape, compiled $first")
    val second = compilesDuring(queries.foreach(_()))
    assert(second === 0L, s"the second pass recompiled $second classes")
  }

  test("a new session and a streaming micro-batch reuse the compiled classes") {
    def query(s: SparkSession): Unit =
      s.range(0, 200, 1, 4).select((col("id") % 13).as("k"), (col("id") * 31).as("v"))
        .groupBy("k").agg(sum("v"), max("v")).collect()
    query(spark)
    val inNewSession = compilesDuring(query(spark.newSession()))

    val src = Tmp.dir("graft_codegen_src_").toString
    spark.range(3).write.mode("overwrite").parquet(src)
    val inBatch = new AtomicLong(-1L)
    val stream = spark.readStream.schema("id LONG").parquet(src)
      .writeStream
      .option("checkpointLocation", Tmp.dir("graft_codegen_ckpt_").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        inBatch.set(compilesDuring(query(batch.sparkSession)))
        ()
      }
      .start()
    stream.awaitTermination()
    assert((inNewSession, inBatch.get) === ((0L, 0L)),
      "(new session, micro-batch) recompiled the query's classes")
  }
}
