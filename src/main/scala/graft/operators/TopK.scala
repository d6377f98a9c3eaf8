package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/**
 * Scale-safe ranked top-K (SURVEY.md §2.6 O3; reference:
 * src/vectorizer/VectorizerKerasTokenizer.py:42-47).
 *
 * `orderBy(...).limit(k)` plans TakeOrderedAndProject — a per-partition
 * bounded heap merged on the driver, no shuffle of the full input — and
 * the <= k surviving rows are then ranked ON THE DRIVER (bounded by k).
 * The alternative, `row_number().over(Window.orderBy(...))` with no
 * partition key, funnels the ENTIRE input through a single task: correct
 * at sf0.1, a scale-killer at 100x. ScaleSpec audits the plan shape
 * (TakeOrderedAndProject present, no partitionless WindowExec).
 */
object TopK {

  /** The distributed part: orderBy+limit, planned as
    * TakeOrderedAndProject (asserted by ScaleSpec). */
  def top(df: DataFrame, k: Int, order: Seq[Column]): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** df ordered by `order`, cut to k rows, with a 1-based `rank` column
    * assigned in that order. k must be driver-bounded (top-K semantics —
    * the k rows are collected to assign ranks without a global window). */
  def ranked(df: DataFrame, k: Int, order: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    val top = this.top(df, k, order)
    val rows = top.collect() // TakeOrderedAndProject returns rows in order
    val schema = StructType(top.schema.fields :+
      StructField("rank", IntegerType, nullable = false))
    val ranked = rows.toSeq.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(ranked, 1), schema)
  }
}
