package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.types.StructType

/** Row-level plumbing for the crawl engine, which keeps its state as RDDs
  * of rows and reads them back as DataFrames. The session's
  * `internalCreateDataFrame` is `private[sql]`; this object only exposes
  * what the engine needs.
  */
object GraftRows {

  /** The rows of `df` (the RDD of its physical plan, run as one SQL
    * execution). Rows may be reused buffers: copy a row to keep it.
    */
  def rows(df: DataFrame): RDD[InternalRow] = {
    val qe = df.queryExecution.asInstanceOf[QueryExecution]
    SQLExecution.withNewExecutionId(qe, Some("rows"))(qe.toRdd)
  }

  /** The rows of same-schema RDDs as ONE scan: a plan over it has one
    * whole-stage-codegen stage however many RDDs there are (a union of
    * scans has one stage, and one generated class, per branch).
    */
  def scan(spark: SparkSession, rdds: Seq[RDD[InternalRow]], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdds match {
      case Seq()  => spark.sparkContext.emptyRDD[InternalRow]
      case Seq(r) => r
      case _      => spark.sparkContext.union(rdds)
    }, schema)
}
