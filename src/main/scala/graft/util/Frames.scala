package graft.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Tiny frame constructors shared by the streamed maintainers. */
object Frames {

  /** An empty DataFrame with exactly `schema` — the "view before any
    * commit" value every [[DeltaView]] reader needs.
    */
  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
}
