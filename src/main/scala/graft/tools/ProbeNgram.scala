package graft.tools

import graft.Tables

/** A/B probe: ngramJaccardPairs at a given dir with a scale-appropriate
  * df cap (BENCH_sf1's cap-200 convention), consumption-faithful. Dev
  * tool, not part of the driver contract.
  */
object ProbeNgram {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1")
    val cap = if (args.length > 1) args(1).toInt else 200
    val spark = graft.Session.local()
    val docs = Tables(spark, dir).documents
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      val n = graft.util.Consume.checksum(
        graft.operators.Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          3, 0.5, maxShingleDf = cap))
      println(f"[probe-ngram] rep$i cap=$cap checksum=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
