package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query-name filter for fast local
    // iteration (the driver always passes exactly two args → run all).
    val only: String => Boolean =
      if (args.length > 2) { val s = args(2).split(",").toSet; s.contains }
      else _ => true
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(e => only(e._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators that persist intermediates must not accumulate across
      // ~100 queries and squeeze the later ones' memory (Bench does the
      // same; see the round-2 repl-timing incident in its scaladoc)
      spark.catalog.clearCache()
    }
    // repl.Json escapes ALL control chars — a tab or CR in an oracle's SQL
    // would otherwise make the comparer's json.load fail.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${repl.Json.str(k)}: ${repl.Json.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
