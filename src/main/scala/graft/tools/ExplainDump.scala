package graft.tools

/** Dump `.explain("formatted")` of named declared queries to files —
  * the per-round plan evidence (`plans/r<n>/<query>_<tag>.txt`).
  * Usage: ExplainDump <outDir> <tag> <query...>
  * (SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench). Dev tool, not
  * part of the driver contract.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
          txt.getBytes("UTF-8"))
        println(s"[explain] wrote $outDir/${name}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: $e")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
