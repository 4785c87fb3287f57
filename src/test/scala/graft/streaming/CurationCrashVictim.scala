package graft.streaming

import graft.operators.{Dedup, TextAnalysis}
import graft.util.FaultPoints
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Forked-JVM victim for the coupled-view kill-9 spec: runs ONE signed
  * curation batch over a fixture corpus but parks forever at the group
  * commit's fault point named by `window` ("before" = every view written,
  * pointer not swapped; "after" = pointer swapped, retention not run),
  * signalling the parent via a marker file. The parent SIGKILLs it there —
  * a real hard crash of a real multi-view commit — then proves the views
  * are all old or all new and that replay converges to the sequential
  * reference.
  */
object CurationCrashVictim {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val window = args(1) // "before" | "after"
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val at = if (window == "before") FaultPoints.GroupBeforeCommit else FaultPoints.GroupAfterCommit
    FaultPoints.install { (point, _) =>
      if (point == at) {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(root, "_inwindow"))
        Thread.sleep(600000) // park: the parent kill -9s us here
      }
    }
    val d = spark.read.parquet(s"$root/docs_fixture.parquet")
    val eligible = d.filter(
      TextAnalysis.langGuessExpr(col("text")) === "en" &&
      TextAnalysis.qualityKeepExpr(col("text")))
    val keep = Dedup.exact(eligible, col("text"), col("doc_id"))
      .select(col("keep_id").as("doc_id"))
    val ok = Dedup.lshIndexBuild(
      eligible.join(keep, Seq("doc_id"), "left_semi"),
      "text", "doc_id").ok.cache()
    CurationStream.applySignedBatchDelta(spark, s"$root/views", ok,
      d.select(lit("I").as("op"), col("doc_id"), col("text"),
        col("source")), batchId = 0L, capN = 15)
  }
}
