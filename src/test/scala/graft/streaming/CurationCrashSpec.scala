package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exactly-once across the COUPLED multi-view commit, proven under crash
  * injection, not by argument: CurationStream's three views (docs, sets,
  * bands) are one group commit. This spec SIGKILLs a real forked JVM on
  * either side of that commit's pointer swap, proves the views are all
  * old or all new, and proves the next ordinary trigger converges every
  * view to the sequential reference (the [[graft.repl]] kill-9 recipe
  * applied to the streaming plane).
  */
class CurationCrashSpec extends SparkSpec {

  private def fixtureDocs: DataFrame =
    graft.Tables(spark, sf()).documents
      .select(col("doc_id"), col("text"), col("source"))

  private def okOf(d: DataFrame): DataFrame = {
    val eligible = d.filter(
      TextAnalysis.langGuessExpr(col("text")) === "en" &&
      TextAnalysis.qualityKeepExpr(col("text")))
    val keep = Dedup.exact(eligible, col("text"), col("doc_id"))
      .select(col("keep_id").as("doc_id"))
    Dedup.lshIndexBuild(eligible.join(keep, Seq("doc_id"), "left_semi"),
      "text", "doc_id").ok
  }

  private def snapshot(dir: String): (Seq[String], Seq[String], Seq[String]) = {
    val Seq(docs, sets, bands) = CurationStream.views(spark, dir).read()
      .zip(Seq(CurationStream.DocsSchema, CurationStream.SetsSchema, CurationStream.BandsSchema))
      .map { case (v, schema) => v.getOrElse(graft.util.Frames.empty(spark, schema))
        .collect().map(_.toString).toSeq.sorted }
    (docs, sets, bands)
  }

  private def runWindow(window: String): Unit = {
    val root = java.nio.file.Files
      .createTempDirectory(s"graft-curcrash-$window").toString
    val d = fixtureDocs
    d.write.mode("overwrite").parquet(s"$root/docs_fixture.parquet")

    // fork the victim, wait for it to park INSIDE the window, SIGKILL
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        a.startsWith("--add-opens") || a.contains("=ALL-UNNAMED") ||
        a.startsWith("-D") || a.startsWith("-Xmx")).toSeq
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.streaming.CurationCrashVictim", root, window)
    val log = new java.io.File(root, "victim.log")
    val proc = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true).redirectOutput(log).start()
    try {
      val marker = java.nio.file.Paths.get(root, "_inwindow")
      val deadline = System.currentTimeMillis() + 240000
      while (!java.nio.file.Files.exists(marker) &&
             System.currentTimeMillis() < deadline && proc.isAlive)
        Thread.sleep(50)
      assert(java.nio.file.Files.exists(marker),
        s"victim never reached the $window window:\n" +
          scala.io.Source.fromFile(log).mkString.takeRight(2000))
      proc.destroyForcibly(); proc.waitFor()
    } finally if (proc.isAlive) { proc.destroyForcibly(); proc.waitFor() }

    // never torn: before the swap no view has committed, after it every
    // view is at batch 0
    val committed = CurationStream.views(spark, s"$root/views").read().map(_.isDefined)
    val batch = CurationStream.committedDelta(spark, s"$root/views").map(_._1)
    if (window == "before")
      assert(committed == Seq(false, false, false) && batch.isEmpty,
        s"expected no view committed, got $committed at $batch")
    else
      assert(committed == Seq(true, true, true) && batch.contains(0L),
        s"expected every view at batch 0, got $committed at $batch")

    // the victim died holding the views' writer lock: age its marker past
    // the staleness bound, as the clock would before a restarted
    // maintainer steals it
    val lock = new org.apache.hadoop.fs.Path(s"$root/views", graft.util.DeltaView.WriterLockFile)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(lock), "the commit runs under the writer lock")
    fs.setTimes(lock, System.currentTimeMillis() - graft.util.DeltaView.StaleMs - 60000, -1)

    // an ordinary replay of the SAME batch (what checkpoint recovery runs)
    // converges
    val ok = okOf(d).cache()
    CurationStream.applySignedBatchDelta(spark, s"$root/views", ok,
      d.select(lit("I").as("op"), col("doc_id"), col("text"),
        col("source")), batchId = 0L, capN = 15)

    // sequential reference: the same batch applied cleanly in a fresh dir
    val ref = java.nio.file.Files
      .createTempDirectory(s"graft-curcrash-ref-$window").toString
    CurationStream.applySignedBatchDelta(spark, s"$ref/views", ok,
      d.select(lit("I").as("op"), col("doc_id"), col("text"),
        col("source")), batchId = 0L, capN = 15)
    ok.unpersist()

    val got = snapshot(s"$root/views")
    val want = snapshot(s"$ref/views")
    assert(got._1 == want._1, s"docs view diverged after $window crash")
    assert(got._2 == want._2, s"sets view diverged after $window crash")
    assert(got._3 == want._3, s"bands view diverged after $window crash")
    assert(got._1.nonEmpty && got._2.nonEmpty && got._3.nonEmpty,
      "reference run admitted nothing — fixture too small?")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ref))
  }

  test("kill -9 before the group commit: replay converges") {
    runWindow("before")
  }

  test("kill -9 after the group commit: replay converges") {
    runWindow("after")
  }
}
