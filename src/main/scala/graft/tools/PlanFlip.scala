package graft.tools

/** Diagnostic: run named queries N times each, print the DISTINCT
  * post-execution plan shapes observed (full shape string, not just the
  * hash) so an AQE-multistable row's flipping exchange can be located.
  * Usage: PlanFlip <reps> <query...>  (SPARK_GRAFT_SF_DIR for data).
  * Not part of the library surface.
  */
object PlanFlip {
  def main(args: Array[String]): Unit = {
    val reps = args.head.toInt
    val names = args.tail
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local()
    for (name <- names) {
      // shape -> (its graft.Bench fingerprint, times seen): the canonical
      // form is Bench's own, so this probe cannot disagree with the
      // tripwire it adjudicates
      val shapes = scala.collection.mutable.LinkedHashMap[String, (String, Int)]()
      for (_ <- 1 to reps) {
        try {
          val df = graft.util.Consume.frame(
            graft.SparkEntry.queries(name)(spark, sfDir))
          df.collect()
          val s = graft.Bench.planShape(df.queryExecution.executedPlan)
          shapes(s) = (graft.Bench.fingerprint(df), shapes.get(s).fold(0)(_._2) + 1)
        } catch { case e: Throwable =>
          System.err.println(s"[planflip] $name failed: $e")
        }
        // bench-faithful cache lifecycle: the cache persists ACROSS a
        // query's reps (Bench clears only after both timed runs), so
        // cache-warm-state-dependent AQE decisions reproduce here
      }
      spark.catalog.clearCache()
      println(s"== $name: ${shapes.size} distinct shapes over $reps runs " +
        shapes.values.map(_._1).mkString("[", " ", "]"))
      shapes.zipWithIndex.foreach { case ((s, (_, n)), i) =>
        println(s"-- shape $i (x$n):")
        // indent nested structure for readability
        println(s.replace("(", "(\n").replace(")", "\n)")
          .linesIterator.filter(_.trim.nonEmpty).mkString("\n"))
      }
    }
    spark.stop()
  }
}
