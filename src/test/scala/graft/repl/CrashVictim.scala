package graft.repl

import graft.util.FaultPoints
import org.apache.spark.sql.SparkSession

/** Forked-JVM victim for the kill-9 crash test: replays an incremental
  * dump but parks forever at the merge's commit point (new data files
  * written, manifest not yet committed), signalling the parent via a marker
  * file. The parent SIGKILLs it there — a REAL hard crash of a real replay
  * — and then proves the next cycle converges and deletes the orphaned files.
  */
object CrashVictim {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val dumpPath = args(1)
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    FaultPoints.install { (point, _) =>
      if (point == FaultPoints.TableBeforeCommit) {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(root, "_inwindow"))
        Thread.sleep(600000) // park: the parent kill -9s us here
      }
    }
    val target = DbCatalog(spark, s"$root/tgt")
    Load(spark, target,
      ReplConfig(dumpRoot = s"$root/dumps", rerunSleepMs = 10, incrRerun = 1))
      .replay(dumpPath)
  }
}
