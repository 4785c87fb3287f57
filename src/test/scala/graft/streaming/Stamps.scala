package graft.streaming

import graft.util.{AtomicPointer, GroupManifest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Spec access to a group manifest's layout stamp: read it, rewrite it as
  * another engine's would be, or drop the field as a manifest written
  * before the field existed; and the files under a dir, to show that a
  * refused or read-only call wrote nothing.
  */
object Stamps {
  private def pointer(dir: String) = new Path(dir, "CURRENT")

  def layout(spark: SparkSession, dir: String): Option[String] =
    AtomicPointer.read(spark.sparkContext.hadoopConfiguration, pointer(dir))
      .map(GroupManifest.parse(_).layout)

  private def rewrite(spark: SparkSession, dir: String)(f: String => String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    AtomicPointer.commit(conf, pointer(dir), f(AtomicPointer.read(conf, pointer(dir)).get))
  }

  def restamp(spark: SparkSession, dir: String, layout: String): Unit =
    rewrite(spark, dir)(s => GroupManifest.parse(s).copy(layout = layout).json)

  def dropLayoutField(spark: SparkSession, dir: String): Unit = rewrite(spark, dir) { s =>
    val n = graft.repl.Json.parse(s).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(n.remove("layout") != null)
    n.toString
  }

  /** Every path under `dir`, relative to it (empty for a missing dir). */
  def files(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Set.empty
    else {
      val walk = java.nio.file.Files.walk(root)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator()).asScala
        .map(root.relativize(_).toString).filter(_.nonEmpty).toSet
      finally walk.close()
    }
  }
}
