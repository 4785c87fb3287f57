package graft.util

import graft.repl.Json
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

/** One data file of a table version: its path under the table dir and
  * its size.
  */
final case class DataFile(path: String, bytes: Long)

/** One committed version of a table: the files it is made of, the schema
  * it was written with (the partition column included) and the partition
  * column. `id` names the table across renames and drops, so a pinned
  * epoch can find the files of a version it recorded; `version` counts
  * the table's commits.
  */
final case class TableManifest(version: Long, id: String, partCol: Option[String],
                               schema: StructType, files: Seq[DataFile]) {
  /** The columns stored in the files; partition values live in dir names. */
  def dataSchema: StructType = StructType(schema.filterNot(f => partCol.contains(f.name)))

  def json: String =
    s"""{"version":$version,"id":${Json.str(id)},""" +
    s""""partCol":${partCol.fold("null")(Json.str)},"schema":${schema.json},""" +
    files.map(f => s"""{"path":${Json.str(f.path)},"bytes":${f.bytes}}""")
      .mkString(""""files":[""", ",", "]}")
}

object TableManifest {
  def parse(json: String): TableManifest = parse(Json.parse(json))

  def parse(n: com.fasterxml.jackson.databind.JsonNode): TableManifest = {
    import scala.jdk.CollectionConverters._
    TableManifest(n.get("version").asLong, n.get("id").asText,
      Option(n.get("partCol")).filterNot(_.isNull).map(_.asText),
      DataType.fromJson(n.get("schema").toString).asInstanceOf[StructType],
      n.get("files").asScala.toSeq.map(f => DataFile(f.get("path").asText, f.get("bytes").asLong)))
  }
}

/** Named table versions that become visible together: one group commit
  * swaps them all, so a reader sees every table old or every table new.
  * `tables` maps each name to its version (None: a table read live, with
  * no manifest); `retired` names tables an earlier version held that may
  * still be on disk, for the committer's retention. `layout` stamps what
  * the tables' rows were computed under (a streamed index's hash family,
  * bucketing or quantizer), committed by the same pointer write as the
  * rows; "" for an unstamped group, and for a manifest written before the
  * field existed.
  */
final case class GroupManifest(batchId: Long, version: Long,
                               tables: Seq[(String, Option[TableManifest])],
                               retired: Seq[String] = Nil, layout: String = "") {
  def json: String =
    s"""{"batchId":$batchId,"version":$version,"layout":${Json.str(layout)},""" +
    tables.map { case (t, m) => s"""{"name":${Json.str(t)},"manifest":${m.fold("null")(_.json)}}""" }
      .mkString(""""tables":[""", ",", "],") +
    retired.map(Json.str).mkString(""""retired":[""", ",", "]}")
}

object GroupManifest {
  import scala.jdk.CollectionConverters._

  def parse(json: String): GroupManifest = {
    val n = Json.parse(json)
    GroupManifest(n.get("batchId").asLong, n.get("version").asLong, tables(n),
      n.get("retired").asScala.toSeq.map(_.asText),
      Option(n.get("layout")).fold("")(_.asText))
  }

  /** The `tables` of a group manifest's JSON object. */
  def tables(n: com.fasterxml.jackson.databind.JsonNode): Seq[(String, Option[TableManifest])] =
    n.get("tables").asScala.toSeq.map { t =>
      t.get("name").asText -> Option(t.get("manifest")).filterNot(_.isNull).map(TableManifest.parse)
    }
}

/** The one versioned-table core: a table version is a [[TableManifest]]
  * committed through [[AtomicPointer]], a set of coupled versions is a
  * [[GroupManifest]] committed the same way, and a version reads as a
  * relation over exactly the files its manifest names. Both commits are
  * bracketed by [[FaultPoints]] so the crash specs can stop a writer on
  * either side of the pointer swap. Users: [[graft.repl.DbCatalog]]
  * (a table per dir), [[graft.repl.DbEpochs]] (a db epoch is a group of
  * catalog tables) and [[DeltaView]] (a view's base and deltas are a
  * group of version dirs).
  */
object Manifests {

  /** A table's manifest pointer, inside the table dir (the `_` prefix
    * keeps it out of Spark's file index).
    */
  val ManifestFile = "_manifest"

  /** The table's committed manifest; None for a dir no commit made. */
  def readTable(conf: Configuration, dir: Path): Option[TableManifest] =
    AtomicPointer.read(conf, new Path(dir, ManifestFile)).map(TableManifest.parse)

  /** Commit `m` as the table's next version. */
  def commitTable(conf: Configuration, dir: Path, m: TableManifest): Unit = {
    FaultPoints.hit(FaultPoints.TableBeforeCommit, dir.getName)
    AtomicPointer.commit(conf, new Path(dir, ManifestFile), m.json)
    FaultPoints.hit(FaultPoints.TableAfterCommit, dir.getName)
  }

  /** Commit `g` under one pointer: every table of the group turns over at
    * once. The fault points get the pointer's dir.
    */
  def commitGroup(conf: Configuration, pointer: Path, g: GroupManifest): Unit = {
    FaultPoints.hit(FaultPoints.GroupBeforeCommit, pointer.getParent.toString)
    AtomicPointer.commit(conf, pointer, g.json)
    FaultPoints.hit(FaultPoints.GroupAfterCommit, pointer.getParent.toString)
  }

  /** The files one manifest names, under `dir`, as a relation over exactly
    * those files. The file index is built from the manifest's paths and
    * sizes, so no file is stat-ed or listed and no Spark job runs however
    * many files the version has; partition columns are still inferred
    * from the `col=value` dirs (typed by the schema where it names them),
    * and data columns read nullable, as in a plain directory read. A
    * version with no file keeps its schema, partition column included.
    */
  def readFiles(spark: SparkSession, dir: Path, m: TableManifest): DataFrame =
    if (m.files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(m.dataSchema ++ m.schema.filter(f => m.partCol.contains(f.name))))
    else {
      val base = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(dir)
      val files = m.files.map(f => new FileStatus(f.bytes, false, 1, 0L, 0L, new Path(base, f.path)))
      val known = files.map(s => s.getPath -> Array(s)).toMap
      val index = new InMemoryFileIndex(spark, files.map(_.getPath),
        Map("basePath" -> base.toString), Some(m.dataSchema), new FileStatusCache {
          override def getLeafFiles(p: Path): Option[Array[FileStatus]] = known.get(p)
          override def putLeafFiles(p: Path, leafFiles: Array[FileStatus]): Unit = ()
          override def invalidateAll(): Unit = ()
        })
      def nullable(t: DataType): DataType = t match {
        case s: StructType =>
          StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
        case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
        case mt: MapType => MapType(nullable(mt.keyType), nullable(mt.valueType), valueContainsNull = true)
        case other => other
      }
      val data = StructType(m.dataSchema.filterNot(f => index.partitionSchema.fieldNames.contains(f.name)))
      spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
        nullable(data).asInstanceOf[StructType], None, new ParquetFileFormat, Map.empty)(spark))
    }

  /** Data files under `dir` as Spark's file index sees them (names
    * starting with `.` or `_` are hidden, except `col=value` dirs), with
    * paths relative to `dir`; `scope` picks which top-level dirs to descend.
    */
  def listFiles(fs: FileSystem, dir: Path, scope: String => Boolean = _ => true): Seq[DataFile] = {
    def visible(n: String) = !n.startsWith(".") && !(n.startsWith("_") && !n.contains("="))
    def walk(d: Path, prefix: String): Seq[DataFile] =
      (try fs.listStatus(d).toSeq catch { case _: java.io.FileNotFoundException => Nil })
        .filter(s => visible(s.getPath.getName)).flatMap { s =>
          val rel = prefix + s.getPath.getName
          if (s.isFile) Seq(DataFile(rel, s.getLen))
          else if (prefix.nonEmpty || scope(s.getPath.getName)) walk(s.getPath, rel + "/")
          else Nil
        }
    walk(dir, "")
  }
}

/** Named fault points: the crash and chaos specs install a handler that
  * throws, or parks a forked victim until it is SIGKILLed, at the point
  * they choose. Production installs none, so every point is a no-op. The
  * handler gets the point and a label: the table dir's name around a
  * table commit, the group's dir around a group commit, the target dir
  * after an external-table sync copied files, the table after a JDBC
  * target's bootstrap or DDL write and before a JDBC merge's transaction
  * (its staging writes done).
  */
object FaultPoints {
  val TableBeforeCommit = "table.beforeCommit"
  val TableAfterCommit = "table.afterCommit"
  val GroupBeforeCommit = "group.beforeCommit"
  val GroupAfterCommit = "group.afterCommit"
  val ExtAfterCopy = "ext.afterCopy"
  val JdbcAfterWriteTable = "jdbc.afterWriteTable"
  val JdbcBeforeMergeTxn = "jdbc.beforeMergeTxn"

  private val none: (String, String) => Unit = (_, _) => ()
  @volatile private var handler: (String, String) => Unit = none

  def hit(point: String, label: String): Unit = handler(point, label)

  /** Install `h` for good (a forked victim that never returns). */
  def install(h: (String, String) => Unit): Unit = handler = h

  /** Run `body` with `h` installed, and uninstall it after. */
  def during[T](h: (String, String) => Unit)(body: => T): T = {
    handler = h
    try body finally handler = none
  }
}
