package graft.repl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** External-table replication: distributed copy-if-changed file sync — the
  * engine's form of the reference's distcp-based external-table path
  * (`/root/reference/HQL/replextload.hql:5-11`: 128 threads, 500 copy
  * tasks, `distcp -update -skipcrccheck -pugprb`;
  * `beeline_functions.sh:203-209` selects it when
  * `INCLUDE_EXTERNAL_TABLES=true`).
  *
  * Semantics of `-update` (copy only if changed) are re-created by
  * comparing (size, mtime) manifests of source and target; the diff is a
  * join and the copy runs as `foreachPartition` tasks over the diff
  * DataFrame. File lists are DataFrames end-to-end: the driver only ever
  * lists the FIRST directory level (each subtree is walked lazily inside an
  * executor task), and the copy list is never collected — at millions of
  * changed files nothing driver-side grows with the file count.
  */
object ExtCopy {

  /** Recursive file manifest of a directory as (rel_path, size, mtime).
    * Distributed: the driver lists one level to find subtrees, then each
    * subtree streams through `fs.listFiles(_, recursive)` inside a task.
    */
  def listFiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(new Path(dir))
    // NOTE: string-prefix relativization, not URI.relativize — the latter
    // silently returns the ABSOLUTE uri when the base lacks a trailing
    // slash, which would make the copy write sources onto themselves.
    val prefix = base.toString + "/"
    if (!fs.exists(base))
      return Seq.empty[(String, Long, Long)].toDF("rel_path", "size", "mtime")
    val top = fs.listStatus(base).toSeq
    val topFiles = top.filter(_.isFile)
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .toDF("rel_path", "size", "mtime")
    val subDirs = top.filter(_.isDirectory).map(_.getPath.toString)
    if (subDirs.isEmpty) return topFiles
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val subFiles = spark.sparkContext
      .parallelize(subDirs, math.min(subDirs.length, 64))
      .flatMap { d =>
        val p = new Path(d)
        val it = p.getFileSystem(conf.value).listFiles(p, true)
        new Iterator[(String, Long, Long)] { // stream, never buffer a subtree
          override def hasNext: Boolean = it.hasNext
          override def next(): (String, Long, Long) = {
            val f = it.next()
            val full = f.getPath.toString
            require(full.startsWith(prefix), s"$full outside $prefix")
            (full.substring(prefix.length), f.getLen, f.getModificationTime)
          }
        }
      }
      .toDF("rel_path", "size", "mtime")
    topFiles.unionByName(subFiles)
  }

  /** Files present in `src` but missing or different (size or newer mtime)
    * in `dst` — the `-update` predicate.
    */
  def diff(src: DataFrame, dst: DataFrame): DataFrame =
    src.as("s").join(dst.as("d"), col("s.rel_path") === col("d.rel_path"), "left")
      .filter(col("d.rel_path").isNull ||
        col("s.size") =!= col("d.size") || col("s.mtime") > col("d.mtime"))
      .select(col("s.rel_path").as("rel_path"))

  /** Distributed copy of the `-update` delta from srcDir to dstDir.
    * Returns (copied, skipped) counts. Idempotent: re-running after a
    * partial failure re-diffs and copies only what is still missing. The
    * delta stays distributed: repartitioned to `parallelism` copy tasks and
    * executed with `foreachPartition` — the reference's 128-thread/500-task
    * knobs collapse to this one task-parallelism setting.
    *
    * Attribute preservation mirrors distcp's `-pugprb`
    * (`/root/reference/HQL/replextload.hql:9`): permission bits are copied,
    * owner/group are attempted (requires superuser on real HDFS — best
    * effort, like distcp without it), and each target file is created with
    * the SOURCE's replication factor and block size (meaningful on HDFS,
    * inert locally). mtime is preserved so the next `-update` diff sees
    * source and target equal.
    *
    * `verify = true` adds the END-TO-END content check the reference
    * explicitly turns OFF (`-skipcrccheck`, `replextload.hql:10` — its CRC
    * choice is a knob; so is the engine's): after the copy, THIS SYNC'S
    * copied files are re-read at BOTH ends, digested (48-bit md5 prefix —
    * the engine's cross-system h48, [[graft.util.TextPrep.h48]]), and any
    * mismatch fails the sync before a watermark can commit over a corrupt
    * replica. Verification is scoped to the copied delta — the same scope
    * distcp's CRC check has — so an incremental sync never re-reads the
    * whole corpus; [[audit]] is the full-tree entry point. Mismatched
    * target files are DELETED before the failure surfaces: a replica
    * corrupted with size+mtime preserved is invisible to the `-update`
    * diff, so without the delete every retry would skip the bad file and
    * fail forever — after it, the next sync's diff re-copies it and the
    * retry loop converges.
    */
  def sync(spark: SparkSession, srcDir: String, dstDir: String,
           parallelism: Int = 32, verify: Boolean = false): (Long, Long) = {
    val src = listFiles(spark, srcDir)
    val total = src.count()
    val toCopy = diff(src, listFiles(spark, dstDir))
      .repartition(math.max(1, parallelism))
      .persist() // one listing feeds both the count and the copy job
    try {
      val n = toCopy.count()
      if (n > 0) {
        val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
        val srcB = srcDir
        val dstB = dstDir
        toCopy.foreachPartition { (rows: Iterator[Row]) =>
          val c: Configuration = conf.value
          rows.foreach { row =>
            val rel = row.getString(0)
            val from = new Path(srcB, rel)
            val to = new Path(dstB, rel)
            val sfs = from.getFileSystem(c)
            val tfs = to.getFileSystem(c)
            tfs.mkdirs(to.getParent)
            val st = sfs.getFileStatus(from)
            val in = sfs.open(from)
            try {
              // source replication + block size carry over (distcp -rb)
              val out = tfs.create(to, true,
                c.getInt("io.file.buffer.size", 4096),
                st.getReplication, math.max(st.getBlockSize, 1L << 20))
              try {
                val buf = new Array[Byte](1 << 20)
                var k = in.read(buf)
                while (k >= 0) { if (k > 0) out.write(buf, 0, k); k = in.read(buf) }
              } finally out.close()
            } finally in.close()
            // distcp -p: permission bits; -ug: owner/group (superuser-only
            // on real HDFS — attempted, never fatal, as with distcp)
            tfs.setPermission(to, st.getPermission)
            try tfs.setOwner(to, st.getOwner, st.getGroup)
            catch { case _: Exception => () }
            // preserve mtime so the next -update diff sees them equal
            tfs.setTimes(to, st.getModificationTime, -1)
          }
        }
        graft.util.FaultPoints.hit(graft.util.FaultPoints.ExtAfterCopy, dstDir)
      }
      if (verify && n > 0)
        failOnMismatches(spark, dstDir,
          digestMismatchesFor(spark, srcDir, dstDir, toCopy, parallelism))
      (n, total - n)
    } finally toCopy.unpersist()
  }

  /** Full-tree integrity audit: digest EVERY source file at both ends,
    * delete corrupt replicas (so the next sync re-copies them), and return
    * the mismatched rel_paths. This is the O(corpus)-read job — a scheduled
    * maintenance scan, deliberately NOT part of every sync (which verifies
    * only its own copied delta).
    */
  def audit(spark: SparkSession, srcDir: String, dstDir: String,
            parallelism: Int = 32): Seq[String] = {
    val bad = digestMismatches(spark, srcDir, dstDir, parallelism)
      .persist()
    try {
      val rels = bad.collect().map(_.getString(0)).toSeq
      if (rels.nonEmpty) deleteTargets(spark, dstDir, bad)
      rels
    } finally bad.unpersist()
  }

  /** Self-heal + fail: delete the mismatched target files (distributed),
    * then surface the failure with a bounded sample of paths. The load's
    * retry loop (or the next cycle) re-diffs and re-copies the deleted
    * files — without the delete, in-place corruption that preserves
    * size+mtime would be skipped by `-update` on every retry, forever.
    */
  private def failOnMismatches(spark: SparkSession, dstDir: String,
                               mismatches: DataFrame): Unit = {
    val bad = mismatches.persist()
    try {
      val count = bad.count()
      if (count > 0) {
        deleteTargets(spark, dstDir, bad)
        val sample = bad.limit(20).collect().map(_.getString(0))
        throw new IllegalStateException( // retryable: the delete makes re-copy possible
          s"digest verify failed for $count file(s) under $dstDir " +
          s"(corrupt replicas deleted for re-copy): ${sample.mkString(", ")}")
      }
    } finally bad.unpersist()
  }

  private def deleteTargets(spark: SparkSession, dstDir: String,
                            rels: DataFrame): Unit = {
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val dstB = dstDir
    rels.select("rel_path").foreachPartition { (rows: Iterator[Row]) =>
      val c: Configuration = conf.value
      rows.foreach { row =>
        val p = new Path(dstB, row.getString(0))
        p.getFileSystem(c).delete(p, false)
      }
    }
  }

  /** Files whose bytes differ between the two trees (or are missing on the
    * target): each source file is digested at both ends inside executor
    * tasks (48-bit md5 prefix, matching [[graft.util.TextPrep.h48]]'s
    * construction over bytes instead of strings) — a distributed full-read
    * verify, the job distcp runs when `-skipcrccheck` is off.
    */
  def digestMismatches(spark: SparkSession, srcDir: String, dstDir: String,
                       parallelism: Int = 32): DataFrame =
    digestMismatchesFor(spark, srcDir, dstDir,
      listFiles(spark, srcDir), parallelism)

  /** [[digestMismatches]] scoped to the given rel_paths (the per-sync form:
    * only this sync's copied delta is re-read, not the whole tree).
    */
  def digestMismatchesFor(spark: SparkSession, srcDir: String, dstDir: String,
                          rels: DataFrame, parallelism: Int = 32): DataFrame = {
    import spark.implicits._
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val srcB = srcDir
    val dstB = dstDir
    rels.select("rel_path").as[String]
      .repartition(math.max(1, parallelism))
      .mapPartitions { rels =>
        val c: Configuration = conf.value
        // Read RAW bytes through PRIVATE FileSystem instances: the digest
        // itself is the integrity check, and a replica corrupted in place
        // (the very case this detects) would otherwise throw
        // ChecksumException out of the local/checksum FS instead of
        // reporting a mismatch. setVerifyChecksum on the shared
        // FileSystem.get-cached instance would silently disable checksums
        // for every OTHER read in this JVM — so each task opens its own
        // instances and closes them when done.
        val owned = scala.collection.mutable.Map[String, org.apache.hadoop.fs.FileSystem]()
        def rawFs(p: Path): org.apache.hadoop.fs.FileSystem = {
          val key = String.valueOf(p.toUri.getScheme) + "@" +
            String.valueOf(p.toUri.getAuthority)
          owned.getOrElseUpdate(key, {
            val fs = org.apache.hadoop.fs.FileSystem.newInstance(
              p.getFileSystem(c).getUri, c)
            fs.setVerifyChecksum(false)
            fs
          })
        }
        def h48OfFile(p: Path): Option[Long] = {
          val fs = rawFs(p)
          if (!fs.exists(p)) None
          else {
            val md = java.security.MessageDigest.getInstance("MD5")
            val in = fs.open(p)
            try {
              val buf = new Array[Byte](1 << 20)
              var k = in.read(buf)
              while (k >= 0) { if (k > 0) md.update(buf, 0, k); k = in.read(buf) }
            } finally in.close()
            // first 12 hex digits of md5 = high 48 bits, as TextPrep.h48
            Some(md.digest().take(6).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL)))
          }
        }
        // materialize before closing the owned instances (iterators are lazy)
        val out = rels.flatMap { rel =>
          val s = h48OfFile(new Path(srcB, rel))
          val d = h48OfFile(new Path(dstB, rel))
          if (s == d) Iterator.empty else Iterator(rel)
        }.toVector
        owned.values.foreach(f => try f.close() catch { case _: Exception => () })
        out.iterator
      }.toDF("rel_path")
  }
}
