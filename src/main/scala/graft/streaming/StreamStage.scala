package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.concurrent.TrieMap

/** Per-JVM memo of stream FEED-PREPARATION work. A real deployment's feed
  * files exist once — only their ARRIVAL repeats — but a re-run of a stream
  * query (benchmark reps, repeated server calls) was re-paying the
  * preparation jobs every time: the split writes that produce the arrival
  * files and the scalar scans (min-ts cuts) that decide the split. Staging
  * directories and cut values are built once per (tag, source dir); each
  * run still creates its own live watch directory and delivers the staged
  * files into it in arrival order, so micro-batch sequencing — the part
  * under test — is exercised identically every run.
  */
object StreamStage {
  // Memo keys include a FINGERPRINT of the source dir's parquet files
  // (name, length, mtime): regenerating the tables under the same path in
  // one JVM invalidates the memo instead of silently replaying stale
  // staged batches. Builds run under a lock — TrieMap.getOrElseUpdate may
  // evaluate its thunk more than once under concurrent first access,
  // which would duplicate Spark write jobs and orphan a staging dir.
  private type Key = (String, String, Long)
  private val dirs = TrieMap.empty[Key, Path]
  private val longs = TrieMap.empty[Key, Long]
  private val buildLock = new Object

  private def fingerprint(dir: String): Long = {
    val fs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    fs.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foldLeft(17L) { (h, f) =>
        ((h * 31 + f.getName.hashCode) * 31 + f.length) * 31 + f.lastModified
      }
  }

  // staged dirs live in /tmp for the JVM's lifetime; delete them on exit
  // so repeated short-lived JVMs don't accumulate orphaned staging trees
  sys.addShutdownHook {
    dirs.values.foreach(p => graft.core.Tables.deleteTree(p.toFile))
  }

  /** Memoized scalar (e.g. the min-ts split cut) per (tag, source dir). */
  def scalarOnce(tag: String, dir: String)(compute: => Long): Long = {
    val k = (tag, dir, fingerprint(dir))
    longs.get(k).getOrElse(buildLock.synchronized {
      longs.getOrElseUpdate(k, compute)
    })
  }

  /** Memoized staging directory holding the feed's batch files, built once
    * per (tag, source dir). `build` receives the empty directory. */
  def stagedOnce(tag: String, dir: String)(build: Path => Unit): Path = {
    val k = (tag, dir, fingerprint(dir))
    dirs.get(k).getOrElse(buildLock.synchronized {
      dirs.getOrElseUpdate(k, {
        val p = Files.createTempDirectory(s"graft_stage_${tag}_")
        build(p)
        p
      })
    })
  }

  /** Expose a source table inside a file-stream watch directory. The
    * driver-generated SFs are single parquet FILES (one symlink); the
    * ScaleUp corpora are Spark-written DIRECTORIES of part files — a
    * symlink to the directory itself is INVISIBLE to FileStreamSource's
    * non-recursive listing (the r13 9× oracle run caught six streaming
    * queries returning 0 rows this way), so link each part file
    * individually. With no maxFilesPerTrigger option set the source takes
    * every available file in ONE micro-batch, so watermark/state
    * semantics match the single-file case exactly. Link targets are
    * absolute: a relative target resolves against the LINK's directory,
    * so a relative `dir` would leave every link dangling. */
  def linkTable(watchDir: Path, dir: String, table: String): Unit = {
    val src = java.nio.file.Paths.get(s"$dir/$table.parquet").toAbsolutePath
    if (Files.isDirectory(src)) {
      val parts = Option(src.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      require(parts.nonEmpty, s"no parquet part files under $src")
      parts.zipWithIndex.foreach { case (f, i) =>
        Files.createSymbolicLink(
          watchDir.resolve(f"${table}_p$i%05d.parquet"), f.toPath)
      }
    } else
      Files.createSymbolicLink(watchDir.resolve(s"$table.parquet"), src)
  }

  /** Write one DataFrame as a single parquet file named `name` inside
    * `staged` — the standard batch-file layout the file-stream source
    * consumes one arrival at a time. */
  def writeBatchFile(df: org.apache.spark.sql.DataFrame, staged: Path,
      name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_stage_part_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    Files.move(part.toPath, staged.resolve(name))
    graft.core.Tables.deleteTree(tmp.toFile)
  }

  /** Deliver a staged batch file into a live watch directory (an arrival).
    * Hard link when the filesystem allows it; copy otherwise. */
  def deliver(staged: Path, watchDir: Path, name: String): Unit = {
    val target = watchDir.resolve(name)
    val src = staged.resolve(name)
    try Files.createLink(target, src)
    catch { case _: Exception =>
      Files.copy(src, target, StandardCopyOption.REPLACE_EXISTING); () }
  }
}
