package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Filesystem façade for the standing-index METADATA protocols (validity
  * markers, `batch_<id>` commit listings, `_claims` id allocation,
  * compaction dir swaps, `_COMPACTED` high-water marks).
  *
  * Through round 11 these protocols used `java.io.File` /
  * `java.nio.file` directly, which silently scoped every standing index
  * to a LOCAL filesystem — fine in this sandbox, wrong for the 100 TB
  * deployments the indexes are designed for, where the index root is an
  * `hdfs://` (or `s3a://`) URI (r11 verdict task #3). All protocol I/O
  * now goes through the Hadoop `FileSystem` API: the filesystem is
  * resolved from each path's scheme (plain paths → the local FS, exactly
  * the old behavior; `hdfs://` roots → HDFS) using the active Spark
  * session's Hadoop configuration, so `fs.defaultFS` and credentials
  * follow the cluster config like every other Spark read/write.
  *
  * DECLARED ATOMICITY SCOPE — the protocols need two primitives beyond
  * plain read/write/list, and both are chosen for HDFS semantics:
  *
  *  - [[createExclusive]] (id claims): atomic create-if-absent of an
  *    empty FILE. Atomic on the local FS and on HDFS (`create` with
  *    overwrite=false is a single namenode op). NOT atomic on S3-family
  *    object stores (check-then-put races); there, concurrent AUTO-id
  *    appenders must be externally serialized — or simply name their
  *    batches (foreachBatch batchIds), which bypasses claims entirely
  *    and is the documented streaming path.
  *  - [[rename]] (compaction dir swaps): atomic directory rename on the
  *    local FS and HDFS. On S3 a "rename" is a copy+delete — crashing
  *    mid-swap can leave both or neither dir. Every compaction here is
  *    documented maintenance-window-only and rebuilds from source on a
  *    lost index (the state is derived), so the failure mode degrades to
  *    a rebuild, never wrong answers — but on object stores prefer
  *    rebuilding over compacting.
  *
  * Everything else (`_SUCCESS` probes, marker read/write, listings) is
  * plain metadata I/O with no atomicity requirement beyond what Spark's
  * own committers already assume of the store. */
object IndexFs {

  // Built once and cached: newHadoopConf() clones the full Spark+Hadoop
  // configuration map, and several protocols call IndexFs in driver-side
  // loops (commit checks per batch dir, claimBatchId retries per
  // candidate). Every call site in this library runs after the driver
  // session exists, so the first call captures the session's conf.
  // `getActiveSession` is THREAD-LOCAL: the first IndexFs call can land
  // on a user pool thread with no active session (concurrent claimBatchId
  // callers do exactly this), and caching `new Configuration()` there
  // would permanently drop the session's Hadoop config — s3a credentials,
  // HA namenode mappings — for all later metadata I/O on exactly the
  // cluster deployments this façade targets (r12 advisor find). So: fall
  // back to the JVM-GLOBAL default session, and NEVER cache the bare
  // no-session Configuration — retry until a session exists.
  @volatile private var conf0: Configuration = null
  private def conf: Configuration = {
    val c = conf0
    if (c != null) c
    else {
      val fromSession = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sessionState.newHadoopConf())
      fromSession match {
        case Some(built) => conf0 = built; built
        case None => new Configuration() // uncached: next call retries
      }
    }
  }

  private def fsOf(p: String): (FileSystem, Path) = {
    val path = new Path(p)
    val fs = path.getFileSystem(conf) match {
      // Local paths: use the RAW local filesystem. The default
      // LocalFileSystem is checksummed — every metadata write would grow
      // a `.crc` sidecar, and a marker later touched by anything OUTSIDE
      // this façade (tests, operators' rm) throws ChecksumException on
      // read. These are tiny self-describing metadata files; fingerprint
      // compare already catches torn writes, checksums buy nothing.
      case cfs: org.apache.hadoop.fs.ChecksumFileSystem => cfs.getRawFileSystem
      case other => other
    }
    (fs, path)
  }

  def exists(p: String): Boolean = {
    val (fs, path) = fsOf(p)
    fs.exists(path)
  }

  /** Child entry names of `p` (directories only if `dirsOnly`); empty if
    * `p` doesn't exist. */
  def childNames(p: String, dirsOnly: Boolean = false): Seq[String] = {
    val (fs, path) = fsOf(p)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(st => !dirsOnly || st.isDirectory)
      .map(_.getPath.getName)
  }

  def mkdirs(p: String): Unit = {
    val (fs, path) = fsOf(p)
    fs.mkdirs(path)
    ()
  }

  /** Recursive delete; a missing path is a no-op. THROWS when Hadoop
    * reports failure (`delete` → false on an EXISTING path) — a standing
    * index's reset ([[StandingIndex.reset]], the first step of every
    * ingest) deletes the stale sinks and metadata and the ensure then
    * writes the validity marker that blesses whatever survived; a
    * silently-failed delete there is exactly the stale-append pollution
    * the reset exists to prevent (r12 advisor find — mirrors rename's
    * throw-on-false contract). */
  def delete(p: String): Unit = {
    val (fs, path) = fsOf(p)
    if (!fs.delete(path, true) && fs.exists(path))
      sys.error(s"IndexFs.delete failed: $p still exists")
    ()
  }

  /** Rename `src` → `dst`, THROWING on failure — Hadoop `rename`
    * reports failure as `false` where `java.nio.Files.move` (the local
    * predecessor at every call site) threw, and the compaction swaps
    * that call this write high-water marks on the very next line: a
    * silently-failed swap must not be recorded as done (r12 review
    * find). Atomic on local/HDFS — see the scope note. */
  def rename(src: String, dst: String): Unit = {
    val (fs, s) = fsOf(src)
    if (!fs.rename(s, new Path(dst)))
      sys.error(s"IndexFs.rename failed: $src -> $dst")
  }

  /** Atomic create-if-absent of an empty file: true iff THIS call
    * created it. The claim primitive — see the scope note. (The local
    * predecessor was `File.mkdir`; HDFS `mkdirs` returns true on an
    * EXISTING dir, so dir creation cannot claim — files can.)
    *
    * Two implementations because atomicity lives in different places
    * (r12 review find): Hadoop's local `create(overwrite=false)` is an
    * exists-check then a plain open — NOT exclusive — so local paths go
    * through NIO `Files.createFile` (O_EXCL, one syscall); on HDFS
    * `create(overwrite=false)` is a single atomic namenode op. Losing
    * the race returns false; any OTHER I/O error (namenode down,
    * permissions) PROPAGATES — swallowing it would spin claimBatchId's retry
    * loop forever on a broken filesystem. */
  def createExclusive(p: String): Boolean = {
    val (fs, path) = fsOf(p)
    fs match {
      case _: org.apache.hadoop.fs.RawLocalFileSystem =>
        val local = java.nio.file.Paths.get(path.toUri.getPath)
        try { java.nio.file.Files.createFile(local); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case _ =>
        try fs.createNewFile(path)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
    }
  }

  def readStringOpt(p: String): Option[String] = {
    val (fs, path) = fsOf(p)
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, "UTF-8"))
      } finally in.close()
    }
  }

  def writeString(p: String, s: String): Unit = {
    val (fs, path) = fsOf(p)
    val out = fs.create(path, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
    ()
  }

  /** Recursive (path, length, mtime) stats under `p`, name-ordered — the
    * [[Standing.fingerprint]] walk. A missing path yields one (p, 0, 0)
    * row, matching the local predecessor's behavior for absent inputs. */
  def statWalk(p: String): Seq[(String, Long, Long)] = {
    val (fs, path) = fsOf(p)
    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[(String, Long, Long)] =
      if (!st.isDirectory)
        Seq((st.getPath.toUri.getPath, st.getLen, st.getModificationTime))
      else fs.listStatus(st.getPath).sortBy(_.getPath.getName)
        .toSeq.flatMap(walk)
    if (!fs.exists(path)) Seq((new Path(p).toUri.getPath, 0L, 0L))
    else walk(fs.getFileStatus(path))
  }
}
