package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Driver-side listings of a stored table's files, shared by the
  * parquet stores ([[DurableStore]], [[FlowStore]]): metadata only,
  * never a Spark job.
  *
  * Every walk goes through `listStatus`, one directory at a time, the
  * way Spark's own file index lists. A recursive `listFiles` builds a
  * `LocatedFileStatus` per file, whose constructor reads the file's
  * permissions; on a local file system without the native Hadoop
  * library that read forks `ls -ld` once per file and directory.
  */
object StoreListing {
  /** A table's data file: not a `_` marker (`_SUCCESS`, `_commits`)
    * and not a hidden `.` sidecar (`.crc` twins).
    */
  def isDataFile(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    st.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  /** Every file under `dir`, recursively (the entries a recursive
    * `fs.listFiles` yields, in any order). Lazy: a caller
    * that stops early lists only the directories it reached. `dir`
    * must exist.
    */
  def files(fs: FileSystem, dir: Path): Iterator[FileStatus] =
    fs.listStatus(dir).iterator.flatMap { st =>
      if (st.isDirectory) files(fs, st.getPath) else Iterator.single(st)
    }

  /** The data bytes under `dir` when they are ≤ `cap`, else None — one
    * walk that stops as soon as the cap is exceeded, so a huge table
    * pays a bounded prefix of its listing, never the whole of it. A
    * missing directory holds 0 bytes.
    */
  def bytesUpTo(fs: FileSystem, dir: Path, cap: Long): Option[Long] = {
    if (!fs.exists(dir)) return Some(0L)
    var bytes = 0L
    val it = files(fs, dir)
    while (it.hasNext) {
      val st = it.next()
      if (isDataFile(st)) {
        bytes += st.getLen
        if (bytes > cap) return None
      }
    }
    Some(bytes)
  }
}
