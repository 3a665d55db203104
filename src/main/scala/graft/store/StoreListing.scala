package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Driver-side listings of a stored table's files, shared by the
  * parquet stores ([[DurableStore]], [[FlowStore]]): metadata only,
  * never a Spark job.
  */
object StoreListing {
  /** A table's data file: not a `_` marker (`_SUCCESS`, `_commits`)
    * and not a hidden `.` sidecar (`.crc` twins).
    */
  def isDataFile(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    st.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  /** Whether the data bytes under `dir` are ≤ `cap` — one recursive
    * listing that stops as soon as the cap is exceeded, so a huge table
    * pays a bounded prefix of its file walk, never the whole listing. A
    * missing directory counts as small (nothing stored).
    */
  def bytesAtMost(fs: FileSystem, dir: Path, cap: Long): Boolean = {
    if (!fs.exists(dir)) return true
    var bytes = 0L
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      if (isDataFile(st)) {
        bytes += st.getLen
        if (bytes > cap) return false
      }
    }
    true
  }
}
