package graft

/** Local-filesystem helpers shared by the mains and the operators. */
private[graft] object LocalFiles {

  /** Delete `f` and, if it is a directory, everything under it; a
    * missing path is a no-op. `listFiles()` returns null on an I/O
    * error: that subtree is skipped rather than thrown on, so a
    * caller's `finally` or `catch` cleanup does not fail on it. */
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete(); ()
  }
}
