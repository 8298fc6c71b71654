package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

/** Hadoop's `FileSystem` mutators report failure by RETURNING FALSE:
  * unchecked, a failed step cascades (a swap deletes the only complete
  * copy, a fence is written over rows not cleared). These throw instead.
  */
private[streaming] object CheckedFs {
  def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed (returned false)")

  def mkdirs(fs: FileSystem, p: Path): Unit =
    if (!fs.mkdirs(p))
      throw new java.io.IOException(s"mkdirs $p failed (returned false)")

  /** Deletes `p` recursively; a path that is already gone is fine. */
  def delete(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true))
      throw new java.io.IOException(s"delete $p failed (returned false)")
}
