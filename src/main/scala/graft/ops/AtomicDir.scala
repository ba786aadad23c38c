package graft.ops

import java.io.{File, IOException}

/** T6 — the directory swap behind every commit (target table and sync
  * state): the live directory is parked at `<path>.bak` until the new one
  * is in place, so a crash at any step leaves either the old directory
  * (live, or parked at `.bak` and restored by [[restore]]) or the new one,
  * never nothing. */
object AtomicDir {

  /** Crash recovery: bring a parked `.bak` back when the live directory is
    * missing. Returns whether `path` exists afterwards. */
  def restore(path: String): Boolean = {
    val dst = new File(path)
    val bak = new File(path + ".bak")
    if (!dst.exists() && bak.exists()) bak.renameTo(dst)
    dst.exists()
  }

  /** Replace `path` with the fully written directory `tmp`. */
  def swap(tmp: String, path: String): Unit = {
    val dst = new File(path)
    val bak = new File(path + ".bak")
    if (bak.exists()) rm(bak)
    if (dst.exists() && !dst.renameTo(bak))
      throw new IOException(s"could not park $path at .bak")
    if (!new File(tmp).renameTo(dst)) {
      bak.renameTo(dst) // restore
      throw new IOException(s"atomic rename $tmp -> $path failed")
    }
    if (bak.exists()) rm(bak)
  }

  private def rm(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }
}
