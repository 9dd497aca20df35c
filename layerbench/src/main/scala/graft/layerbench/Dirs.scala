package graft.layerbench

import java.io.File

/** Local-filesystem helpers for the run's work directory. */
object Dirs {
  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  /** (path -> (size, mtime)) of every regular file below `root`. */
  def listing(root: String): Map[String, (Long, Long)] = {
    val out = Map.newBuilder[String, (Long, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.isFile) out += f.getPath -> ((f.length, f.lastModified))
    walk(new File(root))
    out.result()
  }

  /** Bytes in files that are new or changed between two listings. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, v @ (size, _)) if !before.get(p).contains(v) => size }.sum

  def size(root: String): Long = listing(root).valuesIterator.map(_._1).sum
}
