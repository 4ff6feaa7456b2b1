package graft.perfbench

import java.nio.file.{Files, Path}

/** File-tree helpers for the run directory. */
object Fs {
  def listFiles(p: Path): Seq[Path] = {
    val st = Files.list(p)
    try st.toArray.toSeq.map(_.asInstanceOf[Path]) finally st.close()
  }

  /** Bytes in the regular files under `p`, hidden (checksum) files excluded. */
  def dirBytes(p: Path): Long = {
    val st = Files.walk(p)
    try st.toArray.toSeq.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith("."))
      .map(Files.size).sum
    finally st.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.toArray.toSeq.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount)
      .foreach(Files.delete)
    finally st.close()
  }
}
