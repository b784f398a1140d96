package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** Generated inputs, kept between runs: a directory is written once,
  * under a temporary name, and renamed into place when complete.
  */
object Inputs {
  def ensure(dir: String)(write: String => Unit): Unit = {
    val target = new File(dir)
    if (!target.isDirectory) {
      val tmp = new File(s"$dir.tmp-${ProcessHandle.current().pid()}")
      delete(tmp)
      write(tmp.getPath)
      Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
