package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.Assertions.assume

/** The reference repository snapshot: the real cassation volumes and the
  * HTML pages the goldens were recorded on. It lives outside this repo
  * and may be absent, so every spec that reads it goes through here and
  * CANCELS when it is missing — never a silent pass. Located by
  * `GRAFT_REFERENCE_DIR`, else `-Dgraft.reference.dir`, else its canonical
  * mount point.
  */
object ReferenceSnapshot {
  val dir: Path = Paths.get(sys.env.getOrElse("GRAFT_REFERENCE_DIR",
    sys.props.getOrElse("graft.reference.dir", "/root/reference")))

  /** Cancels the calling test unless `name` exists under [[dir]]. */
  def path(name: String): Path = {
    val p = dir.resolve(name)
    assume(Files.exists(p),
      s"reference snapshot absent at $p — set GRAFT_REFERENCE_DIR")
    p
  }

  def bytes(name: String): Array[Byte] = Files.readAllBytes(path(name))
}
