package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermission._

/** The one atomic file write of the engine (state documents, raster and
  * GeoTIFF layers, GRIB files, downloads, snapshot pointers): the bytes
  * land in a temp file in the target's own directory, then one rename puts
  * them in place (atomic on one filesystem) — a reader sees the old file
  * or the new one, never a torn one. The temp name is unique per call, so
  * a retried or speculative task writing the same target cannot
  * interleave bytes into a shared temp file before the move.
  */
object AtomicFile {

  def write(target: Path, bytes: Array[Byte]): Path = {
    val dir = target.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, s".${target.getFileName}.", ".tmp")
    // createTempFile makes 0600 and the move keeps it — these files are
    // published for downstream readers, so open them to 0644
    try Files.setPosixFilePermissions(tmp,
      java.util.EnumSet.of(OWNER_READ, OWNER_WRITE, GROUP_READ, OTHERS_READ))
    catch { case _: UnsupportedOperationException => () /* non-POSIX FS */ }
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
