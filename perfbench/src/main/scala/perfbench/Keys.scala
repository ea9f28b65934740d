package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.Instant

/** Seeded keys and ids, so a run's inputs follow from its seed alone. */
object Keys {

  private def derive(seed: Long, label: String): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(s"perfbench/$label/$seed".getBytes("UTF-8"))

  /** The oracle's secret key, written where `Main.boot` loads it from. */
  def write(path: Path, seed: Long): Array[Byte] = {
    val key = derive(seed, "oracle")
    Files.write(path, key.map("%02x".format(_)).mkString.getBytes("UTF-8"))
    key
  }

  /** The coordinator's secret key (signs the NIP-98 headers). */
  def coordinator(seed: Long): Array[Byte] = derive(seed, "coordinator")

  /** A UUIDv7 at `at` whose random bits come from (seed, n). */
  def uuid7(at: Instant, seed: Long, n: Long): String = {
    val r = new java.util.Random(seed * 1000003L + n)
    graft.oracle.Uuid7.generateDeterministic(at, r.nextLong(), r.nextLong())
  }
}
