package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FSDataInputStream, FileSystem, LocalFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Local filesystem that runs [[HookedLocalFileSystem.beforeOpen]]
  * before every open, so a spec can land a concurrent writer's step
  * between two reads deterministically. It never moves a file that
  * fails its checksum aside (the stock local filesystem may). */
class HookedLocalFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    HookedLocalFileSystem.beforeOpen(f)
    super.open(f, bufferSize)
  }
  override def reportChecksumFailure(p: Path, in: FSDataInputStream,
      inPos: Long, sums: FSDataInputStream, sumsPos: Long): Boolean = false
}

object HookedLocalFileSystem {
  @volatile var beforeOpen: Path => Unit = _ => ()
}

/** The version hint's read side against a commit landing mid-read. */
class VersionHintSpec extends AnyFunSuite {

  test("readVersionHint retries while a stale .crc sidecar is replaced") {
    val dir = Files.createTempDirectory("version-hint-spec")
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[HookedLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val fs = FileSystem.get(dir.toUri, conf)
    val metadataDir = new Path(dir.toUri)
    val hint = new Path(metadataDir, "version-hint.text")
    try {
      // hint "7" with its checksum, then the bytes of "8" without one:
      // the state a reader sees after a writer renamed the new hint
      // but before it renamed the new checksum over the old
      IcebergSnapshot.writeVersionHint(metadataDir, 7, fs)
      Files.write(dir.resolve("version-hint.text"),
        "8\n".getBytes(StandardCharsets.UTF_8))
      intercept[ChecksumException](IcebergSnapshot.readText(hint, conf))

      // the writer's second rename lands between the first read and
      // its retry
      var opens = 0
      HookedLocalFileSystem.beforeOpen = { p =>
        if (p.getName == "version-hint.text") {
          opens += 1
          if (opens == 2) {
            IcebergSnapshot.writeVersionHint(new Path(metadataDir, "fresh"), 8, fs)
            Files.move(dir.resolve("fresh/.version-hint.text.crc"),
              dir.resolve(".version-hint.text.crc"),
              StandardCopyOption.REPLACE_EXISTING)
          }
        }
      }
      assert(IcebergSnapshot.readVersionHint(metadataDir, conf) === 8)
      assert(opens === 2)
    } finally {
      HookedLocalFileSystem.beforeOpen = _ => ()
      fs.delete(metadataDir, true)
      fs.close()
    }
  }
}
