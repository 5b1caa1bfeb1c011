package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one scale-adaptive partition rule (`Fs.partitionsFor`) that sizes
  * both the batch queries' shuffle width and the stateful streams'. */
class FsSpec extends AnyFunSuite {

  test("partition rule: one per 16 MB of directory bytes, floor 4, cap 512") {
    val MB = 1L << 20
    val root = java.nio.file.Files.createTempDirectory("fs-spec")
    try {
      assert(Fs.partitionsFor(root.resolve("absent").toString) === 4)
      assert(Fs.partitionsFor(root.toString) === 4)
      // sized with setLength, so the files need not hold real bytes
      def sized(name: String, bytes: Long): Unit = {
        val f = new java.io.RandomAccessFile(root.resolve(name).toFile, "rw")
        try f.setLength(bytes) finally f.close()
      }
      sized("a", 16 * MB + 1)
      assert(Fs.partitionsFor(root.toString) === 4)
      // nested files count too: 16 MB + 1 + (84 MB - 1) = 100 MB → 7
      java.nio.file.Files.createDirectories(root.resolve("sub"))
      sized("sub/b", 84 * MB - 1)
      assert(Fs.partitionsFor(root.toString) === 7)
      assert(Fs.partitionsForBytes(1000L * 512 * 16 * MB) === 512)
    } finally Fs.deleteRecursively(root)
  }
}
