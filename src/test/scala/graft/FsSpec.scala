package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one scale-adaptive partition rule (`Fs.partitionsFor`) that sizes
  * the stateful streams' shuffle width, and the one home of directory
  * listings. */
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

  test("no file in src/main outside Fs lists or walks a directory") {
    import scala.jdk.CollectionConverters._
    // each returns a stream that holds a directory descriptor until it
    // is closed; Fs.list and Fs's walks close theirs
    val banned = """Files\.(list|walk|newDirectoryStream)\(""".r
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src", "main"))
    val hits = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Fs.scala")
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: $line"
        }
      }.toList
    finally walk.close()
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
