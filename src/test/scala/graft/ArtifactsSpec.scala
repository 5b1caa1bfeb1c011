package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** The one home of derived artifacts: `Fs.staged` builds in a sibling
  * temp dir and renames it into place, `Fs.landingZone` writes one file
  * per part in mtime order, and no other file in `src/main` names the
  * artifact root, the completion marker or the scratch root. */
class ArtifactsSpec extends SparkTestBase {
  import spark.implicits._

  private val Kind = "artifacts_spec"

  /** A fresh artifact dir for `corpus`: whatever an earlier run left is
    * deleted, temp siblings included. */
  private def fresh(corpus: String): Path = {
    val dir = Fs.artifactDir(Kind, corpus)
    siblings(dir).foreach(n => Fs.deleteRecursively(dir.resolveSibling(n)))
    dir
  }

  /** Names in the artifact's parent dir that belong to it. */
  private def siblings(dir: Path): Set[String] =
    Option(dir.getParent.toFile.list()).fold(Set.empty[String])(_.toSet)
      .filter(_.startsWith(dir.getFileName.toString))

  private def marker(dir: Path): String =
    new String(Files.readAllBytes(dir.resolve("_complete")), "UTF-8")

  private def dataFiles(dir: Path): Seq[java.io.File] =
    dir.toFile.listFiles().filter(_.getName.startsWith("part-")).toSeq

  test("landingZone writes one file per part, mtimes increasing in part " +
      "order, and _complete holds the stamp") {
    val dir = fresh("zone3")
    var built = 0
    def parts = { built += 1; (0 until 3).map(i => spark.range(i * 10, i * 10 + 10).toDF("id")) }
    val out = Fs.landingZone(Kind, "zone3", "s1")(parts)
    assert(out === dir.toString && built === 1)
    val files = dataFiles(dir)
    assert(files.size === 3)
    // each file's smallest id names its part: 0, 10, 20
    val byPart = files.sortBy(f => spark.read.parquet(f.getPath).as[Long].collect().min)
    val mtimes = byPart.map(_.lastModified)
    assert(mtimes === mtimes.sorted && mtimes.distinct.size === 3, mtimes)
    assert(marker(dir) === "s1")

    // the same stamp builds nothing and touches nothing
    val before = files.map(f => f.getName -> f.lastModified).toMap
    assert(jobsDuring(Fs.landingZone(Kind, "zone3", "s1")(parts)) === 0)
    assert(built === 1)
    assert(dataFiles(dir).map(f => f.getName -> f.lastModified).toMap === before)

    // a changed stamp rebuilds
    Fs.landingZone(Kind, "zone3", "s2")(parts)
    assert(built === 2 && marker(dir) === "s2")
    assert(dataFiles(dir).size === 3)
    assert(siblings(dir) === Set(dir.getFileName.toString))
  }

  test("a build that throws leaves the previous version and no temp dir") {
    val dir = fresh("failing")
    Fs.staged(Kind, "failing", "v1")(p => Files.write(p.resolve("a"), Array[Byte](1)))
    val e = intercept[IllegalStateException] {
      Fs.staged(Kind, "failing", "v2") { p =>
        Files.write(p.resolve("b"), Array[Byte](2))
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage === "build failed")
    assert(marker(dir) === "v1")
    assert(dir.toFile.list().toSet === Set("a", "_complete"))
    assert(siblings(dir) === Set(dir.getFileName.toString))
  }

  test("two first builds race: one complete dir, both return it, no temp " +
      "dir left") {
    val dir = fresh("race")
    val (entered, release) = (new CountDownLatch(1), new CountDownLatch(1))
    val first = Future {
      Fs.staged(Kind, "race", "s") { p =>
        Files.write(p.resolve("first"), Array[Byte](1))
        entered.countDown()
        assert(release.await(60, TimeUnit.SECONDS))
      }
    }
    assert(entered.await(60, TimeUnit.SECONDS))
    // the second builder completes while the first is held in build
    val second = Fs.staged(Kind, "race", "s")(p => Files.write(p.resolve("second"), Array[Byte](2)))
    assert(marker(dir) === "s")
    release.countDown()
    assert(Await.result(first, 60.seconds) === second)
    assert(second === dir.toString)
    // the first builder lost: it keeps the winner's dir and drops its own
    assert(dir.toFile.list().toSet === Set("second", "_complete"))
    assert(siblings(dir) === Set(dir.getFileName.toString))
  }

  test("no file in src/main outside Fs names the artifact root, the " +
      "completion marker, mtime pinning or the scratch root") {
    val banned = Seq("""Paths\.get\("target"""", """FixtureStamp\.upToDate""",
      """FixtureStamp\.complete""", """setLastModified""", """/dev/shm""",
      """def touch\b""", """_complete_""").map(_.r)
    val home = Set("Fs.scala", "FixtureStamp.scala")
    val walk = Files.walk(Paths.get("src", "main"))
    val hits = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !home(p.getFileName.toString))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.exists(_.findFirstIn(line).isDefined) => s"$p:${i + 1}: $line"
        }
      }.toList
    finally walk.close()
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
