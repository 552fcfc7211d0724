package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one fixture cache ([[Fixture]]): a current version is served
  * without a rebuild, a rewritten source publishes a new version and
  * deletes the old one, and a build that fails partway is never served.
  */
class FixtureSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.session

  /** `body` over a fresh (fixture root, sf dir holding a tiny
    * events.parquet), both deleted afterwards.
    */
  private def sandbox(body: (File, String) => Unit): Unit = {
    val base = Files.createTempDirectory("fixture-spec")
    try {
      val sf = new File(base.toFile, "sf")
      writeEvents(sf, 3)
      body(new File(base.toFile, "fixtures"), sf.getPath)
    } finally Harness.deleteTree(base)
  }

  private def writeEvents(sf: File, n: Int): Unit =
    spark.range(n).toDF("event_id").write.mode("overwrite")
      .parquet(new File(sf, "events.parquet").getPath)

  private def entries(root: File): Seq[String] = Option(root.list()).toSeq.flatten.sorted

  test("a second call with the source unchanged does not build again") {
    sandbox { (root, sf) =>
      var builds = 0
      def fixture() = Fixture.in(root, sf, "spec", "events") { dir =>
        builds += 1
        Files.writeString(new File(dir, "f.txt").toPath, "v1")
      }
      val first = fixture()
      val second = fixture()
      assert(second == first)
      assert(builds == 1)
      assert(Files.readString(Paths.get(first, "f.txt")) == "v1")
    }
  }

  test("a rewritten source builds again and deletes the superseded version") {
    sandbox { (root, sf) =>
      var builds = 0
      def fixture() = Fixture.in(root, sf, "spec", "events") { dir =>
        builds += 1
        Files.writeString(new File(dir, "f.txt").toPath, s"build $builds")
      }
      val first = fixture()
      writeEvents(new File(sf), 5)
      // a rewrite inside the same clock tick must still read as new
      val events = new File(sf, "events.parquet")
      (events +: events.listFiles().toSeq).foreach(f => f.setLastModified(f.lastModified + 10000L))
      val second = fixture()
      assert(builds == 2)
      assert(second != first)
      assert(!new File(first).exists(), s"superseded $first was kept")
      assert(entries(root) == Seq(new File(second).getName))
      assert(Files.readString(Paths.get(second, "f.txt")) == "build 2")
    }
  }

  test("a build that throws partway publishes nothing and leaves no staging dir") {
    sandbox { (root, sf) =>
      var builds = 0
      val e = intercept[IllegalStateException] {
        Fixture.in(root, sf, "spec", "events") { dir =>
          builds += 1
          // the first file of a pair, cut short
          Files.write(new File(dir, "a.bin").toPath, Array.fill[Byte](4)(1))
          throw new IllegalStateException("build died partway")
        }
      }
      assert(e.getMessage == "build died partway")
      assert(entries(root).isEmpty, entries(root))
      val dir = Fixture.in(root, sf, "spec", "events") { dir =>
        builds += 1
        Files.write(new File(dir, "a.bin").toPath, Array.fill[Byte](8)(1))
        Files.write(new File(dir, "b.bin").toPath, Array.fill[Byte](8)(2))
      }
      assert(builds == 2)
      assert(entries(root) == Seq(new File(dir).getName))
      assert(new File(dir).list().toSet == Set("a.bin", "b.bin"))
      assert(Files.size(Paths.get(dir, "a.bin")) == 8L)
    }
  }

  test("a version another JVM published first is served and the staging dir dropped") {
    sandbox { (root, sf) =>
      val published = Fixture.in(root, sf, "spec", "events") { dir =>
        Files.writeString(new File(dir, "f.txt").toPath, "probe")
      }
      Harness.deleteTree(Paths.get(published))
      val dir = Fixture.in(root, sf, "spec", "events") { stage =>
        // the other JVM renames its complete build into place mid-build
        Files.createDirectories(Paths.get(published))
        Files.writeString(Paths.get(published, "f.txt"), "theirs")
        Files.writeString(new File(stage, "f.txt").toPath, "mine")
      }
      assert(dir == published)
      assert(Files.readString(Paths.get(dir, "f.txt")) == "theirs")
      assert(entries(root) == Seq(new File(dir).getName))
    }
  }

  test("fixture writers refuse to collect above the driver row cap") {
    // VERDICT r10 #4: the .shp/.gpkg fixture writers collect events to the
    // driver; above the cap they must fail loudly, not OOM, so a larger-sf
    // run can't turn a test fixture into a driver crash.
    val e = intercept[IllegalStateException] {
      Fixture.guardFixtureRows(spark, SparkFixture.sfDir, "shp", cap = 5L)
    }
    assert(e.getMessage.contains("refuses to collect"))
    // at the default cap the verify-scale table passes untouched
    Fixture.guardFixtureRows(spark, SparkFixture.sfDir, "shp")
  }
}
