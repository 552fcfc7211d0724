package graft

import java.io.{File, IOException}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.Tables

/** The one fixture cache: where a layout derived from an sf dir's tables
  * lives, when it is stale, who builds it and how it is published.
  *
  * A fixture is published at
  * `<java.io.tmpdir>/graft_<name>_<hash of the canonical sf dir>_<max source mtime>`,
  * with `java.io.tmpdir` read at call time (a main may set it after the JVM
  * started). Freshness is that name: the fixture is fresh if and only if
  * the directory exists, so regenerating the sf data at the same path
  * yields a new name and a rebuild — an existence-only check once made the
  * engine read stale bytes while the oracle read the new parquet.
  *
  * A build writes into a unique staging dir and publishes it with one
  * atomic rename, so a build that dies or throws partway leaves nothing
  * that can be served. When another JVM published first, the staging dir
  * is dropped and the published one is used. A publish deletes the
  * superseded versions of the same (name, sf dir).
  *
  * The hit path — the only part that runs inside timed queries — is one
  * mtime walk and one `exists`: no lock, no directory listing.
  */
object Fixture {

  /** The published fixture `name` derived from `tables` of `d`, built by
    * `write` into an empty directory when no version for the current
    * source mtimes exists yet. Returns the published directory's path.
    */
  def apply(d: String, name: String, tables: String*)(write: File => Unit): String =
    in(new File(System.getProperty("java.io.tmpdir")), d, name, tables: _*)(write)

  /** [[apply]] under an explicit `root` instead of `java.io.tmpdir`. */
  private[graft] def in(root: File, d: String, name: String, tables: String*)(
      write: File => Unit): String = {
    val prefix = s"graft_${name}_${dirHash(d)}_"
    val published = new File(root, prefix + sourceMtime(d, tables))
    if (!published.exists()) locked {
      if (!published.exists()) publish(root, prefix, published, write)
    }
    published.getPath
  }

  private def publish(root: File, prefix: String, published: File,
      write: File => Unit): Unit = {
    root.mkdirs()
    val stage = Files.createTempDirectory(root.toPath, s"graft-stage-${published.getName}-")
    try {
      write(stage.toFile)
      try Files.move(stage, published.toPath, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: IOException if published.exists() => () } // another JVM won
    } finally if (Files.exists(stage)) Harness.deleteTree(stage)
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(prefix) && f != published &&
        f.getName.drop(prefix.length).forall(_.isDigit))
      .foreach(f => Harness.deleteTree(f.toPath))
  }

  /** `<hash of the canonical sf dir>_<max source mtime>`: the version of a
    * layout derived from `tables` of `d` that lives outside `java.io.tmpdir`
    * (the bucketed catalog tables name themselves by it).
    */
  def version(d: String, tables: String*): String = s"${dirHash(d)}_${sourceMtime(d, tables)}"

  /** Run `body` under the one fixture build lock. */
  def locked[A](body: => A): A = synchronized(body)

  private def dirHash(d: String): String =
    Integer.toHexString(new File(d).getCanonicalPath.hashCode)

  /** Latest mtime under `<d>/<table>.parquet` over `tables` (0 when none exists). */
  private def sourceMtime(d: String, tables: Seq[String]): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) (f.lastModified +: f.listFiles().toSeq.map(walk)).max
      else f.lastModified
    tables.map(t => new File(d, s"$t.parquet")).filter(_.exists()).map(walk)
      .foldLeft(0L)(math.max)
  }

  /** A scratch dir for one session's writes of `name` over `d`: keyed by
    * the sf dir and the session's application id, so two concurrent
    * sessions never share it, and deleted when the JVM exits.
    */
  def sessionDir(s: SparkSession, name: String, d: String): String = {
    val dir = new File(System.getProperty("java.io.tmpdir"),
      s"graft_${name}_" + java.security.MessageDigest.getInstance("MD5")
        .digest((d + "|" + s.sparkContext.applicationId).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12))
    dir.mkdirs()
    val p = new org.apache.hadoop.fs.Path(dir.toURI)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(p)
    dir.getAbsolutePath
  }

  /** Fixture writers collect events to the driver (single-file binary
    * formats are inherently driver-side writes). Bounded: refuse above
    * this cap rather than OOM the driver at a larger sf — the fixture
    * exists to exercise the binary PARSER at verify scale, not to convert
    * big data (VERDICT r10 #4). ~50 B/row ⇒ the cap is ≈100 MB of
    * driver heap, far under the harness's driver memory.
    */
  private[graft] val FixtureMaxRows = 2000000L
  private[graft] def guardFixtureRows(s: SparkSession, d: String, what: String,
      cap: Long = FixtureMaxRows): Unit = {
    val n = Tables.events(s, d).count()
    if (n > cap)
      throw new IllegalStateException(
        s"$what fixture writer refuses to collect $n rows (cap $cap): the " +
          "single-file fixture is a driver-side write meant for parser " +
          "correctness at verify scale — point it at a smaller sf dir")
  }

  /** `cols` of the events table in `event_id` order (`cols` must keep
    * `event_id`), collected to the driver under [[guardFixtureRows]].
    */
  def eventRows(s: SparkSession, d: String, what: String, cols: Column*): Array[Row] = {
    guardFixtureRows(s, d, what)
    Tables.events(s, d).select(cols: _*).orderBy(col("event_id")).collect()
  }
}
