package graft

import java.nio.file.{Files, Paths}

/** Regenerates OPERATORS.md — the user-facing operator reference,
  * derived from the single Registry definition site so it can never
  * drift from the declared surface. Run from the checkout root:
  * `sbt "runMain graft.Docs"` (writes OPERATORS.md to the working
  * directory).
  */
object Docs {
  /** The whole of OPERATORS.md: one row per declared query, in name order. */
  def render: String = {
    val out = new StringBuilder
    out ++= "# OPERATORS — declared query surface (generated by `graft.Docs`)\n\n"
    out ++= s"${Registry.all.size} declared queries; " +
      s"${Registry.all.count(_.oracle.nonEmpty)} carry a DuckDB oracle " +
      "(hash-compared by the driver at sf0.01), the rest are " +
      "partition-invariance + ScalaTest covered (see SURVEY.md §2.1).\n\n"
    out ++= "Run any of these via `SparkEntry.queries(name)(spark, sfDir)`.\n\n"
    out ++= "| query | oracle | semantics / scale shape |\n|---|---|---|\n"
    Registry.all.sortBy(_.name).foreach { q =>
      val o = if (q.oracle.nonEmpty) "yes" else "no"
      out ++= s"| `${q.name}` | $o | ${q.doc.replace("|", "\\|")} |\n"
    }
    out.toString
  }

  def main(args: Array[String]): Unit = {
    Files.writeString(Paths.get("OPERATORS.md"), render)
    println(s"wrote OPERATORS.md (${Registry.all.size} rows)")
  }
}
