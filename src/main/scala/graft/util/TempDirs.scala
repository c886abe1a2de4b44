package graft.util

import java.io.File

/** Per-run temp state (staged streaming input, persisted-index gate
  * directories): fresh unique paths and their recursive delete, plus
  * the scope that pairs the two. One implementation instead of a copy
  * per call site. */
object TempDirs {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** A fresh unique directory path under java.io.tmpdir (not created —
    * Spark writers create it). */
  def fresh(prefix: String): File =
    new File(sys.props("java.io.tmpdir"),
      prefix + java.util.UUID.randomUUID().toString.replace("-", ""))

  /** Run `body` over one [[fresh]] absolute path per prefix (in prefix
    * order) and delete every one of them afterwards, also when `body`
    * throws. Results that outlive the scope must be materialized inside
    * it (collect or localCheckpoint), since their files are gone after. */
  def scoped[A](prefixes: String*)(body: Seq[String] => A): A = {
    val dirs = prefixes.map(fresh)
    try body(dirs.map(_.getAbsolutePath))
    finally dirs.foreach(deleteRecursively)
  }
}
