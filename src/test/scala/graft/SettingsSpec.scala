package graft

import org.scalatest.funsuite.AnyFunSuite

/** README "Settings" lists every Spark conf key (`spark.graft.*`), system
  * property (`graft.*`) and environment variable (`SPARK_GRAFT_*`) the
  * code under `src/main` reads, so a setting cannot be added, or outlive
  * its last reader, without the table saying so. */
class SettingsSpec extends AnyFunSuite {

  private val Read = Seq(
    """"(spark\.graft\.[A-Za-z0-9_.]+)"""",
    """"(SPARK_GRAFT_[A-Z0-9_]+)"""",
    """(?:sys\.props(?:\.getOrElse|\.get)?|System\.getProperty)\(\s*"(graft\.[A-Za-z0-9_.]+)"""")
    .map(_.r)

  private def sources(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Nil

  test("every setting src/main reads is in the README Settings table, and only those") {
    val read = sources(new java.io.File("src/main")).flatMap { f =>
      val text = java.nio.file.Files.readString(f.toPath)
      Read.flatMap(_.findAllMatchIn(text).map(_.group(1)))
    }.toSet
    assert(read.contains("SPARK_GRAFT_CPUS"), "the source scan found nothing")
    val readme = java.nio.file.Files.readString(
      java.nio.file.Paths.get("README.md"))
    val table = readme.split("\n").dropWhile(_ != "## Settings").drop(1)
      .takeWhile(!_.startsWith("## "))
      .flatMap(l => "^\\| `([^`]+)` \\|".r.findFirstMatchIn(l).map(_.group(1)))
      .toSet
    assert((read -- table).isEmpty,
      s"read under src/main but not in README Settings: ${(read -- table).toSeq.sorted}")
    assert((table -- read).isEmpty,
      s"in README Settings but read nowhere under src/main: ${(table -- read).toSeq.sorted}")
  }
}
