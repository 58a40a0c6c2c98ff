package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every Versioned data and delete file is read through the connector's
  * scan (`graft.sources.VersionedRead`), whose listing and per-file
  * reader serve both delete layouts and fork no process. The scan holds
  * the lakehouse core — `ops/Versioned.scala` and `sources/` — to that:
  * no plain parquet read (`spark.read…`, `ParquetFooters.read`) may come
  * back there. Comments are stripped first, so a doc may still name one. */
class VersionedReaderGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  private val plainRead =
    """\.read\s*\.\s*(?:parquet|schema|format|options?|load|table)\b|ParquetFooters\s*\.\s*read\b""".r

  private def code(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("the lakehouse core reads no Versioned file outside the connector scan") {
    val walk = Files.walk(root.resolve("sources"))
    val files =
      try root.resolve("ops/Versioned.scala") ::
        walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.size > 1 && files.forall(Files.isRegularFile(_)), files)
    val offenders = files.flatMap { p =>
      plainRead.findAllIn(code(p)).map(m => s"${root.relativize(p)}: $m")
    }
    assert(offenders.isEmpty,
      s"plain parquet reads in the lakehouse core: $offenders")
  }
}
