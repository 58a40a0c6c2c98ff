package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Library verbs and board queries materialize what they reuse with an
  * eager `localCheckpoint` (freed with the frame) or a `persist` released
  * in a `finally`, never by leaving a plan in the session's cache. The
  * scan holds every remaining `.cache()` / `.persist(` in the main
  * sources to the allow-list below, each entry with the reason it stays. */
class SessionCacheSpec extends AnyFunSuite {

  /** File name → number of `.cache()` / `.persist(` sites it may hold. */
  private val allowed: Map[String, Int] = Map(
    // per-(session, dir) memo: the clinical marts (cp3–cp5) share one
    // subject summary for the session's lifetime
    "ClinicalQueries.scala" -> 1,
    // per-(session, dir) memos: the IVF, PQ and IVF-PQ indexes are built
    // once and searched by every emb rep, as a deployment would
    "EmbeddingQueries.scala" -> 3,
    // finally-scoped: the micro-batch's tagged frame is released before
    // the batch returns
    "Streaming.scala" -> 1,
    // finally-scoped: the sliced training frame is released before
    // `Pq.train` returns
    "Pq.scala" -> 1,
    // step-timing cache: the generated domains are materialized inside
    // the generate step, so that step's timing carries their cost
    "Demo.scala" -> 1)

  private val site = """\.cache\(\)|\.persist\(""".r

  test("no main source caches a frame outside the allow-list") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    def sites(p: Path): Int =
      site.findAllIn(new String(Files.readAllBytes(p), "UTF-8")).size
    val counts = files.map(p => p.getFileName.toString -> sites(p))
      .filter(_._2 > 0).toMap
    assert(allowed.keySet.subsetOf(counts.keySet),
      s"the scan must see every allow-listed file under $root: $counts")
    val offenders = counts.filter { case (f, n) => n > allowed.getOrElse(f, 0) }
    assert(offenders.isEmpty,
      s"cache sites outside the allow-list (file → count): $offenders")
  }
}
