package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Versioned

/** An output check failed: the op counts as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** One closed-loop operation. `run` is the timed part; it returns the
  * untimed output check, which throws [[CheckFailed]] on a mismatch. */
final case class Op(kind: String, run: () => (() => Unit))

trait Workload {
  /** Write this workload's inputs under `dir`. Called several times (the
    * set-up is repeated to measure it); the last call's inputs are used. */
  def generate(dir: String): Unit
  /** One untimed pass over every op kind, so caches fill and code is
    * compiled before timing. */
  def warmup(): Unit
  /** Digest of the inputs the seed produced. */
  def fingerprint: String
  /** Ops per cycle. A cycle holds a fixed multiset of op kinds in a
    * seeded order; a run measures whole cycles, so every seed measures
    * the same mix. */
  def cycle: Int
  def op(i: Int): Op
  /** Layer counters only the workload knows, reported with the trace. */
  def finish(traced: Boolean): Map[String, Double] = Map.empty
  /** Output digests by op kind, written to the records when the run ends. */
  val digests: Digests
}

/** Output digests by op kind. A kind's digest must be the same in every
  * execution of a run, and equal the one stored with the benchmark where
  * one is stored (the board queries). */
final class Digests(expected: Map[String, String]) {
  val recorded = mutable.LinkedHashMap.empty[String, String]

  def check(name: String, got: String): Unit = {
    recorded.getOrElseUpdate(name, got)
    Workload.check(recorded(name) == got,
      s"$name digest changed between executions: ${recorded(name)} vs $got")
    expected.get(name).foreach(e =>
      Workload.check(e == got, s"$name digest $got != expected $e"))
  }

  /** Runs a pipeline pass into `out`; the returned check verifies the
    * pass, checks its digest and removes `out`. */
  def runPass(name: String, pass: Pass, out: String): () => Unit = {
    val (verify, digest) = pass.run(out)
    () => {
      verify()
      check(name, digest)
      Workload.deleteTree(Paths.get(out))
    }
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long,
      expected: Map[String, String], cache: String): Workload = name match {
    case "warehouse_queries" => new WarehouseQueries(spark, seed, expected, cache)
    case "lakehouse_mix" => new LakehouseMix(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  /** Order-independent digest of a frame: row count and the exact sum of
    * every row's xxhash64 over all columns. Evaluates every column. */
  def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }
}

/** A fixed, family-stratified mix of board queries over generated
  * testdata, plus one clinical demo-path pass and one curation pass on
  * seeded inputs. The tables
  * are the same for every seed (DataGen.DataSeed) and are generated once
  * into `cache`, like the read-only testdata the board is written
  * against; so each query's digest is stored with the benchmark. The
  * seed sets the order, the clinical cohort and the corpus. */
final class WarehouseQueries(spark: SparkSession, seed: Long,
    expected: Map[String, String], cache: String) extends Workload {
  import WarehouseQueries._
  private val board = graft.SparkEntry.queries
  private val rng = new Random(seed)
  private var order: Seq[String] = Nil
  private var base: String = _
  private var clinical: ClinicalPass = _
  private var passes: Map[String, Pass] = Map.empty
  private var corpusRows = ""
  val digests = new Digests(expected)

  def generate(d: String): Unit = {
    if (!Files.exists(Paths.get(cache, "_SUCCESS"))) {
      DataGen.write(spark, cache, Sf)
      Files.createFile(Paths.get(cache, "_SUCCESS"))
    }
    val corpus = new Corpus(CorpusDocs, seed)
    corpus.write(spark, s"$d/corpus")
    corpusRows = Workload.sha(corpus.rows.mkString("\n"))
    base = d
    clinical = new ClinicalPass(spark, Subjects, seed)
    passes = Map(
      "pipeline.clinical" -> clinical,
      "pipeline.curation" -> new CurationPass(spark, s"$d/corpus"))
  }

  private def runQuery(name: String): String =
    Workload.digest(board(name)(spark, cache))

  /** The clinical pass's three parts, the curation pass and every query
    * once, on one thread per core, longest first. The warm-up is set-up,
    * not measurement; running it in parallel leaves the run's time budget
    * to the measured cycle. */
  def warmup(): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    def submit(f: => (() => Unit)) = pool.submit(new java.util.concurrent.Callable[() => Unit] {
      def call(): () => Unit = f
    })
    try {
      val queries = Mix.sortBy(n => !Layer.contains(n))
      val pending = clinical.parts(s"$base/warmup-clinical").map(part =>
          submit { part(); () => () }) ++
        Seq(submit(digests.runPass(Curation, passes(Curation), s"$base/warmup-curation"))) ++
        queries.map { n =>
          submit { val got = runQuery(n); () => digests.check(n, got) }
        }
      pending.foreach(_.get()())
      Workload.deleteTree(Paths.get(s"$base/warmup-clinical"))
    } finally pool.shutdown()
  }

  /** The queries in seeded order, then the pipeline passes in seeded
    * order: a pass run right after the warm-up, while the JIT compiler
    * was still busy with it, took up to 40% longer. */
  private def shuffled(r: Random): Seq[String] = r.shuffle(Mix) ++ r.shuffle(Pipelines)

  def fingerprint: String =
    Workload.sha(shuffled(new Random(seed)).mkString(",") +
      s"|sf=$Sf|data=${DataGen.DataSeed}|subjects=$Subjects|corpus=$corpusRows")

  def cycle: Int = Cycle.size

  def op(i: Int): Op = {
    if (i % cycle == 0) order = shuffled(rng)
    val name = order(i % cycle)
    if (passes.contains(name)) Op(name, () => digests.runPass(name, passes(name), s"$base/op-$i"))
    else Op(name, () => {
      val got = Trace.span(s"queries.${family(name)}") {
        Layer.get(name).fold(runQuery(name))(l => Trace.span(l)(runQuery(name)))
      }
      () => digests.check(name, got)
    })
  }
}

object WarehouseQueries {
  val Sf = 0.01
  /** Clinical cohort of the pipeline pass, and base documents of the
    * corpus (which adds a tenth as many exact and as many edited copies). */
  val Subjects = 200
  val CorpusDocs = 200

  /** Family → board queries: every engine path the board exercises
    * (scan/project, star joins, aggregates, windows, as-of and range
    * joins, TPC-H, MV rewrite, an iterative graph verb) plus two
    * clinical board queries; two per family where a family has a cheap
    * and an expensive shape. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "scan" -> Seq("s3_scan_project", "p4_filter_eq"),
    "join" -> Seq("j1_star_join_broadcast", "j6_semi_join"),
    "agg" -> Seq("a1_group_count", "a14_rollup"),
    "window" -> Seq("w1_running_count", "o4_top_n"),
    "timejoin" -> Seq("aj1_asof_join", "aj2_time_range_join"),
    "tpch" -> Seq("q1_pricing_summary", "q3_shipping_priority"),
    "mv" -> Seq("mv1_rewrite_agg"),
    "graph" -> Seq("g1_pagerank"),
    "clinical" -> Seq("cp4_subject_outcomes", "m7_batch_score"))

  /** Queries that are one call into a single library layer get a nested
    * span named after that layer. */
  val Layer: Map[String, String] = Map("g1_pagerank" -> "graph.call")

  val Mix: Seq[String] = Families.flatMap(_._2)

  /** Pipeline passes (Pipelines.scala). */
  val Curation = "pipeline.curation"
  val Pipelines: Seq[String] = Seq("pipeline.clinical", Curation)

  /** One measured cycle: every query and every pipeline pass once. */
  val Cycle: Seq[String] = Mix ++ Pipelines
  private val familyOf: Map[String, String] =
    Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
  def family(q: String): String = familyOf(q)
}

/** Reads and writes against one Versioned table, checked after every
  * write against an in-memory model of the live rows. Keys are dense
  * longs; a row's value is a function of (key, write step), so the model
  * is a bitset plus a value array. */
final class LakehouseMix(spark: SparkSession, seed: Long) extends Workload {
  import LakehouseMix._
  private val rng = new Random(seed)
  private var base: String = _
  private var dir: String = _
  private var neardup: Pass = _
  private var corpusRows = ""
  val digests = new Digests(Map.empty)
  private var live = new java.util.BitSet()
  private var vals = new Array[Long](InitialRows * 4)
  private var nextKey = 0L
  private var step = 0
  private val snapshots = mutable.Map.empty[Int, (Long, Long, Long)]
  private var pendingDeletes = false
  /** Rows deleted merge-on-read that are still in the data files. */
  private var masked = 0L
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def value(k: Long, st: Int): Long = (k * 7919L + st * 104729L) % 1000003L
  private def valueCol(st: Int) = (col("k") * 7919L + lit(st * 104729L)) % 1000003L

  private def modelTotals: (Long, Long, Long) = {
    var c = 0L; var sk = 0L; var sv = 0L
    var k = live.nextSetBit(0)
    while (k >= 0) { c += 1; sk += k; sv += vals(k); k = live.nextSetBit(k + 1) }
    (c, sk, sv)
  }

  private def put(k: Long, st: Int): Unit = {
    if (k >= vals.length) vals = java.util.Arrays.copyOf(vals, vals.length * 2)
    live.set(k.toInt); vals(k.toInt) = value(k, st)
  }

  private def totals(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum("k"), lit(0L)), coalesce(sum("v"), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def connector(v: Option[Int]): DataFrame = {
    val r = spark.read.format("graft-versioned").option("path", dir)
    v.fold(r)(x => r.option("versionAsOf", x.toLong)).load()
  }

  private def recordVersion(v: Int): Unit = snapshots(v) = modelTotals

  /** Row count of every data group of version `v`. A group's files never
    * change, so its count is the one the newest manifest up to `v` that
    * records one holds (merge-on-read deletes publish manifests without
    * counts). */
  private def groupRows(v: Int): Map[String, Long] = {
    val groups = Versioned.groupNames(dir, v).toSet
    var found = Map.empty[String, Long]
    var x = v
    while (found.size < groups.size && x > 0) {
      found ++= Versioned.readCounts(dir, x).filter { case (g, _) => groups(g) && !found.contains(g) }
      x -= 1
    }
    Workload.check(found.size == groups.size,
      s"no manifest up to v$v records a row count for ${groups -- found.keySet}")
    found
  }

  def generate(d: String): Unit = {
    val corpus = new Corpus(WarehouseQueries.CorpusDocs, seed)
    corpus.write(spark, s"$d/corpus")
    corpusRows = Workload.sha(corpus.rows.mkString("\n"))
    neardup = new NearDupIndexPass(spark, s"$d/corpus", corpus.exactCopies)
    base = d
    dir = s"$d/table"
    live = new java.util.BitSet(); nextKey = 0; step = 0
    snapshots.clear(); pendingDeletes = false; masked = 0
    (0L until InitialRows).foreach(k => put(k, 0))
    nextKey = InitialRows
    val v = Versioned.commit(spark.range(0, InitialRows, 1, 4).toDF("k")
      .select(col("k"), valueCol(0).as("v")), dir)
    recordVersion(v)
  }

  def warmup(): Unit = {
    // the near-duplicate index on another thread, while one op of every
    // kind runs in a fixed order on a scratch copy of the table, so the
    // measured table starts from the same state every run
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val index = pool.submit(new java.util.concurrent.Callable[() => Unit] {
      def call(): () => Unit = digests.runPass(NearDup, neardup, s"$base/warmup-index")
    })
    pool.shutdown()
    val saved = (dir, live.clone().asInstanceOf[java.util.BitSet], vals.clone(),
      nextKey, step, snapshots.clone(), pendingDeletes, masked)
    val scratch = s"$dir-warmup"
    Versioned.commit(Versioned.read(spark, dir), scratch)
    val v1 = Versioned.latestVersion(scratch)
    dir = scratch
    snapshots.clear(); recordVersion(v1)
    // the writes' checks are not run: they read the table the way the
    // read ops below do, which warm that path
    Seq("append", "merge", "delete_mor", "apply_deletes", "compact").foreach(k => write(k).run())
    Seq("ops", "connector", "time_travel").foreach(k => read(k).run()())
    index.get()()
    val (d, l, va, n, s, snaps, pd, m) = saved
    dir = d; live = l; vals = va; nextKey = n; step = s; pendingDeletes = pd; masked = m
    counters.clear()
    snapshots.clear(); snapshots ++= snaps
    Workload.deleteTree(Paths.get(scratch))
  }

  def fingerprint: String = {
    val probe = new Random(seed)
    Workload.sha((0 until 64).map(_ => probe.nextLong()).mkString(",") +
      s"|initial=$InitialRows|corpus=$corpusRows")
  }

  private def sampleKeys(n: Int): Array[Long] =
    Array.fill(n)((rng.nextDouble() * nextKey).toLong).distinct

  private def keysFrame(keys: Array[Long]): DataFrame = {
    import spark.implicits._
    keys.toSeq.toDF("k")
  }

  private def write(kind: String): Op = Op(s"write.$kind", () => {
    step += 1
    val st = step
    kind match {
      case "append" =>
        val from = nextKey
        val v = Trace.span("ops.commit")(Versioned.commit(
          spark.range(from, from + AppendRows, 1, 2).toDF("k")
            .select(col("k"), valueCol(st).as("v")), dir))
        (from until from + AppendRows).foreach(k => put(k, st))
        nextKey += AppendRows
        recordVersion(v)
      case "merge" =>
        val keys = sampleKeys(MergeExisting) ++ (nextKey until nextKey + MergeNew)
        val v = Trace.span("ops.merge")(Versioned.mergeCommit(
          keysFrame(keys).select(col("k"), valueCol(st).as("v")), dir, "k"))
        keys.foreach(k => put(k, st))
        nextKey += MergeNew
        pendingDeletes = false; masked = 0
        recordVersion(v)
      case "delete_mor" =>
        val keys = sampleKeys(DeleteRows)
        val v = Trace.span("ops.delete_mor")(
          Versioned.deleteCommitMor(keysFrame(keys), dir, "k"))
        keys.foreach(k => if (live.get(k.toInt)) { live.clear(k.toInt); masked += 1 })
        pendingDeletes = true
        recordVersion(v)
      case "apply_deletes" =>
        val v = Trace.span("ops.compact")(Versioned.applyDeletesCommit(spark, dir)._1)
        pendingDeletes = false; masked = 0
        recordVersion(v)
      case "compact" =>
        // compaction folds pending deletes into the groups it packs
        recordVersion(Trace.span("ops.compact")(Versioned.compact(spark, dir)))
        pendingDeletes = false; masked = 0
    }
    () => {
      val want = snapshots(Versioned.latestVersion(dir))
      Workload.check(want == modelTotals, s"model bookkeeping after $kind")
      val viaOps = totals(Versioned.read(spark, dir))
      val viaConnector = totals(connector(None))
      Workload.check(viaOps == want, s"ops read $viaOps != model $want after $kind")
      Workload.check(viaConnector == want,
        s"connector read $viaConnector != model $want after $kind")
    }
  })

  private def read(kind: String): Op = Op(s"read.$kind", () => {
    val (got, want, what, extra) = kind match {
      case "ops" =>
        val (v, counts, groups, hasDeletes) = Trace.span("ops.manifest_read") {
          val v = Versioned.latestVersion(dir)
          (v, Versioned.readCounts(dir, v), Versioned.groupCount(dir, v),
            Versioned.readDeletes(dir, v)._1.nonEmpty)
        }
        counters("ops.reads") += 1
        counters("ops.groups_read") += groups
        val t = Trace.span("ops.read")(totals(Versioned.read(spark, dir, v)))
        Workload.check(hasDeletes == pendingDeletes,
          s"manifest delete files $hasDeletes, model expects $pendingDeletes")
        // per-group counts are exact only while every group carries one
        Workload.check(counts.size < groups || counts.values.sum >= t._1,
          s"manifest counts ${counts.values.sum} below live rows ${t._1}")
        (t, snapshots(v), s"ops read v$v", () => ())
      case "connector" =>
        val v = Versioned.latestVersion(dir)
        val t = Trace.span("sources.read")(totals(connector(None)))
        val pending = masked
        val physical = () => {
          // the rows the reader decodes: every row of the version's data
          // files, from the per-group counts the manifest records
          val rows = groupRows(v).values.sum
          Workload.check(rows == t._1 + pending,
            s"v$v holds $rows rows; ${t._1} live + $pending masked expected")
          Workload.check(pending == 0 || rows > t._1,
            s"v$v has $pending masked rows but no read waste")
          counters("sources.rows_scanned") += rows
          counters("sources.rows_returned") += t._1
        }
        (t, snapshots(v), s"connector read v$v", physical)
      case "time_travel" =>
        val versions = snapshots.keys.toSeq.sorted
        val v = versions(rng.nextInt(versions.size))
        val t = Trace.span("sources.time_travel")(totals(connector(Some(v))))
        (t, snapshots(v), s"versionAsOf $v", () => ())
    }
    () => {
      Workload.check(got == want, s"$what returned $got, model $want")
      extra()
    }
  })

  def cycle: Int = Cycle.size

  def op(i: Int): Op = Cycle(i % Cycle.size).split('.') match {
    case Array("read", k) => read(k)
    case Array("write", k) => write(k)
    case _ => Op(NearDup, () => digests.runPass(NearDup, neardup, s"$base/op-$i"))
  }

  override def finish(traced: Boolean): Map[String, Double] =
    if (!traced) Map.empty
    else {
      val compactDir = s"$dir-compact-copy"
      Versioned.read(spark, dir).coalesce(1).write.parquet(compactDir)
      val amp = Workload.treeBytes(Paths.get(dir)).toDouble /
        Workload.treeBytes(Paths.get(compactDir))
      Workload.deleteTree(Paths.get(compactDir))
      counters.toMap + ("ops.storage_amp" -> amp)
    }
}

object LakehouseMix {
  val InitialRows = 200000
  val AppendRows = 20000L
  val MergeExisting = 4000
  val MergeNew = 1000L
  val DeleteRows = 2000

  /** Half reads, half writes, in a fixed order so that every run passes
    * through the same table states; the seed picks the keys each merge
    * and delete touches and the versions time travel reads. The merge (a
    * full rewrite) and apply_deletes fold pending merge-on-read deletes;
    * compact packs the appended groups. */
  val Sequence: Seq[String] = Seq(
    "write.append", "read.ops", "write.delete_mor", "read.connector",
    "read.ops", "write.merge", "read.time_travel", "write.append",
    "read.connector", "write.delete_mor", "read.connector", "write.apply_deletes",
    "read.ops", "write.append", "write.compact", "read.time_travel")

  /** The t45 pass: a near-duplicate index (its own Versioned table) built
    * over a seeded corpus, then two ingest batches. */
  val NearDup = "pipeline.neardup"

  /** One measured cycle: the sequence and the near-duplicate index pass. */
  val Cycle: Seq[String] = Sequence :+ NearDup
}
