package perfbench

import java.io.{File, PrintWriter}
import scala.util.control.NonFatal
import org.apache.spark.PerfbenchListenerBus
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload: set up, warm up, then a closed loop
  * of one client for at least `--seconds`, in whole cycles of the
  * workload's op mix. Writes raw records (set-up times, one
  * line per op, spans and counters) as JSON lines to `--out`; run.py
  * turns them into metrics.
  *
  * Args: --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  *       --out FILE --cache DIR [--expected FILE]
  */
object Main {
  /** Times the set-up is repeated to report its median. */
  val SetupRepeats = 3

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def obj(kv: (String, Any)*): String = kv.map {
    case (k, v: String) => s"${q(k)}:${q(v)}"
    case (k, v: Double) => s"${q(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    case (k, v: Seq[_]) => s"${q(k)}:${v.mkString("[", ",", "]")}"
    case (k, v) => s"${q(k)}:$v"
  }.mkString("{", ",", "}")

  private def readExpected(path: Option[String]): Map[String, String] =
    path.filter(p => new File(p).exists()).map { p =>
      import scala.jdk.CollectionConverters._
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(p))
      node.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val out = new PrintWriter(opt("out"), "UTF-8")
    def emit(line: String): Unit = { out.println(line); out.flush() }

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val counters = new Counters
    if (traced) {
      sc.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    Trace.init(sc, traced)
    val sessionS = secs(t0)

    try {
      val w = Workload(workload, spark, seed, readExpected(opt.get("expected")),
        opt("cache"))
      val gen = (1 to SetupRepeats).map { r =>
        val g0 = System.nanoTime()
        w.generate(s"$work/inputs-$r")
        secs(g0)
      }
      val w0 = System.nanoTime()
      w.warmup()
      emit(obj("type" -> "setup", "session_s" -> sessionS,
        "generate_s" -> gen, "warmup_s" -> secs(w0),
        "fingerprint" -> w.fingerprint))

      def phase(p: String): Unit =
        if (traced) { PerfbenchListenerBus.drain(sc); counters.phase = p }
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (System.nanoTime() < deadline || i % w.cycle != 0) {
        val op = w.op(i)
        Trace.beginOp(i)
        phase("op")
        val s = System.nanoTime()
        var error: Option[Throwable] = None
        val check =
          try Some(op.run())
          catch { case NonFatal(e) => error = Some(e); None }
        val e = System.nanoTime()
        phase("check")
        check.foreach(c => try c() catch { case NonFatal(x) => error = Some(x) })
        emit(obj("type" -> "op", "id" -> i, "kind" -> op.kind,
          "start_ns" -> s, "end_ns" -> e, "ok" -> error.isEmpty,
          "error" -> error.map(x => s"${x.getClass.getSimpleName}: ${x.getMessage}")
            .getOrElse("").take(500)))
        i += 1
      }
      phase("end")

      w.digests.recorded.foreach { case (n, d) =>
        emit(obj("type" -> "digest", "query" -> n, "digest" -> d)) }
      if (traced) {
        Trace.recorded.foreach(s => emit(obj("type" -> "span", "id" -> s.id,
          "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
        counters.values.foreach { case ((p, span), m) =>
          if (p == "op") m.foreach { case (k, v) =>
            emit(obj("type" -> "counter", "span" -> span, "name" -> k, "value" -> v)) }
        }
      }
      w.finish(traced).foreach { case (k, v) =>
        emit(obj("type" -> "counter", "span" -> "", "name" -> k, "value" -> v)) }

      // garbage-collected frames release their cached blocks through
      // Spark's ContextCleaner thread, so let it run between collections
      val rt = Runtime.getRuntime
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
      val heap = (rt.totalMemory() - rt.freeMemory()).toDouble
      val blocks = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      emit(obj("type" -> "end", "retained_mb" -> (heap + blocks) / (1 << 20)))
    } catch {
      case NonFatal(e) =>
        emit(obj("type" -> "fatal", "error" -> s"${e.getClass.getName}: ${e.getMessage}"))
        e.printStackTrace()
        out.close()
        spark.stop()
        sys.exit(3)
    }
    out.close()
    spark.stop()
  }
}
