package perfbench

import java.time.LocalDate
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.control.NonFatal
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes `result.json` (and, traced,
  * `spans.jsonl`) into the work directory:
  *
  *  1. set-up, timed as `setup_s`: session start, the base state, one
  *     warm-up operation (it carries the JIT and codegen cost of a fresh
  *     JVM, as a daily batch job pays it); the correctness gate then
  *     checks the warm-up operation's outputs;
  *  2. a closed loop with one client: operations back to back until
  *     `--seconds` have passed and at least `--min-ops` ran;
  *  3. or, with `--trace 1`, instead of the loop: `--trace-ops` times an
  *     operation and then the same operation with a span around each
  *     layer call, one more operation, then the workload's traced
  *     extras.
  *
  * Usage: perfbench.Main --workload W --inputs DIR --work DIR
  *          --seconds S --trace 0|1 --seed N --lo DATE --hi DATE
  *          --min-ops N --trace-ops N [--fault drop-row] */
object Main {
  val Cores = 4

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      // graft.Bench's session settings
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // every file the run writes stays inside the work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Persisted RDDs the benchmark does not hold: after each operation
    * and its release, whatever is still cached is a survivor. */
  final class CacheWatch(sc: SparkContext) {
    val survivors = LinkedHashMap.empty[Int, String]
    def ids(): Set[Int] = sc.getPersistentRDDs.keySet.toSet
    /** Bytes of the survivors; records each survivor by name. */
    def after(held: Set[Int], op: Int): Double = {
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!held(id) && !survivors.contains(id))
          survivors(id) = s"op $op: " +
            Option(rdd.name).getOrElse(rdd.toString).replaceAll("\\s+", " ").take(160)
      }
      sc.getRDDStorageInfo.filterNot(r => held(r.id))
        .map(r => r.memSize + r.diskSize).sum / Tracer.MB
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = a("work")
    val trace = a("trace") == "1"
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val tr = if (trace) new Tracer(sc) else Tracer.off(sc)
    val c = new Ctx(spark, a("inputs"), work, a("seed").toLong, tr,
      LocalDate.parse(a("lo")), LocalDate.parse(a("hi")), a.get("fault").contains("drop-row"))
    val out = new Json
    var attempted, failed = 0

    /** Run one operation; a thrown exception or a failed check counts it
      * as failed, and its latency is not recorded. */
    def attempt(i: Int)(run: => Double): Option[Double] = {
      attempted += 1
      val before = c.errors.size
      try {
        val lat = run
        if (c.errors.size == before) Some(lat) else { failed += 1; None }
      } catch {
        case NonFatal(e) =>
          failed += 1
          c.fail(s"operation $i: $e")
          None
      }
    }

    try {
      val wl = Workload(a("workload"), c)
      val watch = new CacheWatch(sc)
      // neither workload keeps state across operations: whatever is
      // persisted after an operation and its release is a survivor
      val held = watch.ids()
      val t = System.nanoTime()
      wl.build()
      val ok = attempt(-1)(wl.op(-1)).isDefined
      val setupS = sessionS + (System.nanoTime() - t) / 1e9
      if (ok) try wl.gate() catch { case NonFatal(e) => c.check(ok = false, s"gate: $e") }
      else c.check(ok = false, "gate: no output to check")
      wl.clean()
      c.phases.clear()

      val lats = ArrayBuffer.empty[Double]
      val cacheMb = ArrayBuffer.empty[Double]
      def timed(i: Int): Unit = {
        attempt(i)(wl.op(i)).foreach(lats += _)
        wl.clean()
        cacheMb += watch.after(held, i)
      }
      out("workload") = a("workload")
      out("session_s") = sessionS
      out("setup_s") = setupS
      if (!trace) {
        val seconds = a("seconds").toDouble
        val minOps = a("min-ops").toInt
        val tLoop = System.nanoTime()
        var i = 0
        while (i < minOps || (System.nanoTime() - tLoop) / 1e9 < seconds) {
          timed(i)
          i += 1
        }
      } else {
        // untraced and traced operations alternate, starting and ending
        // untraced, so the JVM's warm-up, which speeds up every operation
        // after it, does not bias trace.overhead_s
        val n = a("trace-ops").toInt
        val tl = (0 until n).flatMap { k =>
          timed(k)
          tr.start()
          val l = attempt(k)(wl.traced(k))
          tr.stop()
          wl.clean()
          l
        }
        timed(n)
        tr.start()
        try wl.extras() catch { case NonFatal(e) => c.check(ok = false, s"traced extras: $e") }
        tr.stop()
        out("layers") = wl.layers(n, Cores) ++ c.counters.toSeq ++ Seq(
          "trace.overhead_s" -> (median(tl) - median(lats.toSeq)),
          "cache_mb" -> median(cacheMb.toSeq))
        out("survivors") = watch.survivors.values.toSeq
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/spans.jsonl"),
          tr.records.map(Json.value).mkString("", "\n", "\n").getBytes("UTF-8"))
      }
      out("latency_s") = lats.toSeq
      out("cache_mb") = cacheMb.toSeq
    } catch {
      case NonFatal(e) => failed += 1; c.fail(s"run aborted: $e")
    }
    out("phases") = c.phases.map { case (k, v) => k -> v.toSeq }.toSeq
    out("attempted") = attempted + c.checks
    out("failed") = failed + c.checkFailures
    out("errors") = c.errors.toSeq
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/result.json"),
      out.render.getBytes("UTF-8"))
    spark.stop()
    sys.exit(0)
  }
}

/** A minimal JSON object writer: strings, numbers (all digits), lists
  * and nested objects. */
final class Json {
  private val fields = LinkedHashMap.empty[String, Any]
  def update(k: String, v: Any): Unit = fields(k) = v
  def render: String = Json.value(fields.toSeq)
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      kv.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
