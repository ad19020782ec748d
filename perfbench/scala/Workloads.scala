package perfbench

import java.io.File
import java.sql.Date
import java.time.LocalDate
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.WeatherDb
import graft.core.{Tables, TimestampPeriod}
import graft.dedup.Dedup
import graft.llm.{Corpus, LlmOracle}
import graft.tsdb._

/** What every workload shares: the session, its inputs, a scratch
  * directory, the tracer, and the list of correctness failures. */
final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
    val seed: Long, val tr: Tracer, val lo: LocalDate, val hi: LocalDate,
    val dropRow: Boolean) {
  val errors = ArrayBuffer.empty[String]
  /** Checks made outside the timed operations: each counts as
    * attempted, and as failed unless it held. */
  var checks, checkFailures = 0
  /** Per-operation phase timings in seconds, reported beside the
    * operation latency (the cycle's update and export parts). */
  val phases = LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Per-layer counters measured by the traced run. */
  val counters = LinkedHashMap.empty[String, Double]

  def phase(name: String, seconds: Double): Unit =
    phases.getOrElseUpdate(name, ArrayBuffer.empty) += seconds
  def fail(msg: String): Unit = errors += msg
  /** One check outside an operation: counted, and failed unless `ok`. */
  def check(ok: Boolean, msg: => String): Unit = {
    checks += 1
    if (!ok) { checkFailures += 1; fail(msg) }
  }
  /** The checked form of an output: with `--fault drop-row` one row is
    * missing, which the checks must catch. */
  def checked[T](rows: Seq[T]): Seq[T] = if (dropRow) rows.drop(1) else rows
  def checked(df: DataFrame): DataFrame = if (dropRow) df.except(df.limit(1)) else df
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  def materialize(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Oracle inputs: one parquet result per oracle query, plus its SQL. */
  def oracleResult(name: String, df: DataFrame, sql: String): Unit = {
    df.write.mode("overwrite").parquet(s"$work/oracle/$name")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/oracle/$name.sql"), sql)
  }
}

/** One benchmark workload. The harness calls [[build]] and one warm-up
  * [[op]] as set-up, then [[op]] in a closed loop; [[clean]] releases
  * what an operation left behind and is never timed. */
abstract class Workload(val c: Ctx) {
  /** Release every frame this workload holds, then build the base state
    * its operations run on. */
  def build(): Unit
  /** One operation; returns its latency in seconds. */
  def op(i: Int): Double
  def clean(): Unit
  /** Once per run, right after an operation and before its [[clean]]:
    * check that operation's outputs against an independent result. */
  def gate(): Unit
  /** One operation with a span around each layer call; returns the
    * latency of the calls [[op]] makes (the span `iter`), in seconds. */
  def traced(i: Int): Double
  /** Traced run only, after the traced operations: layers the timed
    * operations do not reach. */
  def extras(): Unit = ()
  /** Per-layer metrics of `ops` traced operations. */
  def layers(ops: Int, cores: Int): Seq[(String, Double)]
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "weatherdb_cycle" => new Cycle(c)
    case "corpus_clean"    => new Clean(c)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Compare two row lists cell by cell; doubles within 1e-9 relative. */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.length == y.length && (0 until x.length).forall { k =>
        (x.get(k), y.get(k)) match {
          case (p: Double, q: Double) => p == q || math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(q))
          case (p, q) => p == q
        }
      }
    }

  /** Rows of `a` missing from `b` plus rows of `b` missing from `a`,
    * duplicates counted; both are collected, so both must be small. */
  def symDiff(a: Seq[Row], b: Seq[Row]): Int = {
    def counts(rows: Seq[Row]) = rows.groupBy(identity).map { case (r, rs) => r -> rs.size }
    val (ca, cb) = (counts(a), counts(b))
    (ca.keySet ++ cb.keySet).toSeq.map(r => math.abs(ca.getOrElse(r, 0) - cb.getOrElse(r, 0))).sum
  }
}

/** weatherdb_cycle: a fresh `WeatherDb` per operation runs the full
  * update cycle plus the monthly aggregate through the noop sink, then
  * exports every station with `GroupStations.createTs`. The traced run
  * adds a cold knn, a last-import merge and single-station reads on
  * the history's materialized state ([[LastImport]], [[Reads]]). */
final class Cycle(c: Ctx) extends Workload(c) {
  import c._
  private val dir = s"$inputs/base"
  private val export = new File(s"$work/export")
  private var db: WeatherDb = _

  def build(): Unit = clean()

  def op(i: Int): Double = {
    TsQueries.clearMemo(spark)
    val t0 = System.nanoTime()
    db = new WeatherDb(spark, dir)
    noop(db.broker.updateDb)
    noop(Aggregate.aggMonthSum(db.filled))
    val t1 = System.nanoTime()
    db.groupStations.createTs(export.getPath)
    phase("cycle_s", (t1 - t0) / 1e9)
    phase("export_s", secondsSince(t1))
    secondsSince(t0)
  }

  def clean(): Unit = {
    TsQueries.clearMemo(spark)
    Workload.deleteTree(export)
  }

  /** The corrected series and monthly aggregate go to the DuckDB oracle
    * (`TsOracle.qRichterCorrect`, `TsOracle.qAggMonth`). */
  def gate(): Unit = {
    oracleResult("q_richter_correct", checked(db.corr), TsOracle.qRichterCorrect)
    oracleResult("q_agg_month", checked(Aggregate.aggMonthSum(db.filled)), TsOracle.qAggMonth)
  }

  /** The same calls as [[op]], in the order `WeatherDb` runs them, with
    * a span around each layer: the memoized series frames, the qc and
    * filled frames (each forced by a count, which is what persists it),
    * the corrected series through the noop sink (Richter, plus the
    * temperature fill and meta that `WeatherDb` does not persist and
    * corr's plan recomputes), the monthly aggregate and the export. The
    * knn map is a memo hit here, as in every timed operation after the
    * first; [[extras]] times it cold. */
  def traced(i: Int): Double = {
    TsQueries.clearMemo(spark)
    val t0 = System.nanoTime()
    tr.span("iter", i) {
      db = new WeatherDb(spark, dir)
      tr.span("tsdb.Series", i) {
        Seq(TsQueries.meta(spark, dir), TsQueries.rawDaily(spark, dir), TsQueries.ref(spark, dir))
          .foreach(_.count())
      }
      tr.span("tsdb.QualityCheck", i)(db.qc.count())
      tr.span("tsdb.Fillup", i)(db.filled.count())
      tr.span("tsdb.Richter", i)(noop(db.broker.updateDb))
      tr.span("tsdb.Aggregate", i)(noop(Aggregate.aggMonthSum(db.filled)))
      tr.span("api.ModelExport", i)(db.groupStations.createTs(export.getPath))
    }
    val lat = secondsSince(t0)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil else Seq(f)
    val files = walk(export)
    counters("api.ModelExport.files") = files.length.toDouble
    counters("api.ModelExport.mb") = files.map(_.length).sum / Tracer.MB
    lat
  }

  /** `Neighbors.knnDistBucketed` memoizes per meta plan for the life of
    * the session (`clearMemo` does not reach it), so only a session's
    * first operation computes it. Timed here on a copy of the history's
    * meta rows as a local relation, a plan the memo has not seen. */
  private def coldKnn(): Unit = {
    val meta = TsQueries.meta(spark, dir)
    val fresh = spark.createDataFrame(java.util.Arrays.asList(meta.collect(): _*), meta.schema)
    tr.span("tsdb.Neighbors", 0)(Neighbors.knnDistBucketed(fresh))
  }

  /** The cold knn, then the last-import merge and the station reads on
    * one materialized history: its memoized qc and filled frames and its
    * corrected series. */
  override def extras(): Unit = {
    coldKnn()
    TsQueries.clearMemo(spark)
    val base = new WeatherDb(spark, dir)
    val corr = materialize(base.corr)
    try {
      new LastImport(c).run(base, corr)
      new Reads(c).run(base, corr)
    } finally {
      corr.unpersist()
      TsQueries.clearMemo(spark)
    }
  }

  def layers(ops: Int, cores: Int): Seq[(String, Double)] = {
    val tsdb = Seq("tsdb.Series", "tsdb.QualityCheck", "tsdb.Fillup", "tsdb.Richter",
      "tsdb.Aggregate").flatMap(tr.layer(_, ops, cores)) ++ tr.layer("tsdb.Neighbors", 1, cores)
    val full = tsdb.collect {
      case (k, v) if Seq("QualityCheck", "Fillup", "Richter").exists(s => k == s"tsdb.$s.wall_s") => v
    }.sum
    val broker = Seq("api.Broker.qc", "api.Broker.fill", "api.Broker.corr")
      .flatMap(tr.layer(_, 1, cores))
    val brokerS = broker.collect { case (k, v) if k.endsWith(".wall_s") => v }.sum
    tsdb ++ tr.layer("api.ModelExport", ops, cores) ++ broker ++
      Seq("tsdb.Incremental.vs_full" -> (if (full > 0) brokerS / full else 0.0)) ++
      Seq("api.Station.plan", "api.Station.exec").flatMap(tr.layer(_, Reads.Count, cores))
  }
}

/** The last-import merge: on the history's materialized qc, filled and
  * corr frames, the broker's qc → fill → corr calls merge the
  * import window, each merged frame persisted and counted as a caller
  * would. Checks IncrementalSpec's contract stage by stage on the
  * affected range [lo - Reach, hi]: the merged qc equals a full QC of
  * the updated input, the merged filled a full fill-up of the merged
  * qc, the merged corr a full correction of the merged filled. */
final class LastImport(c: Ctx) {
  import c._
  private val (loD, hiD) = (Date.valueOf(lo), Date.valueOf(hi))

  def run(base: WeatherDb, prevCorr: DataFrame): Unit = {
    val held = ArrayBuffer.empty[DataFrame]
    val db = new WeatherDb(spark, s"$inputs/updated")
    db.markLastImport(TimestampPeriod(Some(lo), Some(hi)))
    val b = db.broker
    val t0 = System.nanoTime()
    val qc = tr.span("api.Broker.qc", 0)(materialize(b.lastImpQualityCheck(base.qc, loD, hiD)))
    val filled = tr.span("api.Broker.fill", 0)(materialize(b.lastImpFillup(base.filled, qc, loD, hiD)))
    val corr = tr.span("api.Broker.corr", 0)(materialize(b.lastImpCorr(prevCorr, filled, loD, hiD)))
    phase("lastimp_s", secondsSince(t0))
    held ++= Seq(qc, filled, corr)

    val affected = col("day").between(lit(Date.valueOf(lo.minusDays(Incremental.Reach))), lit(hiD))
    def cols(df: DataFrame, like: DataFrame) = df.select(like.columns.map(col): _*)
    // the affected range is a few days of every station: small enough to
    // compare in the harness
    def rows(df: DataFrame) = df.filter(affected).collect().toSeq
    def stage(name: String, merged: DataFrame, full: DataFrame): Unit = {
      val (m, f) = (checked(rows(merged)), rows(cols(full, merged)))
      val (nm, nf, d) = (m.size, f.size, Workload.symDiff(m, f))
      check(nm > 0 && nm == nf && d == 0,
        s"last-import $name != full recompute on the affected range: rows $nm vs $nf, $d differ")
    }
    // `db` is also the full recompute: its qc, filled and corr run the
    // whole cycle over the updated input
    stage("qc", qc, db.qc)
    stage("filled", filled, Fillup.fillNeighbor(qc, db.meta))
    stage("corr", corr, Richter.correct(spark, filled, db.tempFilled, db.meta))
    // Not a check: the chained merge keeps history QC computed with the
    // old multi-annual means, so its corr can differ from a full
    // recompute of the updated input. Counted, so a change shows.
    counters("tsdb.Incremental.stale_rows") =
      Workload.symDiff(rows(corr), rows(cols(db.corr, corr))).toDouble / 2
    held.foreach(_.unpersist())
  }
}

object Reads {
  /** Traced reads per traced run. */
  val Count = 20
}

/** Single-station reads on the history's materialized state: a seeded
  * mix of `Station.getDf` (raw/qc/filled over 30 days, or aggregated to
  * months), `getCorr` and `getNeighbors`, each checked against the
  * matching slice of the persisted frames. */
final class Reads(c: Ctx) {
  import c._
  private val rnd = new scala.util.Random(seed)

  private sealed trait Call
  private final case class Frame(build: () => DataFrame, want: Seq[Row]) extends Call
  private final case class Ids(call: () => Seq[Long], want: Seq[Long]) extends Call

  def run(db: WeatherDb, corr: DataFrame): Unit = {
    def bySt(df: DataFrame, order: String): Map[Long, Seq[Row]] =
      df.orderBy("station_id", order).collect().toSeq.groupBy(_.getLong(0))
        .map { case (k, rows) => k -> rows.map(r => Row.fromSeq(r.toSeq.tail)) }
    val daily = bySt(db.filled.select("station_id", "day", "raw", "qc", "filled"), "day")
    val corrRows = bySt(corr.select("station_id", "day", "corr"), "day")
    val monthly = bySt(Aggregate.aggTo(db.filled, "day", "day", "month", mean = false,
      Seq("qc", "filled")).select("station_id", "month", "qc", "filled", "qc_na_share",
      "filled_na_share"), "month")
    val knn = Neighbors.knnDist(db.meta, Constants.NeighborK, onlyReal = true)
      .orderBy("station_id", "rank").collect().toSeq.groupBy(_.getLong(0))
      .map { case (k, rows) => k -> rows.map(_.getLong(2)) }
    val stations = daily.keys.toArray.sorted
    val days = daily.values.flatten.map(_.getDate(0).toLocalDate)
    val (d0, d1) = (days.minBy(_.toEpochDay), days.maxBy(_.toEpochDay))

    def window(n: Int): (LocalDate, LocalDate) = {
      val span = (d1.toEpochDay - d0.toEpochDay).toInt + 1
      val s = d0.plusDays(rnd.nextInt(math.max(1, span - n + 1)).toLong)
      (s, s.plusDays(n - 1L))
    }
    def inRange(rows: Seq[Row], a: LocalDate, b: LocalDate): Seq[Row] =
      rows.filter { r => val d = r.getDate(0).toLocalDate; !d.isBefore(a) && !d.isAfter(b) }
    def period(a: LocalDate, b: LocalDate) = TimestampPeriod(Some(a), Some(b))

    def next(): (String, Call) = {
      val st = stations(rnd.nextInt(stations.length))
      val s = db.station(st)
      rnd.nextInt(5) match {
        case 0 | 1 =>
          val (a, b) = window(30)
          "getDf" -> Frame(() => s.getDf(Seq("raw", "qc", "filled"), period(a, b)),
            inRange(daily.getOrElse(st, Nil), a, b))
        case 2 =>
          val first = d0.withDayOfMonth(1)
          val months = (d1.getYear - first.getYear) * 12 + d1.getMonthValue - first.getMonthValue + 1
          val a = first.plusMonths(rnd.nextInt(months).toLong)
          val b = a.plusMonths(1L + rnd.nextInt(2)).minusDays(1)
          "getDf_month" -> Frame(() => s.getDf(Seq("qc", "filled"), period(a, b), aggTo = "month"),
            inRange(monthly.getOrElse(st, Nil), a, b))
        case 3 =>
          val (a, b) = window(30)
          "getCorr" -> Frame(() => s.getCorr(period(a, b)), inRange(corrRows.getOrElse(st, Nil), a, b))
        case _ =>
          "getNeighbors" -> Ids(() => s.getNeighbors(), knn.getOrElse(st, Nil))
      }
    }

    def read(i: Int): Unit = {
      val (kind, call) = next()
      val t0 = System.nanoTime()
      val ok = call match {
        case Frame(build, want) =>
          val df = tr.span("api.Station.plan", i)(build())
          val got = tr.span("api.Station.exec", i)(df.collect().toSeq)
          if (i >= 0) phase("read_ms", secondsSince(t0) * 1e3)
          Workload.sameRows(checked(got), want)
        case Ids(get, want) =>
          val got = tr.span("api.Station.exec", i)(get())
          if (i >= 0) phase("read_ms", secondsSince(t0) * 1e3)
          checked(got) == want
      }
      check(ok, s"read $i ($kind): result differs from the persisted slice")
    }

    (-2 until 0).foreach(read) // warm-up reads, outside the layer metrics
    (0 until Reads.Count).foreach(read)
    val names = Seq("api.Station.plan", "api.Station.exec")
    counters("api.Station.jobs_per_read") = names.map(tr.jobs).sum.toDouble / Reads.Count
    counters("api.Station.tasks_per_read") = names.map(tr.tasks).sum.toDouble / Reads.Count
  }
}

/** corpus_clean: `Corpus.clean` over the seeded corpus, its result
  * materialized (inside `clean`) and released per operation. */
final class Clean(c: Ctx) extends Workload(c) {
  import c._
  private val docs = Tables.documents(spark, inputs)
  private val out = ArrayBuffer.empty[DataFrame]

  def build(): Unit = clean()

  def op(i: Int): Double = {
    val t0 = System.nanoTime()
    out += Corpus.clean(docs)
    secondsSince(t0)
  }

  def clean(): Unit = { out.foreach(_.unpersist()); out.clear() }

  /** The clean result goes to the DuckDB oracle (`LlmOracle.qCorpusClean`). */
  def gate(): Unit = oracleResult("q_corpus_clean", checked(out.last), LlmOracle.qCorpusClean)

  /** `Corpus.clean` under one span; then, outside the operation, the
    * functions it calls, one by one on the same docs: its
    * language/quality gate (`TextAnalysis.langQualityGate`, persisted as
    * `clean` persists it), the near-duplicate pairs of the gate-passing
    * docs, and their connected components. Returns the latency of the
    * `clean` call alone. */
  def traced(i: Int): Double = {
    val t0 = System.nanoTime()
    val cleaned = tr.span("iter", i)(tr.span("llm.Corpus", i)(Corpus.clean(docs)))
    val lat = secondsSince(t0)
    out += cleaned
    val gate = tr.span("text.TextAnalysis", i)(materialize(graft.perfbench.Bridge.langQualityGate(docs)))
    out += gate
    val passing = docs.join(gate.filter(col("predicted") === "en" && col("quality_score") >= 0.2)
      .select("doc_id"), Seq("doc_id"), "left_semi")
    val pairs = tr.span("dedup.Dedup.jaccardPairs", i)(Dedup.jaccardPairs(passing, 0.5))
    out += pairs
    val comps = tr.span("dedup.Dedup.componentsFromPairs", i) {
      materialize(Dedup.componentsFromPairs(passing.select("doc_id"), pairs.select("id_a", "id_b")))
    }
    out += comps
    counters("dedup.Dedup.pairs") = pairs.count().toDouble
    counters("dedup.Dedup.components") = comps.select("comp").distinct().count().toDouble
    counters("llm.Corpus.keep_ratio") = cleaned.filter(col("keep")).count().toDouble / cleaned.count()
    lat
  }

  def layers(ops: Int, cores: Int): Seq[(String, Double)] =
    Seq("llm.Corpus", "text.TextAnalysis", "dedup.Dedup.jaccardPairs",
      "dedup.Dedup.componentsFromPairs").flatMap(tr.layer(_, ops, cores))
}
