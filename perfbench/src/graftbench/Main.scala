package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.Reports
import graft.etl.Etl
import graft.gen.HealthcareGenerator
import graft.marts.Dimensions
import graft.model.Config
import graft.operators.{TableVersions, TextAnalysis}
import graft.runner.VersionedLakehouse

/** One benchmark run: set-up, a timed closed loop with one client, then
  * output checks. Writes its raw record (operation spans, checks, table
  * file sets, and in a traced run the Spark figures) as JSON; the
  * metrics are computed from that record by `perfbench/metrics.py`.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --work <dir> --out <file>
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: String, out: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("cores").toInt, kv("work"), kv("out"))
    require(Workloads.names.contains(o.workload), s"unknown workload ${o.workload}")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", s"${o.work}/warehouse")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .config("spark.local.dir", s"${o.work}/tmp")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).count() // the first job starts the scheduler; count it as session start
    val run = new Run(spark, o, (System.nanoTime() - t0) / 1e9)
    try Workloads.run(o.workload, run)
    catch { case t: Throwable => run.fatal(t) }
    run.write()
    spark.stop()
  }
}

/** The harness: operation spans, checks, set-up repetitions, the timed
  * loop, and the traced cycles.
  */
final case class Op(id: String, kind: String, name: String, cycle: Int, traced: Boolean,
    start: Long, end: Long, durS: Double, ok: Boolean, parts: Map[String, Double])

final class Run(val spark: SparkSession, val o: Main.Opts, sessionStartS: Double) {

  val ops = mutable.ArrayBuffer.empty[Op]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val setupS = mutable.ArrayBuffer.empty[Double]
  val tables = mutable.LinkedHashMap.empty[String, String]
  val notes = mutable.ArrayBuffer.empty[String]
  private val tracer = if (o.trace) Some(new Tracer) else None
  private var traceOn = false
  private var fences = 0
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** In a traced run, cycles 2i+1 are traced and their even neighbours
    * are not; the difference is the tracing overhead.
    */
  def isTraced(cycle: Int, tracedCycles: Int): Boolean =
    o.trace && cycle % 2 == 1 && cycle < 2 * tracedCycles

  /** Runs one operation under its own job group. `body` returns false
    * when the operation's output check fails; an exception also counts
    * as a failure. Extra timings or counts go to `parts`.
    */
  def op(kind: String, name: String, cycle: Int, traced: Boolean)(
      body: mutable.Map[String, Double] => Boolean): Boolean = {
    val id = s"op-${ops.size}"
    if (traced != traceOn) setTracing(traced)
    val sc = spark.sparkContext
    val parts = mutable.LinkedHashMap.empty[String, Double]
    sc.setJobGroup(id, s"$kind $name")
    val gc0 = gcMs
    val start = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val ok = try body(parts) catch {
      case t: Throwable =>
        notes += s"$kind $name failed: ${t.getClass.getName}: ${t.getMessage}".take(400)
        false
    } finally sc.clearJobGroup()
    val dur = (System.nanoTime() - n0) / 1e9
    val end = System.currentTimeMillis()
    parts("gc_s") = (gcMs - gc0) / 1e3
    ops += Op(id, kind, name, cycle, traced, start, end, dur, ok, parts.toMap)
    ok
  }

  private def setTracing(on: Boolean): Unit = tracer.foreach { t =>
    if (on) {
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    } else {
      fences += 1
      t.fence(spark, fences)
      spark.sparkContext.removeSparkListener(t)
      spark.listenerManager.unregister(t)
    }
    traceOn = on
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
  }

  /** A check whose evaluation itself may throw. */
  def checking(name: String)(body: => (Boolean, String)): Unit = {
    val (ok, d) = try body catch { case t: Throwable => (false, s"${t.getClass.getName}: ${t.getMessage}") }
    check(name, ok, d)
  }

  /** Set-up, repeated `reps` times; each repetition is timed. */
  def setup(reps: Int)(body: Int => Unit): Unit =
    (0 until reps).foreach { r =>
      val n0 = System.nanoTime()
      body(r)
      setupS += (System.nanoTime() - n0) / 1e9
    }

  private var loopStart = 0L

  /** The untraced loop's time budget is spent. */
  def timeUp: Boolean = !o.trace && (System.nanoTime() - loopStart) / 1e9 >= o.seconds

  /** Closed loop: `cycle(i)` runs until the time budget is spent, or
    * until it returns false. A traced run instead runs exactly the
    * alternating untraced/traced cycles, so that its counts cover the
    * same operations on every run with the same seed.
    */
  def loop(tracedCycles: Int)(cycle: Int => Boolean): Unit = {
    loopStart = System.nanoTime()
    def goOn(i: Int): Boolean = if (o.trace) i < 2 * tracedCycles else i == 0 || !timeUp
    var i = 0
    var more = true
    while (more && goOn(i)) {
      more = cycle(i)
      i += 1
    }
    if (traceOn) setTracing(false)
  }

  def fatal(t: Throwable): Unit = {
    val sw = new java.io.StringWriter()
    t.printStackTrace(new java.io.PrintWriter(sw))
    check("workload_completed", ok = false, sw.toString.take(2000))
  }

  /** Relative path → size of every file under `root`. */
  def walk(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => p.relativize(f).toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  private def sizes(m: Map[String, Long]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")

  /** Records one table's file sets for the amplification figures:
    * `before` and `after` are every file under the root, `live` the
    * current snapshot's data files; `userBytes` is the user data the
    * timed loop changed.
    */
  def tableRecord(name: String, root: String, before: Map[String, Long], userBytes: Double,
      versionsBefore: Long): Unit = {
    val after = walk(root)
    val base = Paths.get(root).toAbsolutePath
    def live(v: Option[Long]) = TableVersions.listing(spark, root, v).map { case (f, b) =>
      val p = Paths.get(f.stripPrefix("file:"))
      (if (p.isAbsolute) base.relativize(p).toString else f) -> b }.toMap
    val v = TableVersions.currentVersion(spark, root).getOrElse(-1L)
    tables(name) = Json.obj(Seq("before" -> sizes(before), "after" -> sizes(after),
      "live" -> sizes(live(None)), "live_before" -> sizes(live(Some(versionsBefore))),
      "user_bytes" -> Json.num(userBytes),
      "versions_before" -> versionsBefore.toString, "versions_after" -> v.toString))
  }

  def peakRssMb: Double = {
    val st = Paths.get("/proc/self/status")
    if (!Files.exists(st)) -1.0
    else Files.readAllLines(st).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  def write(): Unit = {
    val opsJ = ops.map { op =>
      Json.obj(Seq("id" -> Json.str(op.id), "kind" -> Json.str(op.kind), "name" -> Json.str(op.name),
        "cycle" -> op.cycle.toString, "traced" -> op.traced.toString, "start" -> op.start.toString,
        "end" -> op.end.toString, "dur_s" -> Json.num(op.durS), "ok" -> op.ok.toString,
        "parts" -> Json.obj(op.parts.toSeq.map { case (k, v) => k -> Json.num(v) })))
    }
    val checksJ = checks.map { case (n, ok, d) =>
      Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d))) }
    val env = Seq("cores" -> o.cores.toString, "heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "jvm" -> Json.str(System.getProperty("java.runtime.version")),
      "spark" -> Json.str(spark.version), "seed" -> o.seed.toString,
      "workload" -> Json.str(o.workload), "traced" -> o.trace.toString)
    val body = Json.obj(Seq(
      "env" -> Json.obj(env),
      "session_start_s" -> Json.num(sessionStartS),
      "setup_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "ops" -> opsJ.mkString("[", ",", "]"),
      "checks" -> checksJ.mkString("[", ",", "]"),
      "tables" -> Json.obj(tables.toSeq),
      "notes" -> notes.map(Json.str).mkString("[", ",", "]"),
      "trace" -> tracer.map(Tracer.toJson).getOrElse("null")))
    Files.write(Paths.get(o.out), body.getBytes("UTF-8"))
  }
}

/** Order-insensitive comparison of small results. */
object Compare {
  /** Rows as strings with floating values rounded to 9 significant
    * digits, so that sums whose order differs between runs compare
    * equal; the multiset of these strings is the fingerprint.
    */
  def norm(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d == 0.0) "0" else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).toString
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case other => other.toString
  }
  def same(a: Seq[Row], b: Seq[Row]): (Boolean, String) = {
    val fa = a.map(norm).sorted
    val fb = b.map(norm).sorted
    if (fa == fb) (true, s"${fa.size} rows")
    else (false, s"${fa.size} vs ${fb.size} rows; first difference: " +
      fa.zipAll(fb, "<none>", "<none>").find { case (x, y) => x != y }.map { case (x, y) => s"$x | $y" }.getOrElse(""))
  }
}

object Workloads {
  val names = Seq("ingest_refresh", "table_dml")

  def run(name: String, r: Run): Unit = name match {
    case "ingest_refresh" => IngestRefresh.run(r)
    case "table_dml" => TableDml.run(r)
  }

  def rmTree(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path)) {
      val s = Files.walk(path)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }
}

/** The reference DAG's loop (ingest, dbt, report; one run at a time):
  * each cycle sends one small batch through the exactly-once incremental
  * refresh and reads it back, then runs the DAG's reports, gates and
  * dimensions and two text-curation operators over the new snapshot, in
  * a seeded order. A large bootstrap keeps the tables' growth over a
  * run small.
  */
object IngestRefresh {
  val BootstrapMessages = 5000L
  val BatchMessages = 250
  val SetupReps = 3
  val WarmupCycles = 2
  val TracedCycles = 2

  type Tables = (DataFrame, DataFrame, DataFrame, DataFrame) // vitals, claims, ehr, fact

  val queries: Seq[(String, Tables => DataFrame)] = {
    val cfg = Config.default
    Seq(
      "patient_monitoring" -> { t => Reports.patientMonitoringReport(cfg)(t._4) },
      "claims_processing" -> { t => Reports.claimsProcessingReport(cfg)(t._4) },
      "pipeline_health" -> { t => Reports.pipelineHealth(cfg)(t._4) },
      "staleness" -> { t => Reports.stalenessCheck(cfg)(t._4) },
      "freshness" -> { t => Reports.freshnessCheck(cfg)(t._1) },
      "quality" -> { t => Reports.qualityCheck(cfg)(t._1) },
      "dim_patients" -> { t => Dimensions.dimPatients(cfg)(t._1, t._2, t._3) },
      "dim_providers" -> { t => Dimensions.dimProviders(cfg)(t._2, t._3) },
      "notes_tfidf" -> { t => TextAnalysis.tfIdfTopTerms(t._3, "record_id", "notes", 3) },
      "notes_tokens" -> { t => TextAnalysis.tokenCounts(t._3, "notes").groupBy("provider_id")
        .agg(sum("ws_tokens").as("ws"), sum("regex_tokens").as("re"), sum("bpe_est_tokens").as("bpe")) })
  }
  val reportNames: Seq[String] = queries.map(_._1) :+ "gates"
  def hardAlert(a: Reports.HealthAlert): Boolean = a.check == "freshness" || a.check == "health"

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val gen = new HealthcareGenerator(r.o.seed, LocalDate.parse("2026-08-12"))
    var lake: VersionedLakehouse = null
    var batches: IndexedSeq[Array[String]] = IndexedSeq.empty
    // a cycle takes seconds, so one batch per second of the budget is ample
    val nBatches = WarmupCycles + r.o.seconds.toInt + 8
    r.setup(SetupReps) { rep =>
      val root = s"${r.o.work}/ingest/r$rep"
      Workloads.rmTree(root)
      lake = new VersionedLakehouse(spark, root, Config.default)
      lake.runEtl(gen.messagesJson(spark, BootstrapMessages).toDF("value"), 0L)
      lake.buildFact()
      val all = gen.messagesJson(spark, BatchMessages.toLong * nBatches, BootstrapMessages).collect()
      batches = all.grouped(BatchMessages).toIndexedSeq
    }
    val roots = Seq("vitals" -> lake.vitalsRoot, "claims" -> lake.claimsRoot,
      "ehr" -> lake.ehrRoot, "fact" -> lake.factRoot)
    // (patient_id, timestamp) of each vitals message: the rows a batch must make visible
    val VitalsKey = "\"data_type\":\"patient_vitals\",\"patient_id\":\"([^\"]+)\",\"timestamp\":\"([^\"]+)\"".r
    var used = 0
    val rng = new Random(r.o.seed)
    val reports = mutable.Map.empty[String, Seq[Row]]
    var gates = Seq.empty[Reports.HealthAlert]
    // cycle i sends batch i + WarmupCycles; the untimed warm-up cycles
    // -WarmupCycles .. -1 send the first batches
    val cycle: Int => Boolean = { i =>
      val b = i + WarmupCycles
      if (b >= batches.size) false
      else {
        val msgs = batches(b)
        val keys = msgs.flatMap(m => VitalsKey.findFirstMatchIn(m).map(x => (x.group(1), x.group(2)))).distinct
        val traced = r.isTraced(i, TracedCycles)
        val factBefore = if (traced) TableVersions.commitState(spark, lake.factRoot).files.map(_.path).toSet else Set.empty[String]
        var affected = Seq.empty[java.sql.Date]
        r.op("refresh", "refresh", i, traced) { parts =>
          val batch = spark.createDataset(msgs.toSeq).toDF("value")
          val t0 = System.nanoTime()
          affected = lake.refreshFactIncremental(batch, (b + 1).toLong)
          val t1 = System.nanoTime()
          val keyDf = keys.toSeq.toDF("patient_id", "ts")
            .select(col("patient_id"), to_timestamp(col("ts")).as("measurement_timestamp"))
          val seen = lake.fact.join(broadcast(keyDf), Seq("patient_id", "measurement_timestamp"), "left_semi")
            .select("patient_id", "measurement_timestamp").distinct().count()
          val t2 = System.nanoTime()
          parts("refresh_s") = (t1 - t0) / 1e9
          parts("visible_s") = (t2 - t1) / 1e9
          parts("messages") = msgs.length
          parts("affected_dates") = affected.size
          if (seen != keys.length)
            r.notes += s"batch $b: ${keys.length} vitals rows sent, $seen visible"
          seen == keys.length
        }
        if (traced) {
          val st = TableVersions.commitState(spark, lake.factRoot)
          val last = r.ops.last
          val dates = st.files.flatMap(_.part.get("measurement_date")).toSet
          val written = st.files.filterNot(f => factBefore.contains(f.path)).map(_.rows).sum
          r.ops(r.ops.size - 1) = last.copy(parts = last.parts ++ Map(
            "fact_dates" -> dates.size.toDouble,
            "affected_fact_dates" -> affected.map(_.toString).count(dates.contains).toDouble,
            "fact_rows_written" -> written.toDouble))
        }
        used = b + 1
        // the DAG's reports over the snapshot the refresh just committed;
        // their results are checked after the loop for the last cycle
        reports.clear()
        rng.shuffle(reportNames).foreach { n =>
          r.op("query", n, i, traced) { parts =>
            val t0 = System.nanoTime()
            val t: Tables = (lake.processedVitals, lake.processedClaims, lake.processedEhr, lake.fact)
            parts("resolve_s") = (System.nanoTime() - t0) / 1e9
            if (n == "gates") {
              gates = Reports.evaluateGates(Config.default)(t._1, t._4)
              !gates.exists(hardAlert)
            } else {
              reports(n) = queries.find(_._1 == n).get._2(t).collect().toSeq
              true
            }
          }
        }
        true
      }
    }
    (-WarmupCycles until 0).foreach(cycle)
    val before = roots.map { case (n, root) => n -> r.walk(root) }.toMap
    val vBefore = roots.map { case (n, root) => n -> TableVersions.currentVersion(spark, root).get }.toMap
    r.loop(TracedCycles)(cycle)
    val userBytes = batches.slice(WarmupCycles, used).map(_.map(_.getBytes("UTF-8").length.toLong).sum).sum.toDouble
    roots.foreach { case (n, root) => r.tableRecord(n, root, before(n), userBytes / roots.size, vBefore(n)) }

    // processed rows equal the routed rows of everything generated
    r.checking("processed_counts_match_routed") {
      val sent = gen.messagesJson(spark, BootstrapMessages).toDF("value")
        .unionByName(batches.take(used).flatten.toSeq.toDF("value"))
        .transform(Etl.pipeline(Config.default)).cache()
      try {
        val want = Seq(Etl.routeVitals(sent).count(), Etl.routeClaims(sent).count(), Etl.routeEhr(sent).count())
        val got = Seq(lake.processedVitals.count(), lake.processedClaims.count(), lake.processedEhr.count())
        (want == got, s"routed $want, processed $got")
      } finally { sent.unpersist(); () }
    }
    // replaying the last batch commits nothing
    if (used > 0) r.checking("replay_commits_nothing") {
      val vs0 = roots.map { case (_, root) => TableVersions.currentVersion(spark, root) }
      lake.refreshFactIncremental(spark.createDataset(batches(used - 1).toSeq).toDF("value"), used.toLong)
      val vs1 = roots.map { case (_, root) => TableVersions.currentVersion(spark, root) }
      (vs0 == vs1, s"versions $vs0 -> $vs1")
    }
    // the last cycle's reports equal the same transforms over the final
    // snapshot's files read as plain parquet
    def plain(root: String): DataFrame =
      spark.read.option("basePath", root).parquet(TableVersions.listing(spark, root).map(_._1): _*)
    val plainTables: Tables = (plain(lake.vitalsRoot), plain(lake.claimsRoot), plain(lake.ehrRoot),
      plain(lake.factRoot).drop("measurement_date"))
    queries.foreach { case (n, q) =>
      r.checking(s"report_$n") { Compare.same(reports.getOrElse(n, Nil), q(plainTables).collect().toSeq) }
    }
    r.checking("health_gates") {
      val want = Reports.evaluateGates(Config.default)(plainTables._1, plainTables._4)
      want.foreach(a => r.notes += s"gate ${a.check}: ${a.message}")
      (gates == want && !want.exists(hardAlert),
        if (want.isEmpty) "all gates pass" else "alerts: " + want.map(_.check).mkString(","))
    }
    // the incrementally refreshed fact equals a full rebuild of the same snapshot
    r.checking("incremental_fact_equals_full_rebuild") {
      val inc = factDigest(lake.fact).collect().toSeq
      lake.buildFact()
      Compare.same(inc, factDigest(lake.fact).collect().toSeq)
    }
  }

  /** Rank-independent per-date digest of the fact: row grain, patients,
    * attached claim and EHR rows, and summed values.
    */
  def factDigest(fact: DataFrame): DataFrame =
    fact.groupBy(to_date(col("measurement_timestamp")).as("d"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("patient_id")).as("n_patients"),
        sum(col("total_claims")).cast("long").as("n_claim_rows"),
        sum(col("total_ehr_records")).cast("long").as("n_ehr_rows"),
        sum(when(col("encounter_type") === "comprehensive", 1L).otherwise(0L)).as("n_comprehensive"),
        sum(col("heart_rate")).cast("long").as("sum_hr"),
        sum(col("total_claim_value").cast(DecimalType(38, 2))).as("claims_total"))
}

/** Row-level writes and reads on one versioned table through the SQL
  * catalog, checked against a driver-side model of the same writes.
  */
object TableDml {
  val Orders = 10000
  val LinesPerOrder = 4
  val SetupReps = 3
  val WarmupRounds = 2
  val TracedCycles = 1
  val schema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_returnflag", StringType),
    StructField("l_shipdate", DateType)))
  val Epoch = LocalDate.parse("1995-01-01")
  val Days = 2000

  final case class Line(qty: Double, priceCents: Long, discount: Double, flag: String, shipDay: Int)

  def mix(seed: Long, a: Long, b: Long): Long = {
    var z = seed ^ (a * 0x9E3779B97F4A7C15L) ^ (b * 0xBF58476D1CE4E5B9L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def line(seed: Long, ok: Long, ln: Int, version: Long): Line = {
    val h = mix(seed ^ version, ok, ln)
    def field(shift: Int, n: Int): Int = (((h >>> shift) & 0xFFFFFL) % n).toInt
    Line(qty = 1 + field(0, 50), priceCents = 90000L + field(20, 9000000),
      discount = field(40, 11) / 100.0, flag = Seq("A", "N", "R")(field(50, 3)), shipDay = field(30, Days))
  }
  def toRow(k: (Long, Int), l: Line): Row =
    Row(k._1, k._2, l.qty, l.priceCents / 100.0, l.discount, l.flag, java.sql.Date.valueOf(Epoch.plusDays(l.shipDay.toLong)))

  def run(r: Run): Unit = {
    val spark = r.spark
    val seed = r.o.seed
    val model = mutable.HashMap.empty[(Long, Int), Line]
    var table = ""
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    r.setup(SetupReps) { rep =>
      table = s"graft.db.lineitem_r$rep"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      model.clear()
      for (ok <- 1L to Orders.toLong; ln <- 1 to LinesPerOrder) model((ok, ln)) = line(seed, ok, ln, 0L)
      val rows = model.toSeq.sortBy(_._1).map { case (k, l) => toRow(k, l) }
      spark.createDataFrame(rows.asJava, schema).createOrReplaceTempView("lineitem_src")
      spark.sql(s"CREATE TABLE $table (l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE, " +
        "l_extendedprice DOUBLE, l_discount DOUBLE, l_returnflag STRING, l_shipdate DATE)")
      spark.sql(s"INSERT INTO $table SELECT * FROM lineitem_src")
    }
    val root = s"${r.o.work}/warehouse/db/${table.split('.').last}"
    val rng = new Random(seed)
    var rowsChanged = 0L
    var nextOrder = Orders.toLong + 1

    val cycle: Int => Boolean = { round =>
      val traced = r.isTraced(round, TracedCycles)
      def merge(): Unit = {
        // ~1% of keys, some of them no longer present, plus new orders
        val picks = (0 until (model.size / 100)).map(_ =>
          (1L + rng.nextInt(Orders), 1 + rng.nextInt(LinesPerOrder))).distinct
        val fresh = (0 until 20).map(j => (nextOrder + j, 1))
        nextOrder += 20
        // a value version per round, distinct from the initial load's 0
        // also for the negative warm-up rounds
        val src = (picks ++ fresh).map(k => k -> line(seed, k._1, k._2, round + 1000L))
        r.op("dml", "merge", round, traced) { _ =>
          spark.createDataFrame(src.map { case (k, l) => toRow(k, l) }.asJava, schema)
            .createOrReplaceTempView("merge_src")
          spark.sql(s"""MERGE INTO $table t USING merge_src s
            |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          true
        }
        src.foreach { case (k, l) => model(k) = l }
        rowsChanged += src.size
      }
      def update(): Unit = {
        val um = rng.nextInt(101)
        r.op("dml", "update", round, traced) { _ =>
          spark.sql(s"UPDATE $table SET l_quantity = l_quantity + 1 WHERE l_orderkey % 101 = $um")
          true
        }
        model.keys.filter(_._1 % 101 == um).foreach { k =>
          val l = model(k); model(k) = l.copy(qty = l.qty + 1); rowsChanged += 1 }
      }
      def delete(): Unit = {
        val dm = rng.nextInt(211)
        r.op("dml", "delete", round, traced) { _ =>
          spark.sql(s"DELETE FROM $table WHERE l_orderkey % 211 = $dm")
          true
        }
        val gone = model.keys.filter(_._1 % 211 == dm).toSeq
        gone.foreach(model.remove)
        rowsChanged += gone.size
      }
      def rangeAggregate(): Unit = {
        val lo = rng.nextInt(Days - 200)
        val hi = lo + 199
        val in = model.values.filter(l => l.shipDay >= lo && l.shipDay <= hi)
        val want = (in.size.toLong, in.map(l => BigDecimal(l.qty)).sum,
          BigDecimal(in.map(_.priceCents).sum) / 100)
        r.op("read", "range_aggregate", round, traced) { _ =>
          val got = spark.sql(s"""SELECT count(*), sum(CAST(l_quantity AS DECIMAL(18,2))),
            |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) FROM $table
            |WHERE l_shipdate BETWEEN DATE'${Epoch.plusDays(lo.toLong)}' AND DATE'${Epoch.plusDays(hi.toLong)}'""".stripMargin)
            .head()
          val ok = got.getLong(0) == want._1 &&
            BigDecimal(got.getDecimal(1)) == want._2 && BigDecimal(got.getDecimal(2)) == want._3
          if (!ok) r.notes += s"range_aggregate round $round: got $got, want $want"
          ok
        }
      }
      def pointLookup(): Unit = {
        val pk = 1L + rng.nextInt(Orders)
        val want = model.toSeq.filter(_._1._1 == pk).map { case (k, l) => toRow(k, l) }
        r.op("read", "point_lookup", round, traced) { _ =>
          val got = spark.sql(s"SELECT * FROM $table WHERE l_orderkey = $pk").collect().toSeq
          val (ok, d) = Compare.same(got, want)
          if (!ok) r.notes += s"point_lookup $pk: $d"
          ok
        }
      }
      def optimize(): Unit =
        r.op("dml", "optimize", round, traced) { _ =>
          spark.sql(s"CALL graft.system.optimize('db.${table.split('.').last}')").collect()
          true
        }
      // compaction closes every round, so each round starts from the same
      // kind of table and no round is cheaper than its neighbour
      val steps = Seq(merge _, update _, delete _, rangeAggregate _, pointLookup _, optimize _)
      // after the first timed round, the loop stops at the first statement past the budget
      steps.forall { step => (round <= 0 || !r.timeUp) && { step(); true } }
    }
    (-WarmupRounds until 0).foreach(cycle) // untimed warm-up rounds
    val before = r.walk(root)
    val v0 = TableVersions.currentVersion(spark, root).get
    val bytesPerRow = TableVersions.listing(spark, root).map(_._2).sum.toDouble / model.size
    rowsChanged = 0L
    r.loop(TracedCycles)(cycle)
    r.tableRecord("lineitem", root, before, rowsChanged * bytesPerRow, v0)
    r.op("vacuum", "vacuum", -1, traced = false) { _ =>
      spark.sql(s"CALL graft.system.vacuum('db.${table.split('.').last}', 2, 0)").collect()
      true
    }
    r.checking("table_equals_model") {
      val got = spark.table(table).collect().toSeq
      val want = model.toSeq.map { case (k, l) => toRow(k, l) }
      Compare.same(got, want)
    }
  }
}
