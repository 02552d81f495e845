package lakebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution

import graft.{MetricsHarvest, SparkEntry}
import graft.sources.LakehouseTable
import graft.sql.GraftSql

/** The benchmark's driver process. It calls only the engine's public entry
  * points (`SparkEntry.queries`, `GraftSql.sql`, `LakehouseTable.read`) and
  * checks every answer against DuckDB's, computed beforehand.
  *
  *   oracle <q1,q2,...> <out.json>   write each query's DuckDB SQL twin
  *   run <spec.json>                  run one workload (see run.py)
  *
  * `run` prints one JSON object as its last stdout line: the attempted and
  * failed operation counts, the end-to-end metrics, and, for a traced run,
  * the per-layer metrics. A traced run also writes one record per
  * operation to the spec's `records` file.
  */
object Harness {
  val json = new ObjectMapper()

  def main(args: Array[String]): Unit = args.toList match {
    case "oracle" :: queries :: out :: Nil =>
      val node = json.createObjectNode()
      queries.split(',').foreach(q => SparkEntry.oracleSql.get(q).foreach(node.put(q, _)))
      json.writeValue(new java.io.File(out), node)
    case "run" :: spec :: Nil =>
      new Run(json.readTree(new java.io.File(spec))).apply()
      System.out.flush()
      sys.exit(0)
    case _ =>
      System.err.println("usage: Harness oracle <q1,q2,...> <out.json> | run <spec.json>")
      sys.exit(2)
  }

  /** One timed operation: a query, a statement, or a read after a commit.
    * `slot` names the operation's place in a pass (a query name, or a
    * statement's position in the write stream), so passes line up. */
  final case class Op(slot: String, kind: String, pass: Int, traced: Boolean,
      ok: Boolean, secs: Double, error: String,
      layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty)

  /** Whether `rows` are DuckDB's answer `want`, a JSON array of rows, in
    * order: numbers equal to a relative 1e-9, everything else exactly. */
  def sameRows(rows: Array[Row], want: JsonNode): Boolean =
    rows.length == want.size && rows.indices.forall { i =>
      val (r, w) = (rows(i), want.get(i))
      r.length == w.size && (0 until r.length).forall(j => sameValue(r.get(j), w.get(j)))
    }

  private def sameValue(v: Any, w: JsonNode): Boolean = v match {
    case null => w.isNull
    case s: String => w.isTextual && w.asText == s
    case b: Boolean => w.isBoolean && w.asBoolean == b
    case n: java.lang.Number if w.isNumber =>
      val (a, b) = (n.doubleValue, w.asDouble)
      a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    case _ => false
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

final class Run(spec: JsonNode) {
  import Harness._

  private val cpus = spec.get("cpus").asInt()
  private val seconds = spec.get("seconds").asDouble()
  private val seed = spec.get("seed").asLong()
  private val traceOn = spec.get("trace").asInt() == 1
  private val setupDirs = spec.get("setup_dirs").elements().asScala.map(_.asText()).toSeq
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val setupSecs = mutable.ArrayBuffer.empty[Double]
  private val firstCall = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val report = mutable.LinkedHashMap.empty[String, Double]
  private val trace = if (traceOn) Some(new Trace) else None
  private var seq = 0L

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    trace.foreach(s.sparkContext.addSparkListener(_))
    s
  }

  private def now(): Long = System.nanoTime()
  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
  private def errorOf(t: Throwable): String =
    s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}"

  /** Runs `body` under job group `<id>:<phase>` when `traced`. */
  private def phase[T](spark: SparkSession, id: String, p: String, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      spark.sparkContext.setJobGroup(s"$id:$p", id)
      try body finally spark.sparkContext.clearJobGroup()
    }

  /** Listener totals of a traced operation, after the bus has delivered
    * them; `window` is the action's wall-clock span in millis. Only a query
    * or a read has a construction phase of its own. */
  private def listenerLayers(spark: SparkSession, id: String, window: (Long, Long),
      constructs: Boolean, into: mutable.LinkedHashMap[String, Double]): Unit = trace.foreach { tr =>
    tr.drain(spark.sparkContext)
    val c = tr.get(s"$id:c"); val a = tr.get(s"$id:a")
    if (constructs) into("operators.construct_jobs") = c.jobs.toDouble
    into("spark.jobs") = (c.jobs + a.jobs).toDouble
    into("spark.stages") = (c.stages + a.stages).toDouble
    into("spark.tasks") = (c.tasks + a.tasks).toDouble
    into("spark.job_ms") = (c.jobSpans ++ a.jobSpans).map { case (s, e) => e - s }.sum.toDouble
    into("spark.driver_gap_ms") = Trace.uncoveredMs(window._1, window._2, a.jobSpans.toSeq).toDouble
    into("exec.task_run_ms") = (c.runMs + a.runMs).toDouble
    into("exec.task_cpu_ms") = (c.cpuNs + a.cpuNs) / 1e6
    into("exec.gc_ms") = (c.gcMs + a.gcMs).toDouble
    into("exec.input_bytes") = (c.inputBytes + a.inputBytes).toDouble
    into("exec.shuffle_write_bytes") = (c.shuffleWrite + a.shuffleWrite).toDouble
    into("exec.shuffle_read_bytes") = (c.shuffleRead + a.shuffleRead).toDouble
    into("exec.spill_bytes") = (c.spill + a.spill).toDouble
  }

  /** Times one operation. A query or a read builds its frame with
    * `construct` and collects it, as a client reading the answer would; its
    * `check` then judges the rows, outside the timed span. A statement has
    * no check: `construct` runs it, and that call is its action.
    *
    * Traced, a query splits into construction, the Catalyst phases of the
    * collected plan, and the collect itself. Analysis is read from the
    * plan's `QueryPlanningTracker`, since a frame is analysed as it is
    * built; optimization and physical planning are forced and timed in turn
    * before the collect runs. The executed plan's metrics are harvested
    * after the timer stops. */
  private def timed(spark: SparkSession, slot: String, kind: String, pass: Int,
      traced: Boolean)(construct: => DataFrame)(check: Option[Array[Row] => Boolean]): Op = {
    seq += 1
    val id = s"op$seq"
    val layers = mutable.LinkedHashMap.empty[String, Double]
    var window = (0L, 0L)
    var collected: Option[QueryExecution] = None
    def action[T](body: => T): T = phase(spark, id, "a", traced) {
      val w0 = System.currentTimeMillis()
      try body finally window = (w0, System.currentTimeMillis())
    }
    val t0 = now()
    val res = Try(check match {
      case None =>
        action(construct)
        Array.empty[Row]
      case Some(_) =>
        val df = phase(spark, id, "c", traced)(construct)
        if (!traced) df.collect()
        else {
          layers("operators.construct_ms") = ms(t0, now())
          val qe = df.queryExecution
          layers("catalyst.analysis_ms") =
            qe.tracker.phases.get(QueryPlanningTracker.ANALYSIS).map(_.durationMs.toDouble).getOrElse(0.0)
          action {
            val p0 = now(); qe.optimizedPlan
            val p1 = now(); qe.executedPlan
            val p2 = now()
            layers("catalyst.optimization_ms") = ms(p0, p1)
            layers("catalyst.planning_ms") = ms(p1, p2)
            val rows = df.collect()
            collected = Some(qe)
            rows
          }
        }
    })
    val secs = secsSince(t0)
    if (traced) {
      if (check.isEmpty) layers(s"sql.${kind}_ms") = secs * 1e3
      collected.foreach { qe =>
        val h = MetricsHarvest.of(qe.executedPlan)
        layers("plan.files_read") = h.filesRead.toDouble
        layers("plan.exchanges") = h.exchanges.toDouble
      }
      listenerLayers(spark, id, window, check.nonEmpty, layers)
    }
    res.map(rows => check.forall(_(rows))) match {
      case Success(ok) => Op(slot, kind, pass, traced, ok, secs, if (ok) "" else "wrong result", layers)
      case Failure(e)  => Op(slot, kind, pass, traced, false, secs, errorOf(e), layers)
    }
  }

  def apply(): Unit = {
    val kind = spec.get("kind").asText()
    val spark = if (kind == "queries") queries() else writes()
    // end-of-run state, with the session and its memos still alive
    val cached = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    report("cache_mb") = cached.map(r => r.memSize + r.diskSize).sum / 1048576.0
    report("cache.rdds") = cached.length.toDouble
    // live heap: the least in-use heap seen right after each of a few full
    // GCs, once the listener bus holds no undelivered events
    org.apache.spark.LakebenchBus.drain(spark.sparkContext)
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    report("heap_live_mb") = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250) // lets Spark's ContextCleaner drop what the GC freed
      heap.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    spark.stop()
    emit()
  }

  // ---- query workloads ------------------------------------------------------

  private def queries(): SparkSession = {
    val expected = spec.get("expected")
    val fns = mutable.LinkedHashMap.empty[String, ((SparkSession, String) => DataFrame, JsonNode)]
    expected.fieldNames().asScala.toSeq.sorted.foreach { q =>
      fns(q) = (SparkEntry.queries(q), expected.get(q))
    }
    // self-test: one query that throws and one that answers wrongly must
    // both be counted as failed and kept out of the latency samples
    if (spec.path("selftest").asBoolean(false)) {
      fns("selftest_throws") = ((_, _) => throw new IllegalStateException("deliberate"),
        json.readTree("[]"))
      fns("selftest_wrong") = ((s, _) => s.range(3).toDF(), json.readTree("[[0],[1],[3]]"))
    }
    val names = fns.keys.toSeq
    def runOne(spark: SparkSession, dir: String, q: String, pass: Int, traced: Boolean): Op = {
      val (fn, want) = fns(q)
      timed(spark, q, "query", pass, traced)(fn(spark, dir))(Some(sameRows(_, want)))
    }
    // set-up: a fresh session, then every query once on a fresh copy of the
    // inputs (so every derived-table and cached-relation build happens
    // again); repeated, the last session serves the measured passes
    var spark: SparkSession = null
    var dir = ""
    setupDirs.zipWithIndex.foreach { case (d, i) =>
      if (spark != null) spark.stop()
      val t0 = now()
      spark = newSession()
      names.foreach { q =>
        val op = runOne(spark, d, q, -1 - i, traced = false)
        ops += op
        firstCall.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += op.secs
      }
      setupSecs += secsSince(t0)
      dir = d
    }
    // measured passes: one closed-loop client, the seed shuffles each pass;
    // a traced run alternates untraced and traced passes
    val rng = new scala.util.Random(seed)
    val t0 = now()
    var pass = 0
    // 100 samples put 10 beyond p90; a failed query is no sample
    def samples = ops.count(o => o.pass >= 0 && o.ok && !o.traced)
    while (more(pass, samples, 100, t0)) {
      val traced = traceOn && pass % 2 == 1
      rng.shuffle(names).foreach(q => ops += runOne(spark, dir, q, pass, traced))
      pass += 1
    }
    spark
  }

  // ---- lakehouse_write ------------------------------------------------------

  private def writes(): SparkSession = {
    val w = spec.get("write")
    val tablesDir = w.get("tables_dir").asText()
    val readSql = w.get("read_sql").asText()
    final case class Stream(source: String, initial: String, stmts: Seq[(String, String, String)])
    def stream(key: String): Stream = {
      val n = w.get(key)
      Stream(n.get("source_sql").asText(), n.get("initial").asText(),
        n.get("stmts").elements().asScala.map { s =>
          (s.get("kind").asText(), s.get("sql").asText(), s.get("expect").asText())
        }.toSeq)
    }
    val warm = stream("warmup")
    val main = stream("stream")

    def read(spark: SparkSession, t: String, slot: String, pass: Int, traced: Boolean,
        want: String): Op =
      timed(spark, slot, "read", pass, traced)(
          GraftSql.sql(spark, readSql.replace("{t}", t)))(Some { rows =>
        val r = rows.head
        s"${r.getLong(0)}|${r.getDecimal(1).toPlainString}" == want
      })

    /** Creates table `t` from the stream's source and runs its statements
      * on it, each followed by the read that checks it. */
    def runStream(spark: SparkSession, t: String, st: Stream, pass: Int, traced: Boolean,
        files: mutable.HashMap[String, Long]): Unit = {
      val root = s"$tablesDir/$t"
      GraftSql.sql(spark, s"CREATE TABLE $t USING graft LOCATION '$root' AS ${st.source}")
      scanFiles(root, files)
      ops += read(spark, t, "s00:read", pass, traced, st.initial)
      st.stmts.zipWithIndex.foreach { case ((kind, sql, want), i) =>
        val slot = f"s${i + 1}%02d"
        val op = timed(spark, s"$slot:$kind", kind, pass, traced)(
          GraftSql.sql(spark, sql.replace("{t}", t)))(None)
        ops += op
        scanFiles(root, files)
        if (traced) {
          val t0 = now(); LakehouseTable.read(spark, root)
          val t1 = now(); LakehouseTable.read(spark, root)
          op.layers("sources.read_cold_ms") = ms(t0, t1)
          op.layers("sources.read_warm_ms") = ms(t1, now())
        }
        ops += read(spark, t, s"$slot:read", pass, traced, want)
      }
    }

    var spark: SparkSession = null
    setupDirs.zipWithIndex.foreach { case (d, i) =>
      if (spark != null) spark.stop()
      val t0 = now()
      spark = newSession()
      graft.sources.Tables.registerAll(spark, d)
      val before = ops.size
      runStream(spark, s"lb_warm$i", warm, -1 - i, traced = false, mutable.HashMap.empty)
      ops.drop(before).foreach { op =>
        firstCall.getOrElseUpdate(op.slot, mutable.ArrayBuffer.empty) += op.secs
      }
      setupSecs += secsSince(t0)
    }
    // measured rounds: each runs the whole seeded stream on a fresh table
    val t0 = now()
    var round = 0
    while (more(round, round * (main.stmts.size + 1), 0, t0)) {
      val traced = traceOn && round % 2 == 1
      val t = s"lb_round$round"
      val files = mutable.HashMap.empty[String, Long]
      runStream(spark, t, main, round, traced, files)
      storage(s"$tablesDir/$t", files, round)
      round += 1
    }
    spark
  }

  /** Whether to start another measured pass: until the time is up, with at
    * least three passes (two of each kind when traced) and, untraced, at
    * least `minSamples` latency samples. */
  private def more(passes: Int, samples: Int, minSamples: Int, t0: Long): Boolean =
    if (traceOn) passes < 4 || secsSince(t0) < seconds
    else passes < 3 || samples < minSamples || secsSince(t0) < seconds

  /** Records every data file present under the table root, with its size:
    * called after each commit, so files a later VACUUM deletes still count
    * as written. */
  private def scanFiles(root: String, into: mutable.HashMap[String, Long]): Unit = {
    val data = Paths.get(root, "data")
    if (Files.isDirectory(data)) {
      val s = Files.walk(data)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .foreach(p => into.getOrElseUpdate(p.toString, Try(Files.size(p)).getOrElse(0L)))
      finally s.close()
    }
  }

  private val storageRounds = mutable.ArrayBuffer.empty[Map[String, Double]]

  private def storage(root: String, written: mutable.HashMap[String, Long], round: Int): Unit = {
    val v = LakehouseTable.currentVersion(root).getOrElse(0L)
    val live = LakehouseTable.manifestFiles(root, v)
    val liveBytes = live.map(LakehouseTable.dataFileSize(root, _)).sum
    val commits = ops.count(o => o.pass == round && o.kind != "read")
    storageRounds += Map(
      "storage.versions" -> (v + 1).toDouble,
      "storage.files_live" -> live.size.toDouble,
      "storage.files_written" -> written.size.toDouble,
      "storage.bytes_written" -> written.values.sum.toDouble,
      "storage.files_rewritten_per_commit" -> written.size.toDouble / math.max(1, commits),
      "write_amp" -> written.values.sum.toDouble / math.max(1L, liveBytes))
  }

  // ---- results --------------------------------------------------------------

  private def emit(): Unit = {
    val measured = ops.filter(_.pass >= 0)
    val good = measured.filter(_.ok)
    val untraced = good.filter(!_.traced)
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    e2e("setup_s") = median(setupSecs.toSeq)
    def slotMedians(xs: Seq[Op], f: Op => Double): Seq[Double] =
      xs.groupBy(_.slot).values.map(g => median(g.map(f))).toSeq
    /** Sum over slots of the slot's median time across passes. */
    def perPassTotal(xs: Seq[Op], f: Op => Double): Double = slotMedians(xs, f).sum
    e2e("total_s") = perPassTotal(untraced.toSeq, _.secs)
    // latency samples: every query execution; on the write stream, whose
    // three rounds repeat one fixed sequence, each position's median
    val queries = spec.get("kind").asText() == "queries"
    def latencies(xs: Seq[Op]): Seq[Double] =
      if (queries) xs.map(_.secs) else slotMedians(xs, _.secs)
    val queryLat = latencies(untraced.filter(o => o.kind == "query" || o.kind == "read").toSeq)
    e2e("query_p50_s") = median(queryLat)
    e2e("query_p90_s") = quantile(queryLat, 0.9)
    e2e("heap_live_mb") = report("heap_live_mb")
    report("failed_frac") = ops.count(!_.ok).toDouble / ops.size
    report("samples") = queryLat.size.toDouble
    report("passes") = measured.map(_.pass).distinct.size.toDouble
    val commits = latencies(untraced.filter(o => o.kind != "read" && o.kind != "query").toSeq)
    if (commits.nonEmpty) {
      report("commit_p50_s") = median(commits)
      report("commit_p90_s") = quantile(commits, 0.9)
      // the first read after each commit (every read but the initial one)
      report("read_after_commit_p50_s") = median(latencies(
        untraced.filter(o => o.kind == "read" && o.slot != "s00:read").toSeq))
      storageRounds.headOption.foreach(_.keys.foreach { k =>
        report(k) = median(storageRounds.map(_(k)).toSeq)
      })
    }
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (traceOn) {
      val traced = good.filter(_.traced).toSeq
      val keys = traced.flatMap(_.layers.keys).distinct
      keys.foreach { k =>
        layers(k) = perPassTotal(traced.filter(_.layers.contains(k)), _.layers(k))
      }
      layers("operators.construct_p50_ms") =
        median(traced.flatMap(_.layers.get("operators.construct_ms")))
      layers("setup.first_call_s") = firstCall.values.map(b => median(b.toSeq)).sum
      layers("cache.rdds") = report("cache.rdds")
      val tracedTotal = perPassTotal(traced, _.secs)
      layers("trace.total_s") = tracedTotal
      layers("trace.overhead_frac") = tracedTotal / e2e("total_s") - 1.0
      storageRounds.headOption.foreach(_.keys.filter(_.startsWith("storage.")).foreach { k =>
        layers(k) = report(k)
      })
    }
    writeRecords()
    val out = json.createObjectNode()
    out.put("attempted", ops.size)
    out.put("failed", ops.count(!_.ok))
    val f = out.putArray("failures")
    ops.filter(!_.ok).take(20).foreach(o => f.add(s"${o.slot} (pass ${o.pass}): ${o.error}"))
    out.putArray("failed_slots").addAll(
      ops.filter(!_.ok).map(_.slot).distinct.sorted.map(json.getNodeFactory.textNode(_): JsonNode).asJava)
    def put(name: String, m: collection.Map[String, Double]): Unit = {
      val n = out.putObject(name); m.foreach { case (k, v) => n.put(k, v) }
    }
    put("end_to_end", e2e)
    put("per_layer", layers)
    put("report", report)
    out.putArray("setup_runs_s").addAll(
      setupSecs.map(s => json.getNodeFactory.numberNode(s): JsonNode).asJava)
    println(json.writeValueAsString(out))
  }

  private def writeRecords(): Unit = {
    val path = spec.get("records").asText()
    val w = Files.newBufferedWriter(Paths.get(path))
    try ops.foreach { o =>
      val n = json.createObjectNode()
      n.put("slot", o.slot).put("kind", o.kind).put("pass", o.pass)
        .put("traced", o.traced).put("ok", o.ok).put("secs", o.secs)
      if (o.error.nonEmpty) n.put("error", o.error)
      o.layers.foreach { case (k, v) => n.put(k, v) }
      if (o.pass < 0) n.put("setup.first_call_s", o.secs)
      w.write(json.writeValueAsString(n)); w.newLine()
    } finally w.close()
  }
}
