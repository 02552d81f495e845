package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // timestamp literals in queries assume UTC, like Verify's session
      .config("spark.sql.session.timeZone", "UTC")
      // the SHIPPED session config: bench measures the engine with its
      // extension rules (metadata-only counts, generated-partition
      // pruning) active, exactly as a deployment would run it
      // (SPARK_GRAFT_NO_EXT=1 disables, for isolating rule cost)
      .config("spark.sql.extensions",
        if (sys.env.get("SPARK_GRAFT_NO_EXT").contains("1")) ""
        else "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // Config A/B affordance for the optimization loop (round 17): every
    // SPARK_GRAFT_CONF_<key-with-_-for-.> env var is applied as a session
    // conf AFTER getOrCreate (SQL confs are session-mutable). With none
    // set — the driver's invocation — the session is byte-identical to
    // the shipped config above.
    sys.env.foreach { case (k, v) =>
      if (k.startsWith("SPARK_GRAFT_CONF_"))
        spark.conf.set(k.stripPrefix("SPARK_GRAFT_CONF_")
          .toLowerCase.replace('_', '.'), v)
    }
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_ONLY=q181,q35 restricts the board to the named query
    // prefixes — local A/B iteration on a suspect without paying the
    // full sweep (the committed boards always run everything).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    // Untimed warmup pass: JIT + whole-stage-codegen compilation and parquet
    // footer caches are one-time JVM costs, not query costs — time the
    // steady state (disable with SPARK_GRAFT_WARMUP=0).
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0")
      ordered.foreach { case (_, fn) =>
        try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
      }
    // Median of 3 timed passes per query: a one-sample bench on a shared
    // host records background-load spikes as phantom regressions (round-2
    // verdict: driver tail showed 3.5x "slowdowns" a quiet re-run refuted).
    // The PASS loop is the OUTER one: with the three samples of a query
    // taken back-to-back, a sustained load window inflates all three and
    // the median keeps it (round-3 verdict: the contiguous q79-q91 cluster
    // read 2-5x slow). Sweeping all queries per pass puts a query's samples
    // a full sweep apart, so a load window shorter than a sweep hits
    // different queries in different passes and the per-query median
    // rejects it. Tune passes via SPARK_GRAFT_PASSES for local iteration.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    // A query that throws in any pass is no sample at all: the time it
    // took to fail would read as a fast query. It is named on stderr and
    // in the full line's "failed" array, and kept out of the total.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val samples = (1 to passes).map { _ =>
      ordered.flatMap { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          Some(name -> (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"bench: $name FAILED: $e")
          failed += name
          None
        }
      }.toMap
    }
    val results = ordered.collect { case (name, _) if !failed(name) =>
      val times = samples.map(_(name)).sorted
      name -> times(times.length / 2)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""failed":$failedJson,"sf":"$sfDir"}"""
    println(fullLine)
    // Short total-only line LAST: the per-query line above exceeds a
    // tail-capture's buffer at 100+ queries, truncating its leading
    // "metric":"total" field (BENCH_r03 parsed null). Tails keep the end,
    // so the driver's parse survives any query count via this line.
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir"}""")
    // Stdout of an sbt run is decorated ([info] prefixes, a trailing
    // [success] line), so a parser reading the captured tail sees a
    // non-JSON last line no matter what is printed (BENCH_r01-r04 all
    // parsed null). Persist the bare JSON to a file as the canonical
    // machine-readable artifact.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"bench_out write failed: $e") }
    // Optional measured-plan pass (SPARK_GRAFT_METRICS=1): per query,
    // re-run the serving action once and harvest its executed plan's
    // SQLMetrics (shuffle bytes, scan bytes, files read, exchanges) →
    // metrics_out.json — the quantitative backing for the scale claims.
    if (sys.env.getOrElse("SPARK_GRAFT_METRICS", "0") == "1") {
      val lines = ordered.flatMap { case (name, fn) =>
        try {
          // collect() runs cdf's OWN QueryExecution (head() would clone a
          // limit plan whose metrics we could not see)
          val cdf = fn(spark, sfDir).groupBy().count()
          cdf.collect()
          Some(s""""$name":${MetricsHarvest.of(cdf.queryExecution.executedPlan).json}""")
        } catch { case _: Throwable => None }
      }
      val mPath = sys.env.getOrElse("SPARK_GRAFT_METRICS_OUT", "metrics_out.json")
      try java.nio.file.Files.write(java.nio.file.Paths.get(mPath),
        lines.mkString("{", ",\n ", "}\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"metrics_out write failed: $e") }
    }
    spark.stop()
  }
}
