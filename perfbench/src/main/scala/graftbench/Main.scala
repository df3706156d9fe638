package graftbench

import java.nio.file.{Files, Paths}

/** Entry point of one benchmark run (normally started by `run.py`):
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --smoke <0|1> --out <record.json> --work <scratch dir>
  *      [--provenance <json object>]
  * }}}
  *
  * Runs one workload in this JVM, on the session `graft.BenchSession`
  * builds, and writes the full result record to `--out`: provenance,
  * the metrics, the checks that failed, and (traced runs) the spans. The
  * process exits 0 when the record was written, whatever the checks
  * found; `run.py` turns the record into the result line. */
object Main {
  val Workloads: Map[String, Ctx => Result] = Map(
    "vector_serve" -> VectorServe.run,
    "ingest_sync" -> IngestSync.run,
    "curate_text" -> CurateText.run)

  /** [[graft.MachineCanary]] measures a fixed 2^32-row hash-and-sum job,
    * which takes seconds per repetition on a few cores; the run measures
    * the same job over 1/16 of the rows, before and after the workload,
    * so its factor against `MachineCanary.ReferenceSec` is comparable. */
  val CanaryScale = 16

  def canarySec(spark: org.apache.spark.sql.SparkSession): Double = {
    import org.apache.spark.sql.functions._
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, (1L << 32) / CanaryScale, 1L, 32)
        .select(sum(xxhash64(col("id")).cast("double"))).head()
      (System.nanoTime() - t0) / 1e9
    }
    System.gc() // collect what the work before left, not during the timing
    // unmeasured runs: compiling the query and the JIT's first tiers would
    // otherwise make the canary of a fresh JVM read slower than a warm one
    (1 to 2).foreach(_ => once())
    (1 to 2).map(_ => once()).min
  }

  /** Relative cost of tracing: the probe runs `rounds` times with
    * recording on and as often with it off, interleaved so that drift in
    * the host's speed hits both sides alike; the median traced time over
    * the median untraced time, minus one. */
  def tracingOverhead(spark: org.apache.spark.sql.SparkSession, probe: () => Any,
      rounds: Int): Double = {
    def timed(on: Boolean): Double = {
      Trace.recording = on
      try Util.timeS(Trace.span(spark.sparkContext, "calibration", "probe")(probe()))._2
      finally Trace.recording = true
    }
    val pairs = (1 to rounds).map(i => if (i % 2 == 0) (timed(true), timed(false))
      else { val off = timed(false); (timed(true), off) })
    Util.median(pairs.map(_._1)) / Util.median(pairs.map(_._2)) - 1
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = graft.BenchSession.create()
    spark.sparkContext.setLogLevel("WARN")
    if (traced) Trace.install(spark)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val canaryPre = canarySec(spark)
    val ctx = Ctx(spark, a("seed").toLong, a("seconds").toDouble, a("smoke") == "1",
      traced, work)
    val t0 = System.nanoTime()
    val res = run(ctx)
    val wallS = (System.nanoTime() - t0) / 1e9
    res.overheadProbe.foreach { probe =>
      res.layer("trace.overhead_frac") = (tracingOverhead(spark, probe, res.overheadRounds), "ratio")
    }
    val canaryPost = canarySec(spark)
    res.e2e("rss_peak_mb") = (Util.rssPeakMb(), "MB")

    val ratio = canaryPost / canaryPre
    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "seed" -> ctx.seed,
      "seconds" -> ctx.seconds,
      "smoke" -> ctx.smoke,
      "traced" -> traced,
      "cpus" -> graft.BenchSession.cpus.toInt,
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.version"),
      "canary" -> s"graft.MachineCanary's job at 1/$CanaryScale of its rows, best of 2 after two unmeasured runs",
      "canary_sec_pre" -> canaryPre,
      "canary_sec_post" -> canaryPost,
      "canary_factor_pre" -> canaryPre * CanaryScale / graft.MachineCanary.ReferenceSec,
      "canary_factor_post" -> canaryPost * CanaryScale / graft.MachineCanary.ReferenceSec,
      // the canary is a fixed CPU-bound job: reading more than 25 % slower
      // after the run than before it means the host slowed down during
      // the run (it reads faster after: the JVM has warmed up meanwhile)
      "contended" -> (ratio > 1.25),
      "jvm_to_session_s" -> sessionS,
      "workload_wall_s" -> wallS,
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "failures" -> res.failures.toSeq,
      "e2e" -> res.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> res.layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> res.detail)
    a.get("provenance").foreach(p => record("provenance") = RawJson(p))
    Files.writeString(Paths.get(a("out")), Json(record))
    spark.stop()
  }
}

/** A pre-rendered JSON value spliced into the record as is. */
final case class RawJson(json: String)
