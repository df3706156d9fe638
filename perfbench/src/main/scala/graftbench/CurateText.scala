package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.api.Engine

/** `curate_text`: [[Engine.curateTable]] with the default
  * `Curate.Config` over a generated English-like corpus with injected
  * exact duplicates, near-duplicates and benchmark contamination. No
  * server and no vector index: the `ext` half of the engine. */
object CurateText {
  /** Docs of a measured run. */
  val Docs = 15000
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Timed curation calls per run, at least; their median is reported. */
  val MinCalls = 2

  def run(ctx: Ctx): Result = {
    val res = new Result
    val numDocs = if (ctx.smoke) 3000 else Docs
    val setupsN = if (ctx.smoke) 1 else Setups
    val minCalls = if (ctx.smoke) 1 else MinCalls
    val corpus = Gen.textCorpus(ctx.seed, numDocs)
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    def staged(name: String, rows: Array[(Long, String)]): String = {
      val p = ctx.dir(name)
      val rdd = ctx.sc.parallelize(rows.toSeq, 16).map { case (i, t) => Row(i, t) }
      ctx.spark.createDataFrame(rdd, schema).write.parquet(p)
      p
    }
    val docsDir = staged("staging/docs", corpus.docs)
    val benchDir = staged("staging/bench", corpus.bench)

    var engine: Engine = null
    val setups = (1 to setupsN).map { i =>
      if (engine != null) engine.remove()
      engine = new Engine(ctx.spark, ctx.dir(s"store$i"))
      Util.timeS(Trace.span(ctx.sc, "store", "ingest") {
        engine.makeTable("docs", ctx.spark.read.parquet(docsDir))
        engine.makeTable("bench", ctx.spark.read.parquet(benchDir))
      })._2
    }

    // warm-up, not timed: a first curation of the whole corpus runs about
    // 40 % slower than the next ones (class loading, code generation, JIT)
    engine.curateTable("docs", "warm_out", "bench", "id", "text", "id", "text")
    engine.dropTable("warm_out")
    val mustDrop = (corpus.exactDupIds ++ corpus.contaminatedIds).toSet
    val calls = scala.collection.mutable.ArrayBuffer[(Double, Long, Boolean)]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    var accuracy = Double.NaN
    while (i < minCalls || elapsed < ctx.seconds) {
      val (kept, s) = Util.timeS(Trace.span(ctx.sc, "ext", "curate") {
        engine.curateTable("docs", s"curated$i", "bench", "id", "text", "id", "text")
      })
      val survivors = engine.store.loadTable(s"curated$i").select("id").collect().map(_.getLong(0)).toSet
      val leaked = mustDrop.count(survivors.contains)
      val ok = res.check(survivors.size == kept, s"curate #$i: count $kept but ${survivors.size} rows stored") &&
        res.check(leaked == 0, s"curate #$i: $leaked injected duplicate/contaminated docs survived") &&
        res.check(calls.forall(_._2 == kept), s"curate #$i: kept $kept, earlier calls kept ${calls.map(_._2).distinct}")
      if (i == 0) {
        val injected = corpus.exactDupIds ++ corpus.nearDupIds ++ corpus.contaminatedIds
        val injectedKept = injected.count(survivors.contains)
        accuracy = (kept - injectedKept + injected.length - injectedKept).toDouble / numDocs
      }
      calls += ((s, kept, ok))
      engine.dropTable(s"curated$i")
      i += 1
    }
    val times = calls.map(_._1).toSeq
    val kept = calls.head._2
    val dropped = numDocs - kept

    res.attempted = calls.size
    res.failed = calls.count(!_._3)
    res.e2e("setup_s") = (Util.median(setups), "s")
    res.e2e("latency_p50_ms") = (Util.median(times) * 1000, "ms")
    res.e2e("ops_per_s") = (calls.size / times.sum, "1/s")
    res.e2e("items_per_s") = (numDocs / Util.median(times), "1/s")
    // accuracy of the curation over the labelled corpus: clean docs kept
    // plus injected docs dropped, over all docs
    res.e2e("result_quality") = (accuracy, "ratio")
    val userBytes = corpus.docs.map(_._2.length.toLong).sum + corpus.bench.map(_._2.length.toLong).sum
    res.e2e("disk_bytes_per_user_byte") = (Util.bytesUnder(engine.root).toDouble / userBytes, "ratio")

    res.detail("docs") = numDocs
    res.detail("curate_docs_per_s") = numDocs / Util.median(times)
    res.detail("curate_calls_s") = times
    res.detail("kept") = kept
    res.detail("dropped") = dropped
    res.detail("injected") = Map("exact_dup" -> corpus.exactDupIds.length,
      "near_dup" -> corpus.nearDupIds.length, "contaminated" -> corpus.contaminatedIds.length)

    if (ctx.traced) {
      engine.makeTable("probe", ctx.spark.read.parquet(docsDir).limit(1000))
      res.overheadProbe = Some(() =>
        engine.curateTable("probe", "probe_out", "bench", "id", "text", "id", "text"))
      res.overheadRounds = 2
      val all = Trace.allSpans(ctx.sc)
      val ops = all.filter(s => s.layer == "ext" && s.name == "curate").map(_.opId).toSet
      VectorServe.sparkLayer(res, Trace.sparkOf(ops), math.max(1, ops.size).toDouble)
      res.layer("ext.curate_s") = (Util.median(times), "s")
      res.layer("ext.dropped_docs") = (dropped.toDouble, "count")
      res.detail("spans") = all
      res.detail("self_ms") = Trace.selfTimes(all)
    }
    res
  }
}
