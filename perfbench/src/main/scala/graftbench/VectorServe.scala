package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.api.{Engine, Search, TargetVector}
import graft.coder.CoderConfig
import graft.coder.PQ.PQConfig
import graft.index.Index
import graft.server.GraftServer

/** Shared pieces of the two vector workloads: the corpus, its set-up and
  * the in-process search calls. */
object Vectors {
  val K = 10
  val Probes = 16
  val Candidates = 200
  val Coding = "c"
  val Table = "vectors"
  val Column = "vector"
  val IdCol = "vec_id"
  val Coder = CoderConfig(metric = "l2", codebookSize = 8, numCodebooks = 2,
    batchSize = 2560, numEpochs = 5)
  val Pq = PQConfig(numSubspaces = 16, codebookSize = 256, metric = "l2")

  val schema = StructType(Seq(
    StructField(IdCol, LongType, nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField(Column, ArrayType(FloatType, containsNull = false), nullable = false)))

  /** Generated rows `[from, until)` as a DataFrame, built in parallel from
    * the seeded generator (one task per 1,000-row batch). */
  def frame(ctx: Ctx, from: Long, until: Long): DataFrame = {
    val seed = ctx.seed
    val batches = (from / Gen.BatchRows until until / Gen.BatchRows).toSeq
    val rdd = ctx.sc.parallelize(batches, math.max(1, math.min(batches.size, 64)))
      .flatMap { b =>
        Gen.vectorBatch(seed, b).iterator.zipWithIndex.map { case (v, i) =>
          val id = b * Gen.BatchRows + i
          Row(id, Gen.label(id), v.toSeq)
        }
      }
    ctx.spark.createDataFrame(rdd, schema)
  }

  /** Write generated rows to a staging parquet directory outside the
    * store; ingest then reads them like any user data. */
  def stage(ctx: Ctx, name: String, from: Long, until: Long): String = {
    val p = ctx.dir(name)
    frame(ctx, from, until).write.parquet(p)
    p
  }

  def queryFrame(ctx: Ctx, qs: Array[Array[Float]]): DataFrame =
    ctx.spark.createDataFrame(
      java.util.Arrays.asList(qs.indices.map(i => Row(i.toLong, qs(i).toSeq)): _*),
      StructType(Seq(StructField("qid", LongType, nullable = false),
        StructField("qvec", ArrayType(FloatType, containsNull = false), nullable = false))))

  /** Timed set-up steps, each a span of its layer: ingest, coder
    * training, then the requested index tiers. Returns step → seconds. */
  def setup(ctx: Ctx, engine: Engine, staging: String, tiers: Seq[String]): Map[String, Double] = {
    def step(layer: String, name: String)(f: => Unit): (String, Double) =
      name -> Util.timeS(Trace.span(ctx.sc, layer, name)(f))._2
    val steps = Seq(
      step("store", "ingest")(engine.makeTable(Table, ctx.spark.read.parquet(staging))),
      step("coder", "train")(engine.makeCoder(Coding, Table, Column, Coder))) ++
      tiers.map {
        case "ivf" => step("index", "build.ivf")(engine.syncIndex(Coding, Table, Column))
        case "pq" => step("index", "build.pq")(engine.makePqIndex(Coding, Table, Column, Pq))
        case "sq" => step("index", "build.sq")(engine.makeSqIndex(Coding, Table, Column))
        case "bq" => step("index", "build.bq")(engine.makeBqIndex(Coding, Table, Column))
      }
    steps.toMap
  }

  /** One probed in-process search on `tier`, collected. */
  def search(engine: Engine, tier: String, target: Array[Float]): Array[Row] = {
    val t: TargetVector = target
    val df = tier match {
      case "ivf" => engine.search(Table, Column, t, coding = Some(Coding),
        probes = Some(Probes), k = K, tieBreak = Seq(IdCol))
      case "sq" => engine.searchSq(Table, Column, t, Coding, Probes, Candidates,
        IdCol, K, tieBreak = Seq(IdCol))
    }
    df.select(IdCol, Search.DistCol).collect()
  }

  /** Largest data-file count of any cell directory of the IVF tier. */
  def filesPerCellMax(engine: Engine): Long =
    Option(new java.io.File(engine.store.indexPath(Table, Column, Coding)).listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith(Index.CodeCol))
      .map(d => d.listFiles().count(f => f.getName.endsWith(".parquet")).toLong)
      .foldLeft(0L)(math.max)

  /** Per-layer probes of the read path's building blocks, called directly
    * (so they are timed outside any engine call): the index frame load,
    * the table load, the source listing, and the coding's cell ranking. */
  def layerProbes(ctx: Ctx, engine: Engine, target: Array[Float], n: Int,
      res: Result): Unit = {
    val st = engine.store
    def ms(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    val load = (1 to n).map(_ => ms(Index.load(st, Coding, Table, Column)))
    val table = (1 to n).map(_ => ms(st.loadTable(Table)))
    val listing = (1 to n).map(_ => ms(st.sourceListing(Table)))
    val coding = st.loadCoding(Coding)
    val t = target.map(_.toDouble)
    val rank = (1 to n).map(_ => ms(coding.rankCells(t, Probes)) * 1000)
    res.layer("index.load_ms") = (Util.median(load), "ms")
    res.layer("store.load_table_ms") = (Util.median(table), "ms")
    res.layer("store.listing_ms") = (Util.median(listing), "ms")
    res.layer("coder.rank_cells_us") = (Util.median(rank), "us")
  }

  /** Recall@10 of returned ids against the scalar ground truth. */
  def recall(got: Seq[Long], truth: Array[Long]): Double =
    got.count(truth.contains).toDouble / truth.length
}

/** `vector_serve`: filtered top-k search over the reference-shape corpus,
  * served over HTTP by an in-process [[GraftServer]] (open-loop then
  * closed-loop), then the batch kNN joins of every tier. */
object VectorServe {
  import Vectors._

  val HttpTiers = Seq("ivf", "pq", "sq", "bq", "rerank")
  val JoinTiers = Seq("ivf", "sq", "bq", "pq", "rerank", "exact")
  val Clients = 4

  final case class Size(rows: Int, rate: Double, joinQueries: Int)

  def size(ctx: Ctx): Size =
    if (ctx.smoke) Size(rows = 4000, rate = 2.0, joinQueries = 16)
    else Size(rows = Rows, rate = OpenRate, joinQueries = 64)

  /** Corpus rows of a measured run: the reference's 256-d shape, 64 cells
    * and probes 16 at a tenth of its 100,000 rows, so that a run with
    * its set-up fits the benchmark's time budget. */
  val Rows = 10000
  /** Open-loop arrival rate, req/s: about a fifth of the closed-loop
    * capacity of the 4-client saturate phase on a 4-core host. At higher
    * rates requests overlap and compete for the 4 task slots, and the
    * queueing amplifies every slowdown of the host: at half the capacity
    * the median moved by up to 50 % between runs, at 30 % by 20 %. */
  val OpenRate = 1.5
  val ArrivalSeed = 20261017L
  /** Seconds of untimed closed-loop requests before the timed phases. */
  val WarmupS = 2.0

  /** One HTTP search: which tier, its target and optional label filter,
    * and what came back. */
  final class Op(val i: Int, val tier: String, val target: Array[Float],
      val label: Option[Int]) {
    @volatile var dueMs, sentMs, doneMs = 0.0
    @volatile var spanId = 0L
    @volatile var ok = false
    @volatile var ids: Seq[Long] = Nil
    @volatile var bytes = 0
  }

  def opsFor(seed: Long, stream: Long, n: Int, clusters: Long): Array[Op] = {
    val ts = Gen.targets(seed, stream, n, clusters)
    Array.tabulate(n) { i =>
      // every tier in turn; one request in five carries a label filter,
      // spread so that each tier gets filtered requests
      val filtered = (i / HttpTiers.size) % HttpTiers.size == i % HttpTiers.size
      new Op(i, HttpTiers(i % HttpTiers.size), ts(i),
        if (filtered) Some(i % Gen.Labels) else None)
    }
  }

  def body(op: Op): String = {
    val sb = new StringBuilder
    sb ++= s"""{"sources":["$Table"],"column":"$Column","coding":"$Coding","probes":$Probes,"k":$K,"tieBreak":["$IdCol"],"target":["""
    sb ++= op.target.mkString(",")
    sb ++= "]"
    op.label.foreach(l => sb ++= s""","filter":"label = $l"""")
    op.tier match {
      case "ivf" => ()
      case "pq" => sb ++= s""","candidates":$Candidates,"idCol":"$IdCol""""
      case "sq" => sb ++= s""","sq":true,"candidates":$Candidates,"idCol":"$IdCol""""
      case "bq" => sb ++= s""","bq":true,"candidates":$Candidates,"idCol":"$IdCol""""
      case "rerank" => sb ++= s""","rerank":true,"candidates":$Candidates,"idCol":"$IdCol""""
    }
    sb ++= "}"
    sb.result()
  }

  /** Links a server-side engine call to the client request that caused
    * it, by the request's target vector (every target is distinct). */
  final class Registry {
    private val m = new ConcurrentHashMap[Integer, (Long, Long)]()
    // the wire carries the float values in decimal; keyed on the floats,
    // both sides agree whatever double the server parsed them into
    private def key(t: Array[Float]) = Integer.valueOf(java.util.Arrays.hashCode(t))
    def put(t: Array[Float], span: Long): Unit = m.put(key(t), (span, span))
    def get(t: TargetVector): (Long, Long) =
      Option(m.get(key(t.doubles.map(_.toFloat)))).getOrElse((0L, 0L))
  }

  /** The engine the server runs over: each search verb the HTTP route
    * calls opens an `api` span on the handler thread, and leaves the
    * span's job group set so the handler's collect is charged to it. */
  final class TracedEngine(ctx: Ctx, root: String, reg: Registry)
      extends Engine(ctx.spark, root) {
    private def traced[A](tier: String, t: TargetVector)(f: => A): A =
      if (!Trace.enabled) f
      else {
        val (parent, op) = reg.get(t)
        Trace.span(ctx.sc, "api", s"build.$tier", parent, op, keepGroup = true)(f)
      }
    override def searchMulti(sources: Seq[String], column: String,
        target: TargetVector, metric: Option[String], coding: Option[String],
        probes: Option[Int], k: Int, filter: Option[Column],
        select: Option[Seq[String]], tieBreak: Seq[String]): DataFrame =
      traced("ivf", target)(super.searchMulti(sources, column, target, metric,
        coding, probes, k, filter, select, tieBreak))
    override def searchPqMulti(sources: Seq[String], column: String,
        target: TargetVector, coding: String, probes: Int, candidates: Int,
        idCol: String, k: Int, metric: Option[String], filter: Option[Column],
        select: Option[Seq[String]], tieBreak: Seq[String]): DataFrame =
      traced("pq", target)(super.searchPqMulti(sources, column, target, coding,
        probes, candidates, idCol, k, metric, filter, select, tieBreak))
    override def searchSqMulti(sources: Seq[String], column: String,
        target: TargetVector, coding: String, probes: Int, candidates: Int,
        idCol: String, k: Int, metric: Option[String], filter: Option[Column],
        select: Option[Seq[String]], tieBreak: Seq[String]): DataFrame =
      traced("sq", target)(super.searchSqMulti(sources, column, target, coding,
        probes, candidates, idCol, k, metric, filter, select, tieBreak))
    override def searchBqMulti(sources: Seq[String], column: String,
        target: TargetVector, coding: String, probes: Int, candidates: Int,
        idCol: String, k: Int, metric: Option[String], filter: Option[Column],
        select: Option[Seq[String]], tieBreak: Seq[String]): DataFrame =
      traced("bq", target)(super.searchBqMulti(sources, column, target, coding,
        probes, candidates, idCol, k, metric, filter, select, tieBreak))
    override def searchRerankMulti(sources: Seq[String], column: String,
        target: TargetVector, coding: String, candidates: Int, idCol: String,
        k: Int, probes: Option[Int], metric: Option[String],
        filter: Option[Column], select: Option[Seq[String]],
        tieBreak: Seq[String]): DataFrame =
      traced("rerank", target)(super.searchRerankMulti(sources, column, target,
        coding, candidates, idCol, k, probes, metric, filter, select, tieBreak))
  }

  final class Client(port: Int, reg: Registry, ctx: Ctx, res: Result) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()
    private val mapper = new ObjectMapper()
    private val uri = URI.create(s"http://127.0.0.1:$port/api/search")

    /** Send one search and check its response: status 200, k rows, rows
      * sorted by distance, and the label filter honoured. */
    def send(op: Op): Unit =
      try {
        // the span ends when the response is in: checking it is not the
        // server's time
        val resp = Trace.span(ctx.sc, "server", s"http.${op.tier}") {
          op.spanId = Trace.current
          if (Trace.enabled) reg.put(op.target, op.spanId)
          val req = HttpRequest.newBuilder(uri).timeout(java.time.Duration.ofSeconds(60))
            .header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(body(op))).build()
          op.sentMs = Trace.nowMs
          try http.send(req, HttpResponse.BodyHandlers.ofString())
          finally op.doneMs = Trace.nowMs
        }
        op.bytes = resp.body().length
        if (res.check(resp.statusCode() == 200,
            s"http ${op.tier} #${op.i}: status ${resp.statusCode()} ${resp.body().take(200)}")) {
          val rows = mapper.readTree(resp.body()).get("rows").elements().asScala.toSeq
          val dist = rows.map(_.get(Search.DistCol).asDouble())
          op.ids = rows.map(_.get(IdCol).asLong())
          val labelsOk = op.label.forall(l => rows.forall(_.get("label").asInt() == l))
          op.ok = res.check(rows.size == K, s"http ${op.tier} #${op.i}: ${rows.size} rows") &&
            res.check(dist.zip(dist.drop(1)).forall { case (a, b) => a <= b },
              s"http ${op.tier} #${op.i}: rows not sorted by distance") &&
            res.check(labelsOk, s"http ${op.tier} #${op.i}: filter not honoured")
        }
      } catch {
        case e: Exception => res.check(false, s"http ${op.tier} #${op.i}: $e")
      }
  }

  def run(ctx: Ctx): Result = {
    val res = new Result
    val sz = size(ctx)
    val clusters = sz.rows / Gen.BatchRows
    val staging = stage(ctx, "staging", 0, sz.rows)
    val corpus = Gen.vectors(ctx.seed, 0, sz.rows).toIndexedSeq

    // one set-up: ingest, training and four tier builds take most of the
    // run's time budget already
    val reg = new Registry
    val engine = new TracedEngine(ctx, ctx.dir("store"), reg)
    val steps = setup(ctx, engine, staging, Seq("ivf", "pq", "sq", "bq"))
    val setupS = steps.values.sum
    val server = new GraftServer(engine).start()
    val client = new Client(server.boundPort, reg, ctx, res)
    try {
      // warm-up, not timed: the closed loop for a few seconds, so the
      // timed phases do not pay the first requests' class loading and JIT
      saturate(ctx, client, clusters, WarmupS, stream = 90)
      res.failures.clear() // the measured ops repeat any warm-up failure
      val phaseS = ctx.seconds
      val openOps = openLoop(ctx, client, sz, clusters, phaseS / 2)
      val satOps = saturate(ctx, client, clusters, phaseS / 2, stream = 2)
      // the batch phase is a fixed amount of work: one rotation over the
      // join tiers with a few queries, untimed, so every join plan is
      // compiled, then one timed rotation
      batch(ctx, engine, clusters, 4, 2000L, new Result)
      val joins = batch(ctx, engine, clusters, sz.joinQueries, 1000L, res)
      val httpOps = openOps ++ satOps._1
      val failedHttp = httpOps.count(!_.ok)

      // ground truth for every HTTP op, after the timed phases
      val truth = Util.parMap(httpOps.toSeq, 4) { op =>
        Util.topK(corpus, op.target, K, id => op.label.forall(_ == Gen.label(id)))
      }
      val recalls = httpOps.toSeq.zip(truth).filter(_._1.ok).map { case (op, t) => op.tier -> recall(op.ids, t) }
      // every query of every join against the scalar top-10: the exact join
      // must equal it, the others give their recall
      val joinRecalls = Util.parMap(joins.filter(_.ok).flatMap(c =>
          c.queries.indices.map(q => (c, q))), 4) { case (c, q) =>
        val t = Util.topK(corpus, c.queries(q), K)
        (c, recall(c.answers(q.toLong).toSeq, t), c.answers(q.toLong) sameElements t)
      }
      val inexact = joinRecalls.count { case (c, _, same) => c.tier == "exact" && !same }
      val exactOk = res.check(inexact == 0, s"exact join: $inexact queries differ from the scalar top-$K")
      val joinRecall = joinRecalls.filter(_._1.tier != "exact").map(x => x._1.tier -> x._2)
      val joinS = joins.map(_.s).sum
      val latOpen = openOps.filter(_.ok).map(o => o.doneMs - o.dueMs).toSeq
      val latSat = satOps._1.filter(_.ok).map(o => o.doneMs - o.sentMs).toSeq
      val late = openOps.map(o => o.sentMs - o.dueMs)
      val userBytes = sz.rows.toDouble * Gen.Dim * 4

      res.attempted = httpOps.length + joins.length
      res.failed = failedHttp + joins.count(c => !c.ok || (c.tier == "exact" && !exactOk))
      res.e2e("setup_s") = (setupS, "s")
      // the closed loop's latency, not the open loop's: on a shared 4-core
      // host the open-loop median moved by 20-28 % between runs of one
      // build, the closed loop's by about 6 %
      res.e2e("latency_p50_ms") = (Util.median(latSat), "ms")
      res.e2e("ops_per_s") = (satOps._2, "1/s")
      res.e2e("items_per_s") = (joins.length * sz.joinQueries / joinS, "1/s")
      // recall@10 over the HTTP searches and the approximate joins' queries
      res.e2e("result_quality") = (Util.mean((recalls ++ joinRecall).map(_._2)), "ratio")
      res.e2e("disk_bytes_per_user_byte") = (Util.bytesUnder(engine.root) / userBytes, "ratio")

      res.detail("rows") = sz.rows
      res.detail("open_rate_per_s") = sz.rate
      res.detail("open_samples") = latOpen.size
      res.detail("search_p50_ms") = Util.median(latOpen)
      res.detail("search_p95_ms") = Util.quantile(latOpen, 0.95)
      res.detail("search_qps") = satOps._2
      res.detail("saturate_p50_ms") = Util.median(latSat)
      res.detail("knn_queries_per_s") = joins.length * sz.joinQueries / joinS
      res.detail("recall_at_10") = Util.mean((recalls ++ joinRecall).map(_._2))
      res.detail("recall_at_10_by_tier") = (recalls ++ joinRecall).groupBy(_._1)
        .map { case (t, xs) => t -> Util.mean(xs.map(_._2)) }
      res.detail("open_ops") = openOps.map(o => Seq(o.tier, o.dueMs - openOps.head.dueMs,
        o.sentMs - o.dueMs, o.doneMs - o.dueMs))
      res.detail("join_calls") = joins.map(c => Map("tier" -> c.tier, "s" -> c.s, "ok" -> c.ok))
      res.detail("setup_steps_s") = steps

      if (ctx.traced) {
        res.overheadProbe = Some(() => search(engine, "ivf", openOps.head.target))
        val all = Trace.allSpans(ctx.sc)
        val self = Trace.selfTimes(all)
        val byId = all.map(s => s.id -> s).toMap
        val httpSpans = httpOps.toSeq.flatMap(o => byId.get(o.spanId))
        val apiSpans = all.filter(_.layer == "api")
        val opIds = httpSpans.map(_.opId).toSet
        val sp = Trace.sparkOf(opIds)
        val n = math.max(1, httpSpans.size).toDouble
        res.layer("server.self_ms_p50") = (Util.median(httpSpans.map(s => self(s.id))), "ms")
        res.layer("server.response_kb") = (Util.median(httpOps.map(_.bytes / 1024.0).toSeq), "KB")
        HttpTiers.foreach { t =>
          res.layer(s"api.build_ms.$t") = (Util.median(apiSpans.filter(_.name == s"build.$t").map(_.durMs)), "ms")
          res.layer(s"index.recall_at_10.$t") = (Util.mean((recalls ++ joinRecall).filter(_._1 == t).map(_._2)), "ratio")
        }
        sparkLayer(res, sp, n)
        res.layer("index.rows_scanned_per_query") = (sp.recordsRead / n, "rows")
        res.layer("index.rerank_useful_frac") = (K.toDouble / Candidates, "ratio")
        JoinTiers.foreach { t =>
          res.layer(s"index.join_s.$t") = (Util.median(joins.filter(_.tier == t).map(_.s)), "s")
        }
        val exactSpans = all.filter(s => s.layer == "index" && s.name == "join.exact").map(_.opId).toSet
        val exactCpuS = Trace.sparkOf(exactSpans).cpuMs / 1000
        val exactCalls = joins.count(_.tier == "exact")
        res.layer("functions.distance_rows_per_cpu_s") =
          (exactCalls.toDouble * sz.rows * sz.joinQueries / math.max(exactCpuS, 1e-9), "rows/s")
        res.layer("coder.train_s") = (steps("train"), "s")
        Seq("ivf", "pq", "sq", "bq").foreach(t => res.layer(s"index.build_s.$t") = (steps(s"build.$t"), "s"))
        res.layer("loadgen.late_p95_ms") = (Util.quantile(late.toSeq, 0.95), "ms")
        res.layer("loadgen.sent") = (openOps.length.toDouble, "count")
        layerProbes(ctx, engine, openOps.head.target, 20, res)
        res.detail("spans") = all
        res.detail("self_ms") = self
      }
      res
    } finally {
      server.stop()
    }
  }

  /** Spark counters per operation, named as BENCHMARK.json lists them. */
  def sparkLayer(res: Result, sp: SparkTotals, n: Double): Unit = {
    res.layer("spark.jobs_per_op") = (sp.jobs / n, "count")
    res.layer("spark.stages_per_op") = (sp.stages / n, "count")
    res.layer("spark.tasks_per_op") = (sp.tasks / n, "count")
    res.layer("spark.plan_ms_per_op") = (sp.planMs / n, "ms")
    res.layer("spark.exec_ms_per_op") = (sp.execMs / n, "ms")
    res.layer("spark.executor_cpu_ms_per_op") = (sp.cpuMs / n, "ms")
    res.layer("spark.shuffle_bytes_per_op") = (sp.shuffleBytes / n, "bytes")
    res.layer("spark.spill_bytes") = (sp.spillBytes.toDouble, "bytes")
    res.layer("spark.gc_ms") = (sp.gcMs.toDouble, "ms")
  }

  /** Poisson arrivals at the fixed rate for `seconds`; each request is
    * timed from when it was due, and sent on one of 4 connections. The
    * arrival trace is the same in every run: how often requests overlap
    * moves the latency a lot at this sample count, and a per-seed trace
    * would make that the largest source of run-to-run spread. The
    * requests' targets and filters come from the run's seed. */
  def openLoop(ctx: Ctx, client: Client, sz: Size, clusters: Long, seconds: Double): Array[Op] = {
    val r = new java.util.SplittableRandom(ArrivalSeed)
    val gaps = Iterator.continually(-math.log(1 - r.nextDouble()) / sz.rate)
    val dues = gaps.scanLeft(0.0)(_ + _).drop(1).takeWhile(_ < seconds).toArray
    val ops = opsFor(ctx.seed, 1, dues.length, clusters)
    val queue = new LinkedBlockingQueue[Op]()
    val senders = (1 to Clients).map { _ =>
      val t = new Thread(() => {
        var op = queue.take()
        while (op.i >= 0) { client.send(op); op = queue.take() }
      })
      t.setDaemon(true); t.start(); t
    }
    val t0 = Trace.nowMs
    ops.zip(dues).foreach { case (op, d) =>
      op.dueMs = t0 + d * 1000
      val wait = op.dueMs - Trace.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      queue.put(op)
    }
    senders.foreach(_ => queue.put(new Op(-1, "", Array.emptyFloatArray, None)))
    senders.foreach(_.join(120000L))
    ops
  }

  /** Closed loop: 4 clients, each sending its next request when the
    * previous one returns, for `seconds`. Returns the ops and req/s. */
  def saturate(ctx: Ctx, client: Client, clusters: Long, seconds: Double,
      stream: Long): (Array[Op], Double) = {
    val pool = opsFor(ctx.seed, stream, 2000, clusters)
    val next = new AtomicInteger()
    val done = new ConcurrentLinkedQueue[Op]()
    val t0 = Trace.nowMs
    val stopAt = t0 + seconds * 1000
    val threads = (1 to Clients).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (Trace.nowMs < stopAt && i < pool.length) {
          client.send(pool(i)); done.add(pool(i)); i = next.getAndIncrement()
        }
      })
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join(120000L))
    val ops = done.asScala.toArray.sortBy(_.i)
    val end = ops.map(_.doneMs).foldLeft(t0)(math.max)
    (ops, ops.count(_.ok) / ((end - t0) / 1000))
  }

  /** One batch kNN-join call: its tier, queries, seconds and answers
    * (query → ids by distance), and whether every query got k rows. */
  final case class JoinCall(tier: String, queries: Array[Array[Float]], s: Double,
      answers: Map[Long, Array[Long]], ok: Boolean)

  /** One caller making one rotation over the batch kNN joins of every
    * tier plus the exact join, `queries` fresh queries per call. Every
    * call must answer every query with k rows. */
  def batch(ctx: Ctx, engine: Engine, clusters: Long, queries: Int, stream: Long,
      res: Result): Seq[JoinCall] =
    JoinTiers.zipWithIndex.map { case (tier, i) =>
      val qs = Gen.targets(ctx.seed, stream + i, queries, clusters)
      val qdf = queryFrame(ctx, qs)
      val (rows, s) = Util.timeS(Trace.span(ctx.sc, "index", s"join.$tier") {
        val df = Trace.span(ctx.sc, "api", s"join.build.$tier")(tier match {
          case "ivf" => engine.knnJoinIvf(Coding, Table, Column, qdf, "qid", "qvec", K, Probes, IdCol, tieBreak = Seq(IdCol))
          case "sq" => engine.knnJoinSq(Coding, Table, Column, qdf, "qid", "qvec", K, Probes, Candidates, IdCol, tieBreak = Seq(IdCol))
          case "bq" => engine.knnJoinBq(Coding, Table, Column, qdf, "qid", "qvec", K, Probes, Candidates, IdCol, tieBreak = Seq(IdCol))
          case "pq" => engine.knnJoinPq(Coding, Table, Column, qdf, "qid", "qvec", K, Probes, Candidates, IdCol, tieBreak = Seq(IdCol))
          case "rerank" => engine.knnJoinRerank(Coding, Table, Column, qdf, "qid", "qvec", K, Probes, Candidates, IdCol, tieBreak = Seq(IdCol))
          case "exact" => Search.knnJoin(engine.store.loadTable(Table), Column, qdf, "qid", "qvec", "l2", K,
            tieBreak = Seq(IdCol), idCol = Some(IdCol))
        })
        df.select(col("qid"), col(IdCol), col(Search.DistCol)).collect()
      })
      val byQ = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(r => (r.getDouble(2), r.getLong(1))).map(_.getLong(1)) }
      val ok = res.check(byQ.size == qs.length && byQ.values.forall(_.length == K),
        s"join $tier #$i: ${byQ.size} queries answered, sizes ${byQ.values.map(_.length).toSet}")
      JoinCall(tier, qs, s, byQ, ok)
    }
}
