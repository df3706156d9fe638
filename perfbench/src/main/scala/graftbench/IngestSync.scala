package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode

import graft.api.Engine
import graft.index.Index

/** `ingest_sync`: writes beside reads. A writer appends 1,000-row batches
  * to the stored table and syncs the IVF and SQ tiers after each one
  * (compacting both every 10 batches); a reader searches both tiers in a
  * closed loop meanwhile. */
object IngestSync {
  import Vectors._

  val Tiers = Seq("ivf", "sq")
  val CompactEvery = 10

  final case class Size(rows: Int, setups: Int, maxBatches: Int)

  /** Corpus rows before the first append, in a measured run. */
  val Rows = 10000
  val Setups = 2

  def size(ctx: Ctx): Size =
    if (ctx.smoke) Size(rows = 4000, setups = 1, maxBatches = 40)
    else Size(rows = Rows, setups = Setups, maxBatches = 60)

  /** One reader search: tier, target, the number of synced batches
    * before it started and after it ended, and its result. */
  final case class Read(i: Int, tier: String, target: Array[Float],
      syncedBefore: Int, syncedAfter: Int, ms: Double, ids: Seq[Long], ok: Boolean,
      spanId: Long)

  final case class Append(batch: Int, appendMs: Double, syncS: Map[String, Double],
      lagS: Double, compactS: Option[Double], ok: Boolean)

  def run(ctx: Ctx): Result = {
    val res = new Result
    val sz = size(ctx)
    val base = sz.rows / Gen.BatchRows
    val staging = stage(ctx, "staging", 0, sz.rows)

    var engine: Engine = null
    val setups = (1 to sz.setups).map { i =>
      if (engine != null) engine.remove()
      engine = new Engine(ctx.spark, ctx.dir(s"store$i"))
      val steps = setup(ctx, engine, staging, Tiers)
      (steps, steps.values.sum)
    }
    val store = engine.store
    val tablePath = store.tablePath(Table)

    // warm-up reads, not timed
    Gen.targets(ctx.seed, 90, 4, base).zipWithIndex.foreach { case (t, i) =>
      search(engine, Tiers(i % 2), t) }

    // compactCells swaps cell directories under a live table, and a read
    // that lists a cell before the swap and opens its files after it fails
    // (FILE_NOT_EXIST); the reader therefore pauses while a compaction
    // runs, and the read is timed once it may start
    val readers = new java.util.concurrent.locks.ReentrantReadWriteLock()
    val synced = new AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new ConcurrentLinkedQueue[Read]()
    val appends = ArrayBuffer[Append]()
    val targets = Gen.targets(ctx.seed, 1, 20000, base)

    val reader = new Thread(() => {
      var i = 0
      while (!stop.get() && i < targets.length) {
        val tier = Tiers(i % 2)
        val before = synced.get()
        val t0 = System.nanoTime()
        var spanId = 0L
        val (ids, ok) =
          try {
            readers.readLock().lockInterruptibly()
            val rows = try Trace.span(ctx.sc, "api", s"search.$tier") {
              spanId = Trace.current
              search(engine, tier, targets(i))
            } finally readers.readLock().unlock()
            val d = rows.map(_.getDouble(1))
            (rows.map(_.getLong(0)).toSeq,
              res.check(rows.length == K, s"read $tier #$i: ${rows.length} rows") &&
                res.check(d.zip(d.drop(1)).forall { case (a, b) => a <= b },
                  s"read $tier #$i: rows not sorted by distance"))
          } catch { case e: Exception => res.check(false, s"read $tier #$i: $e"); (Nil, false) }
        reads.add(Read(i, tier, targets(i), before, synced.get(),
          (System.nanoTime() - t0) / 1e6, ids, ok, spanId))
        i += 1
      }
    })

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    reader.setDaemon(true)
    reader.start()
    var b = 0
    var finalCompactS: Option[Double] = None
    while (b < sz.maxBatches && (elapsed < ctx.seconds || b == 0)) {
      appends += appendOne(ctx, engine, tablePath, b, base, res, readers)
      synced.set(b + 1)
      b += 1
    }
    // a run appends fewer than CompactEvery batches on a small host, so the
    // writer also compacts once at its end: every run measures a compaction
    if (b % CompactEvery != 0) finalCompactS = Some(exclusive(readers)(compact(ctx, engine)))
    val writerS = elapsed
    stop.set(true)
    reader.join(120000L)
    val readsAll = reads.asScala.toSeq.sortBy(_.i)
    val corpus = Gen.vectors(ctx.seed, 0, (base + appends.size).toLong * Gen.BatchRows)
      .toIndexedSeq

    // recall against the scalar top-10 over the rows synced when the read
    // started, or when it ended if rows synced meanwhile scored better
    val truth = Util.parMap(readsAll.filter(_.ok), 4) { r =>
      val lo = Util.topK(corpus.take((base + r.syncedBefore) * Gen.BatchRows), r.target, K)
      val hi =
        if (r.syncedAfter == r.syncedBefore) lo
        else Util.topK(corpus.take((base + r.syncedAfter) * Gen.BatchRows), r.target, K)
      r.tier -> math.max(recall(r.ids, lo), recall(r.ids, hi))
    }
    val lat = readsAll.filter(_.ok).map(_.ms)
    val rowsIn = appends.size.toDouble * Gen.BatchRows
    val userBytes = (sz.rows + rowsIn) * Gen.Dim * 4

    res.attempted = readsAll.size + appends.size
    res.failed = readsAll.count(!_.ok) + appends.count(!_.ok)
    res.e2e("setup_s") = (Util.median(setups.map(_._2)), "s")
    res.e2e("latency_p50_ms") = (Util.median(lat), "ms")
    res.e2e("ops_per_s") = (lat.size / writerS, "1/s")
    // the writer's rate: rows over the time from each append's start until
    // every tier has synced it
    res.e2e("items_per_s") = (rowsIn / appends.map(_.lagS).sum, "1/s")
    res.e2e("result_quality") = (Util.mean(truth.map(_._2)), "ratio")
    res.e2e("disk_bytes_per_user_byte") = (Util.bytesUnder(engine.root) / userBytes, "ratio")

    val lags = appends.map(_.lagS).toSeq
    res.detail("rows_before") = sz.rows
    res.detail("batches_appended") = appends.size
    res.detail("search_p50_ms") = Util.median(lat)
    res.detail("search_p95_ms") = Util.quantile(lat, 0.95)
    res.detail("reads") = lat.size
    res.detail("recall_at_10") = Util.mean(truth.map(_._2))
    res.detail("sync_lag_p50_s") = Util.median(lags)
    res.detail("ingest_rows_per_s") = rowsIn / appends.map(_.lagS).sum
    res.detail("disk_bytes_per_user_byte") = Util.bytesUnder(engine.root) / userBytes
    // read latency by fragmentation: reads between compactions, bucketed
    // by batches synced since the last compaction
    res.detail("search_p50_ms_by_batches_since_compact") = readsAll.filter(_.ok)
      .groupBy(_.syncedBefore % CompactEvery).toSeq.sortBy(_._1)
      .map { case (k, rs) => k.toString -> Util.median(rs.map(_.ms)) }.toMap
    res.detail("final_compact_s") = finalCompactS
    res.detail("appends") = appends.map(a => Map("batch" -> a.batch, "append_ms" -> a.appendMs,
      "sync_s" -> a.syncS, "lag_s" -> a.lagS, "compact_s" -> a.compactS, "ok" -> a.ok))

    if (ctx.traced) {
      res.overheadProbe = Some(() => search(engine, "ivf", targets(0)))
      val all = Trace.allSpans(ctx.sc)
      val readOps = readsAll.map(_.spanId).toSet
      val sp = Trace.sparkOf(readOps)
      VectorServe.sparkLayer(res, sp, math.max(1, readOps.size).toDouble)
      res.layer("index.rows_scanned_per_query") = (sp.recordsRead / math.max(1.0, readOps.size), "rows")
      Tiers.foreach { t =>
        res.layer(s"index.sync_s.$t") = (Util.median(appends.flatMap(_.syncS.get(t)).toSeq), "s")
        res.layer(s"index.recall_at_10.$t") = (Util.mean(truth.filter(_._1 == t).map(_._2)), "ratio")
      }
      res.layer("store.append_ms") = (Util.median(appends.map(_.appendMs).toSeq), "ms")
      res.layer("index.compact_s") = (Util.median(appends.flatMap(_.compactS).toSeq ++ finalCompactS), "s")
      res.layer("index.files_per_cell_max") = (filesPerCellMax(engine).toDouble, "count")
      res.layer("index.sync_lag_p50_s") = (Util.median(lags), "s")
      res.layer("coder.train_s") = (Util.median(setups.map(_._1("train"))), "s")
      Tiers.foreach { t =>
        res.layer(s"index.build_s.$t") = (Util.median(setups.map(_._1(s"build.$t"))), "s")
      }
      layerProbes(ctx, engine, targets(0), 20, res)
      res.detail("spans") = all
      res.detail("self_ms") = Trace.selfTimes(all)
    }
    res
  }

  def exclusive[A](lock: java.util.concurrent.locks.ReadWriteLock)(f: => A): A = {
    lock.writeLock().lock()
    try f finally lock.writeLock().unlock()
  }

  /** Compact every cell of both tiers that holds more than one file;
    * returns seconds. */
  def compact(ctx: Ctx, engine: Engine): Double =
    Util.timeS(Trace.span(ctx.sc, "index", "compact") {
      Tiers.foreach(t => Index.compactCells(engine.store, Coding, Table, Column,
        maxFilesPerCell = 1, tier = t))
    })._2

  /** Append one batch as parquet into the table's directory (the data
    * plane append a stream sink makes), sync both tiers, compact every
    * `CompactEvery` batches, then check that the batch's first row finds
    * itself at rank 1 on both tiers. */
  def appendOne(ctx: Ctx, engine: Engine, tablePath: String, b: Int, base: Int,
      res: Result, readers: java.util.concurrent.locks.ReadWriteLock): Append = {
    val store = engine.store
    val id = (base + b).toLong * Gen.BatchRows
    val t0 = System.nanoTime()
    val (_, appendS) = Util.timeS(Trace.span(ctx.sc, "store", "append") {
      frame(ctx, id, id + Gen.BatchRows).write.mode(SaveMode.Append).parquet(tablePath)
    })
    val syncS = Map(
      "ivf" -> Util.timeS(Trace.span(ctx.sc, "index", "sync.ivf")(
        Index.syncIncremental(store, Coding, Table, Column, IdCol)))._2,
      "sq" -> Util.timeS(Trace.span(ctx.sc, "index", "sync.sq")(
        Index.syncIncrementalSq(store, Coding, Table, Column, IdCol)))._2)
    val lagS = (System.nanoTime() - t0) / 1e9
    val compactS =
      if ((b + 1) % CompactEvery != 0) None
      else Some(exclusive(readers)(compact(ctx, engine)))
    val own = Gen.vectorBatch(ctx.seed, base + b)(0)
    val ok = Tiers.forall { t =>
      val got = Trace.span(ctx.sc, "api", s"check.$t")(search(engine, t, own))
      res.check(got.headOption.exists(_.getLong(0) == id),
        s"append $b: row $id not at rank 1 on $t (got ${got.headOption.map(_.getLong(0))})")
    }
    Append(b, appendS * 1000, syncS, lagS, compactS, ok)
  }
}
